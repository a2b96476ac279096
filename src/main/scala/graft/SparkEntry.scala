package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Granularity
import graft.operators.{Dedup, Derive, Downsample, FreqRollup, Graphs, HistRollup, Percentiles, Retrieval, Similarity, TextStats}

/** Driver contract (SURVEY §7): one `queries` entry per implemented
  * operator, each with a DuckDB-equivalent `oracleSql` on the same parquet
  * tables. Column names and row order are pinned identically on both sides.
  *
  * Oracle-exactness notes:
  *  - `events.ts` carries microsecond fractions; the engine's append path
  *    floors to the stream's highest granularity (seconds), so every
  *    stream-shaped query floors ts on BOTH sides
  *    (`floor(epoch(ts))` in DuckDB = `unix_timestamp` in Spark).
  *  - DuckDB `sum(BIGINT)` is HUGEINT and `len(...)` is BIGINT — both sides
  *    are cast so output schemas agree.
  *  - std_dev uses the reference's naive `sqrt(q/c − m²)` formula in both
  *    engines (never Spark's Welford `stddev_pop`).
  */
object SparkEntry {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events.parquet's ts encoding has varied across driver testdata
    * generations: INT64 TIMESTAMP(NANOS) (which Spark 4 refuses to read
    * natively) and plain TIMESTAMP(MICROS, isAdjustedToUTC=false). Sniff
    * the footer via schema inference: a timestamp-typed ts reads natively
    * (NTZ cast to LTZ under the UTC session TZ, matching DuckDB's
    * naive-as-UTC epoch()); anything else takes the pinned long-read
    * nanos path. Output schema is identical either way.
    */
  // per-path sniff cache: 100+ gate queries read the same file, no need
  // to re-infer the footer each time (testdata is read-only)
  private val eventsTsType =
    new java.util.concurrent.ConcurrentHashMap[String,
      Option[org.apache.spark.sql.types.DataType]]()

  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = s"$dir/events.parquet"
    val inferredTs = eventsTsType.computeIfAbsent(path, p =>
      try Some(s.read.parquet(p).schema("ts").dataType)
      catch { case scala.util.control.NonFatal(_) => None })
    inferredTs match {
      case Some(TimestampType) | Some(TimestampNTZType) =>
        s.read.parquet(path).select(
          col("event_id").cast(LongType),
          col("ts").cast(TimestampType).as("ts"),
          col("user_id").cast(LongType),
          col("event_type").cast(StringType),
          col("value").cast(DoubleType),
          col("props").cast(StringType))
      case _ =>
        s.read.schema(StructType(Seq(
            StructField("event_id", LongType), StructField("ts", LongType),
            StructField("user_id", LongType), StructField("event_type", StringType),
            StructField("value", DoubleType), StructField("props", StringType))))
          .parquet(path)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    }
  }

  /** The dedup fixtures' injected near-duplicates (FIXTURES §2): each doc
    * with id < firstN gains a variant at id + 1000000 whose first two
    * words are replaced by "zz yy". ONE definition — this recipe is
    * load-bearing for oracle parity (the DuckDB side mirrors it as
    * `string_split(text, ' ')[3:]`) and for the LSH-recall pinning spec,
    * so per-query copies must not drift. Non-(doc_id, text) columns pass
    * through unchanged.
    */
  private[graft] def withInjectedVariants(docs: DataFrame,
      firstN: Long = 20): DataFrame =
    docs.unionByName(docs.where(col("doc_id") < firstN)
      .withColumn("doc_id", col("doc_id") + 1000000)
      .withColumn("text", concat(lit("zz yy "),
        expr("concat_ws(' ', slice(split(text, ' '), 3, 1000000))"))))

  /** The embedding gate corpora's injected near-dup recipe (shared by
    * emb_near_pairs / dedup_embedding AND the OperatorsSpec recall
    * cross-check, so the pinned recall can't diverge from production):
    * vec_id+100000 with emb[0] shifted +0.05 — cosine >= 0.9987 to the
    * original on the unit-norm gate vectors. Input: (vec_id, emb).
    */
  private[graft] def withInjectedEmbVariants(e: DataFrame): DataFrame =
    e.unionByName(e.where(col("vec_id") < 20).select(
      (col("vec_id") + 100000).as("vec_id"),
      concat(array(element_at(col("emb"), 1) + 0.05),
        expr("slice(emb, 2, 63)")).as("emb")))

  /** The dedup_incremental gate query's ingest-batch recipe (shared with
    * the OperatorsSpec recall cross-check so the pinned recall can't
    * diverge from production): 20 injected near-dup variants of the first
    * docs + 20 reversed-text (unique) docs.
    */
  private[graft] def incrementalGateBatch(docs: DataFrame): DataFrame =
    docs.where(col("doc_id") < 20)
      .withColumn("doc_id", col("doc_id") + 1000000)
      .withColumn("text", concat(lit("zz yy "),
        expr("concat_ws(' ', slice(split(text, ' '), 3, 1000000))")))
      .unionByName(docs.where(col("doc_id") >= 480 && col("doc_id") < 500)
        .withColumn("doc_id", col("doc_id") + 2000000)
        .withColumn("text", reverse(col("text"))))

  /** events reshaped into the reference's stream model: one stream per
    * (user_id, event_type), ts floored to seconds (highest_granularity).
    */
  private def eventStreams(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(
      concat_ws(":", col("user_id"), col("event_type")).as("stream_id"),
      timestamp_seconds(unix_timestamp(col("ts"))).as("t"),
      col("value").as("v"))

  /** Deterministic per-(stream, second) points: same-second values summed
    * so lag-based derive ops have a total order (ties would otherwise make
    * lag() nondeterministic in both engines).
    */
  private def pointStreams(s: SparkSession, dir: String): DataFrame =
    eventStreams(s, dir).groupBy("stream_id", "t").agg(sum("v").as("v"))

  /** MemoryStream replay harness for the point-stream gate twins: feeds
    * [[pointStreams]] rows in GLOBAL (t, stream_id) order cut into
    * `nBatches` micro-batches (the ordered-replay rule — open-bucket
    * state assumes per-key in-order delivery), runs `op` on the live
    * Dataset, and returns the memory-sink table of everything emitted.
    */
  private def replayPointStream(s: SparkSession, dir: String,
      nBatches: Int)(
      op: org.apache.spark.sql.Dataset[graft.streaming.Streaming.Point] =>
        org.apache.spark.sql.Dataset[_]): DataFrame =
    replayStream(s, pointStreams(s, dir), nBatches)(op)

  /** Like [[replayPointStream]] but over any (stream_id, t, v) frame —
    * the counter-stream twins replay the same derived counter the batch
    * gates read.
    */
  private def replayStream(s: SparkSession, input: DataFrame,
      nBatches: Int)(
      op: org.apache.spark.sql.Dataset[graft.streaming.Streaming.Point] =>
        org.apache.spark.sql.Dataset[_]): DataFrame = {
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.Streaming.Point]
    val name = s"replay_${System.nanoTime()}"
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val rows = input.select("stream_id", "t", "v")
      .orderBy("t", "stream_id").collect()
      .map(r => graft.streaming.Streaming.Point(
        r.getString(0), r.getTimestamp(1), r.getDouble(2)))
    try {
      val q = op(mem.toDS()).toDF().writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      try rows.grouped(rows.length / nBatches + 1).foreach { b =>
        mem.addData(b.toSeq); q.processAllAvailable()
      } finally q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.table(name)
  }

  /** [[replayStream]] under BOUNDED-SKEW delivery — the disorder real
    * feeds actually have: rows arrive ordered by (event time + a SEEDED
    * ±skewSec jitter), so per-key in-order delivery is violated within
    * the bound. `op` receives the RAW disordered stream and must apply
    * its own event-time reorder buffering (r17: the skewed twins fuse
    * buffer + fold into one stateful operator, e.g.
    * [[graft.streaming.Streaming.derivativeSkewed]] — maxDelay is
    * passed to the caller's lambda). Two sentinel-key points (filtered
    * from the output) drive the final watermark past every real point
    * so held buffers drain through their event-time timers.
    * Deterministic: fixed seed, fixed batch cuts.
    */
  private def replayStreamSkewed(s: SparkSession, input: DataFrame,
      nBatches: Int, skewSec: Int)(
      op: org.apache.spark.sql.Dataset[graft.streaming.Streaming.Point] =>
        org.apache.spark.sql.Dataset[_]): DataFrame = {
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.Streaming.Point]
    val name = s"replay_skew_${System.nanoTime()}"
    val sentinelKey = "zzz_wm_sentinel"
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val rnd = new scala.util.Random(7)
    val rows = input.select("stream_id", "t", "v")
      .orderBy("t", "stream_id").collect()
      .map(r => graft.streaming.Streaming.Point(
        r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      // bounded-skew delivery order; safety: a point's arrival can trail
      // the observed max event time by <= 2*skewSec, and the buffer's
      // maxDelay exceeds that, so nothing is ever watermark-late
      .map(p => (p, p.t.getTime + (rnd.nextInt(2 * skewSec + 1) - skewSec) * 1000L))
      .sortBy { case (p, jt) => (jt, p.stream_id, p.t.getTime) }
      .map(_._1)
    val maxT = rows.map(_.t.getTime).max
    val sentinels = Seq(
      graft.streaming.Streaming.Point(sentinelKey,
        new java.sql.Timestamp(maxT + 3600000L), 0.0),
      graft.streaming.Streaming.Point(sentinelKey,
        new java.sql.Timestamp(maxT + 7200000L), 1.0))
    try {
      val q = op(mem.toDS())
        .toDF().writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      try {
        rows.grouped(rows.length / nBatches + 1).foreach { b =>
          mem.addData(b.toSeq); q.processAllAvailable()
        }
        sentinels.foreach { p => mem.addData(Seq(p)); q.processAllAvailable() }
      } finally q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.table(name).where(col("stream_id") =!= sentinelKey)
  }

  /** Gap-based user sessions over events: a session breaks after >30 min
    * of silence; one row per session with count and [start, end] seconds.
    * Shared by q_sessionize and the interval-overlap join.
    */
  private def sessionIntervals(s: SparkSession, dir: String,
      maxUser: Option[Int] = None): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    val ev = maxUser.foldLeft(events(s, dir))((df, m) =>
      df.where(col("user_id") < m))
    ev.select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("sec"))
      .withColumn("gap", col("sec") - lag("sec", 1).over(w))
      .withColumn("new_sess",
        when(col("gap").isNull || col("gap") > 1800, 1L).otherwise(0L))
      .withColumn("sess_id", sum("new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_id")
      .agg(count(lit(1)).as("n_events"), min("sec").as("sess_start"),
        max("sec").as("sess_end"))
  }

  /** Synthetic wrapping counter per stream: running sum of v mod 1000
    * (FIXTURES §2 — exercises V3/V4 on realistic wrap patterns).
    */
  private def counterStreams(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("stream_id").orderBy("t")
    pointStreams(s, dir).withColumn("v", sum(col("v")).over(w) % 1000.0)
  }

  /** Graph-valued datapoints (SURVEY §1.4): one topology snapshot per
    * (user, day) — vertices are the event types seen, edges the
    * event-id-ordered transitions between them — serialized to the
    * reference's `{"v":[{"i":..}],"e":[{"f":..,"t":..}]}` JSON shape.
    * Transition order uses event_id alone: events.ts carries nanos in
    * DuckDB but micros in Spark, so a ts tiebreak could diverge.
    */
  private def graphSnapshots(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).where(col("user_id") < 8)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("event_id"), col("event_type"))
    val w = Window.partitionBy("user_id", "day").orderBy("event_id")
    ev.withColumn("prev", lag("event_type", 1).over(w))
      .groupBy("user_id", "day")
      .agg(
        array_sort(collect_set(col("event_type"))).as("vs"),
        sort_array(collect_list(when(col("prev").isNotNull,
          struct(col("prev").as("f"), col("event_type").as("t"))))).as("es"))
      .select(col("user_id"), col("day"),
        to_json(struct(
          expr("transform(vs, x -> struct(x AS i))").as("v"),
          col("es").as("e"))).as("v_json"))
  }

  /** The versioned-table gate fixture shared by q_time_travel and
    * q_table_cdc (ONE definition so the change recipe the oracles mirror
    * can't drift): orders as (k, cents), bucketed pmod(k, 16), three
    * commits — v0 init; v1 = update(%7=1, +1000) + delete(%7=2); v2 =
    * update(%21=1, original+6000) + insert(%7=3 as k+1e8, cents 4242).
    * Returns (table root, payload schema).
    */
  // four gate queries (cdc, both MV lanes, the incremental fingerprint)
  // read this identical deterministic fixture — build it once per JVM
  // per sf dir (the eventsTsType pattern); it is immutable after init
  private val ttTables = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.sql.types.StructType)]()

  /** The support-2 co-purchase edge list shared by the THIRTEEN graph
    * gate queries — built (and localCheckpoint'd) once per context per
    * sf dir (the ttTables pattern; immutable after build). Before this
    * memo every graph query independently re-ran the 1.2M-candidate
    * basket-collect explode over 600k lineitem rows at sf0.1 — the
    * family's dominant shared cost. Keyed on the SparkContext identity
    * so a checkpointed frame never leaks across contexts.
    */
  private val coEdges = new java.util.concurrent.ConcurrentHashMap[
    String, DataFrame]()

  /** Base READ-ONLY index fixtures, built once per sf dir (ttTables
    * pattern): the three BM25 read gates (indexed / stats / audit) and
    * the two IVF read gates (indexed / stats) search or inspect an
    * identical freshly-built index — only the mutation-lifecycle gates
    * (maintained / rebuilt / stream / compacted) need private copies.
    * Consumers are read paths; nothing writes under these roots.
    */
  private val roIndexes = new java.util.concurrent.ConcurrentHashMap[
    String, String]()

  private def bm25BaseIndex(s: SparkSession, dir: String): String =
    roIndexes.computeIfAbsent(s"bm25:$dir", _ => {
      val work = java.nio.file.Files
        .createTempDirectory("graft-bm25-base").toString + "/idx"
      Retrieval.buildIndex(tbl(s, dir, "documents")
        .select("doc_id", "text"), work)
      work
    })

  private def bm25PosBaseIndex(s: SparkSession, dir: String): String =
    roIndexes.computeIfAbsent(s"bm25pos:$dir", _ => {
      val work = java.nio.file.Files
        .createTempDirectory("graft-bm25-pos-base").toString + "/idx"
      Retrieval.buildIndex(tbl(s, dir, "documents")
        .select("doc_id", "text"), work, positional = true)
      work
    })

  private def ivfpqBaseIndex(s: SparkSession, dir: String): String =
    roIndexes.computeIfAbsent(s"ivfpq:$dir", _ => {
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivfpq-base").toString + "/idx"
      Similarity.buildIvfPqIndex(tbl(s, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb")),
        work, stride = 50, m = 16)
      work
    })

  private def ivfBaseIndex(s: SparkSession, dir: String): String =
    roIndexes.computeIfAbsent(s"ivf:$dir", _ => {
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivf-base").toString + "/idx"
      // `src` is an ATTRIBUTE column (r15): anything beyond (vec_id, emb)
      // rides into the cell rows for the filtered-search lane; pinned
      // flatCellsSchema readers (every other consumer) never see it
      Similarity.buildIvfIndex(tbl(s, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb"),
          (col("vec_id") % 4).as("src")),
        work, stride = 50)
      work
    })

  private def copurchaseEdges(s: SparkSession, dir: String): DataFrame =
    // keyed on (applicationId, startTime) — unique per live context, so
    // a restarted context can never collide onto a dead checkpointed
    // frame (identityHashCode is not unique across JVM objects)
    coEdges.computeIfAbsent(
      s"${s.sparkContext.applicationId}:${s.sparkContext.startTime}:$dir",
      _ => {
        val li = tbl(s, dir, "lineitem").select("l_orderkey", "l_partkey")
        Graphs.cooccurrenceEdges(li, "l_orderkey", "l_partkey")
          .localCheckpoint(true)
      })

  private def timeTravelTable(s: SparkSession,
      dir: String): (String, org.apache.spark.sql.types.StructType) =
    ttTables.computeIfAbsent(dir, _ => buildTimeTravelTable(s, dir))

  private def buildTimeTravelTable(s: SparkSession,
      dir: String): (String, org.apache.spark.sql.types.StructType) = {
    import graft.operators.VersionedTable
    val work = java.nio.file.Files
      .createTempDirectory("graft-tt-q").toString + "/tbl"
    val base = tbl(s, dir, "orders").select(col("o_orderkey").as("k"),
      (col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long").as("cents"))
    val pexpr = pmod(col("k"), lit(16L))
    VersionedTable.init(s, work, base, pexpr)
    val upd1 = base.where(col("k") % 7 === 1)
      .withColumn("cents", col("cents") + 1000L)
      .withColumn("op", lit("U")).withColumn("version", lit(1L))
    val del1 = base.where(col("k") % 7 === 2)
      .withColumn("op", lit("D")).withColumn("version", lit(1L))
    VersionedTable.merge(s, work, upd1.unionByName(del1), Seq("k"), pexpr)
    val upd2 = base.where(col("k") % 21 === 1)
      .withColumn("cents", col("cents") + 6000L)
      .withColumn("op", lit("U")).withColumn("version", lit(2L))
    val ins2 = base.where(col("k") % 7 === 3)
      .select((col("k") + 100000000L).as("k"), lit(4242L).as("cents"),
        lit("U").as("op"), lit(2L).as("version"))
    VersionedTable.merge(s, work, upd2.unionByName(ins2), Seq("k"), pexpr)
    (work, org.apache.spark.sql.types.StructType(base.schema.fields))
  }

  private val srcSql =
    """src AS (SELECT concat(user_id, ':', event_type) AS stream_id,
      |  CAST(to_timestamp(CAST(floor(epoch(ts)) AS BIGINT)) AS TIMESTAMP) AS t, value AS v
      |  FROM events)""".stripMargin

  private val pointSql =
    """pts AS (SELECT stream_id, t, sum(v) AS v FROM src GROUP BY stream_id, t)"""

  private val counterSql =
    """ctr AS (SELECT stream_id, t,
      |  fmod(sum(v) OVER (PARTITION BY stream_id ORDER BY t
      |       RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1000) AS v
      |  FROM pts)""".stripMargin

  /** Flagship: the full engine end-to-end on sf0.001 — ensure streams from
    * events, bulk-append, materialize the rollup ladder, read back
    * Minutes10 aggregates joined with stream tags.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val work = java.nio.file.Files.createTempDirectory("graft-entry").toString
    val ds = new graft.core.Datastream(spark, work)
    val ev = events(spark, dir).where(col("user_id") < 3)
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
    * caught only by a lucky schema mismatch). Both registries build through
    * this; ContractSpec injects a duplicate to prove it throws. */
  private[graft] def distinctToMap[V](label: String,
      pairs: Seq[(String, V)]): Map[String, V] = {
    val dups = pairs.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty,
      s"duplicate $label keys: ${dups.toSeq.sorted.mkString(", ")}")
    pairs.toMap
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    distinctToMap("queries", queriesSeq)

  private def queriesSeq: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // ---- relational surface (SURVEY §2.4) -----------------------------

    "q1_pricing_summary" -> { (s, dir) =>
      tbl(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          sum("l_extendedprice").as("sum_base_price"),
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          avg("l_quantity").as("avg_qty"),
          avg("l_discount").as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    "q3_shipping_priority" -> { (s, dir) =>
      val c = tbl(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = tbl(s, dir, "orders").where(col("o_orderdate") < lit("1998-01-01"))
      val l = tbl(s, dir, "lineitem").where(col("l_shipdate") > lit("1998-01-01"))
      broadcast(c).join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    "q5_local_supplier" -> { (s, dir) =>
      val r = tbl(s, dir, "region").where(col("r_name") === "ASIA")
      val joined = broadcast(r)
        .join(tbl(s, dir, "nation"), col("r_regionkey") === col("n_regionkey"))
        .join(tbl(s, dir, "customer"), col("n_nationkey") === col("c_nationkey"))
        .join(tbl(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(tbl(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
      joined.where(col("o_orderdate") < lit("1999-01-01"))
        .groupBy("n_name")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy("n_name")
    },

    "q_pareto_front" -> { (s, dir) =>
      // 2-D Pareto frontier (skyline): maximize p_size, minimize price.
      // Scale-correct two-level shape — min price per size is a parallel
      // groupBy, the running strictly-better min is a window over the
      // DISTINCT-size table only (dimension-scale, never a global per-row
      // window), broadcast back to the fact rows. A part survives iff it
      // holds its size's min price and no strictly larger size is
      // cheaper-or-equal. Comparisons only on the raw double — no float
      // arithmetic lane needed.
      val parts = tbl(s, dir, "part")
      val bySize = parts.groupBy("p_size")
        .agg(min("p_retailprice").as("mn"))
      val run = bySize.withColumn("mn_gt",
        min("mn").over(Window.orderBy(col("p_size").desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
      parts.join(broadcast(run), Seq("p_size"))
        .where(col("p_retailprice") === col("mn") &&
          (col("mn_gt").isNull || col("mn_gt") > col("p_retailprice")))
        .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
        .orderBy(desc("p_size"), col("p_partkey"))
    },

    "q_window_top_orders" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      tbl(s, dir, "orders")
        .withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
        .orderBy("o_custkey", "rnk")
    },

    "q_rollup_lineitem" -> { (s, dir) =>
      tbl(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    "q_intersect_custkeys" -> { (s, dir) =>
      val o = tbl(s, dir, "orders")
      o.where(col("o_orderstatus") === "F").select("o_custkey")
        .intersect(o.where(col("o_orderstatus") === "O").select("o_custkey"))
        .orderBy("o_custkey")
    },

    "q_anti_no_big_orders" -> { (s, dir) =>
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders").where(col("o_totalprice") > 450000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    "q_semi_open_orders" -> { (s, dir) =>
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders").where(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    },

    "q_scalar_funcs" -> { (s, dir) =>
      tbl(s, dir, "orders")
        .where(col("o_orderpriority").like("%URGENT") &&
          col("o_totalprice").between(1000, 200000))
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("mo"),
          upper(substring(col("o_orderpriority"), 1, 3)).as("pri"),
          when(col("o_orderstatus") === "F", "done")
            .otherwise("open").as("status_class"),
          floor(col("o_totalprice")).as("price_floor"))
        .orderBy("o_orderkey")
    },

    "q_in_between" -> { (s, dir) =>
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
      // order by every output column for a deterministic row order
      tbl(s, dir, "lineitem")
        .where(col("l_quantity").between(10, 20) &&
          col("l_returnflag").isin("A", "R"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    },

    "q_outer_join_nations" -> { (s, dir) =>
      // full outer: nations with customers but no suppliers (and vice
      // versa) survive with nulls; left join folded in via coalesce
      val c = tbl(s, dir, "customer").groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"))
      val su = tbl(s, dir, "supplier").groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_supp"))
      c.join(su, col("c_nationkey") === col("s_nationkey"), "full_outer")
        .select(
          coalesce(col("c_nationkey"), col("s_nationkey")).as("nk"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nk")
    },

    "q_left_join_regions" -> { (s, dir) =>
      // left join keeping nations with zero high-balance suppliers
      tbl(s, dir, "nation")
        .join(tbl(s, dir, "supplier").where(col("s_acctbal") > 0),
          col("n_nationkey") === col("s_nationkey"), "left")
        .groupBy("n_name")
        .agg(count(col("s_suppkey")).as("n_supp"))
        .orderBy("n_name")
    },

    "q_asof_last_purchase" -> { (s, dir) =>
      // as-of join: each click event gets the user's latest purchase value
      // at or before the click (AsOf.join = union + running-last window)
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("pv"))
      graft.operators.AsOf.join(clicks, purchases,
          key = "user_id", tCol = "ts", valueCol = "pv", out = "last_purchase")
        .orderBy("event_id")
    },

    "q_asof_tolerance" -> { (s, dir) =>
      // tolerance-bounded as-of: the last purchase counts only if it is
      // at most 1 hour old at click time ("last reading unless stale") —
      // the alignment rule sensor/feature pipelines actually need. Same
      // union + running-last window as q_asof_last_purchase (one
      // shuffle); staleness in floored epoch seconds on both engines.
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("pv"))
      graft.operators.AsOf.joinWithin(clicks, purchases,
          key = "user_id", tCol = "ts", valueCol = "pv",
          out = "recent_purchase", toleranceSec = 3600L)
        .orderBy("event_id")
    },

    "q_asof_nearest" -> { (s, dir) =>
      // nearest-event join: each click aligned to its CLOSEST purchase
      // in either direction (seconds-floored distance, ties backward) —
      // the alignment rule when "latest before" is too strict and the
      // next reading is closer. Union + both-direction running windows,
      // one shuffle.
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("pv"))
      graft.operators.AsOf.joinNearest(clicks, purchases,
          key = "user_id", tCol = "ts", valueCol = "pv",
          out = "nearest_purchase")
        .orderBy("event_id")
    },

    "q_distinct_counts" -> { (s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy("l_returnflag")
    },

    "q_grouping_sets" -> { (s, dir) =>
      tbl(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    "q_pivot_user_type" -> { (s, dir) =>
      events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .avg("value")
        .orderBy("user_id")
    },

    "q_token_freq" -> { (s, dir) =>
      // explode (UDTF-shaped generator) + aggregation: corpus token counts
      tbl(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(20)
    },

    "q_json_props" -> { (s, dir) =>
      // events.props is a JSON string (SURVEY §2.4 scalar fns row)
      events(s, dir).groupBy("event_type")
        .agg(
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          avg(get_json_object(col("props"), "$.k").cast("long")).as("avg_k"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    "q_window_frames" -> { (s, dir) =>
      val byId = Window.partitionBy("user_id").orderBy("event_id")
      val frame = byId.rowsBetween(-3, 0)
      val byVal = Window.partitionBy("user_id")
        .orderBy(col("value").desc, col("event_id"))
      events(s, dir).select(
          col("user_id"), col("event_id"),
          lag(col("value"), 1).over(byId).as("prev_v"),
          lead(col("value"), 1).over(byId).as("next_v"),
          min(col("value")).over(frame).as("frame_min"),
          count(lit(1)).over(frame).cast("long").as("frame_n"),
          row_number().over(byVal).cast("long").as("val_rank"))
        .orderBy("user_id", "event_id")
    },

    "q_window_range_frame" -> { (s, dir) =>
      // RANGE frame over a numeric order key: per user, the rolling sum of
      // the last 60 seconds of activity. RANGE includes all peers of the
      // current second, so same-second ties are deterministic; values sum
      // as integer cents so the result is summation-order-free and
      // hash-exact across engines.
      val w = Window.partitionBy("user_id")
        .orderBy(col("sec")).rangeBetween(-60, 0)
      events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("sec"),
          floor(col("value") * 100).cast("long").as("cents"))
        .select(col("user_id"), col("event_id"),
          sum(col("cents")).over(w).as("win_cents"))
        .orderBy("user_id", "event_id")
    },

    "q_sessionize" -> { (s, dir) =>
      // gap-based sessionization: a new session starts after >30 min of
      // per-user silence. Two stacked windows (lag for the boundary flag,
      // running sum for the session id) — one shuffle by user_id, then
      // per-session aggregation reuses the same partitioning. Total order
      // (sec, event_id) pins lag() under same-second ties.
      sessionIntervals(s, dir).orderBy("user_id", "sess_id")
    },

    "q_streaks" -> { (s, dir) =>
      // gaps-and-islands: per-user consecutive-PURCHASE-day streaks via
      // the day − row_number() island key (constant within a run of
      // consecutive days, jumps across gaps). One shuffle by user_id;
      // both the window and the two aggs reuse that partitioning.
      import org.apache.spark.sql.expressions.Window
      val d = events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id"),
          expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").as("d"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("d")
      val islands = d.withColumn("grp", col("d") - row_number().over(w))
        .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      islands.groupBy("user_id").agg(
          sum("len").as("n_days"), count(lit(1)).as("n_streaks"),
          max("len").as("longest"))
        .orderBy("user_id")
    },

    "q_interval_overlap" -> { (s, dir) =>
      // interval-overlap join via bucketed range join (Intervals): pairs
      // of cross-user sessions active at the same time — the equi-join-
      // on-bucket formulation instead of an O(n²) nested-loop range join
      val iv = sessionIntervals(s, dir, maxUser = Some(12))
        .withColumnRenamed("sess_start", "t0")
        .withColumnRenamed("sess_end", "t1")
      graft.operators.Intervals
        .overlapPairs(iv, bucketWidth = 3600L, Seq("user_id", "sess_id"))
        .select("a_user_id", "a_sess_id", "b_user_id", "b_sess_id",
          "overlap_secs")
        .orderBy("a_user_id", "a_sess_id", "b_user_id", "b_sess_id")
    },

    "drv_iqr_outliers" -> { (s, dir) =>
      // Tukey-fence anomaly counts per stream on DISCRETE quartiles
      // (type-1 order statistics — actual data values, rank arithmetic
      // pure integer like q_percentile_disc). The 1.5×IQR fences compare
      // as `2v > 2q3 + 3(q3−q1)` — one fixed expression shape, never a
      // 1.5 float literal, so the doubles agree bit-for-bit. pts is
      // checkpointed once for its three consumers.
      val pts = pointStreams(s, dir).localCheckpoint(true)
      val counts = pts.groupBy("stream_id").agg(count(lit(1)).as("n"))
      val ranked = pts.withColumn("rn", row_number().over(
          Window.partitionBy("stream_id").orderBy("v", "t")))
        .join(broadcast(counts), "stream_id")
      val quarts = ranked.groupBy("stream_id").agg(
        max(when(col("rn") === expr("(n + 3) div 4"), col("v"))).as("q1"),
        max(when(col("rn") === expr("(3 * n + 3) div 4"), col("v"))).as("q3"),
        max("n").as("n"))
      pts.join(broadcast(quarts), "stream_id")
        .groupBy("stream_id")
        .agg(max("n").as("n"),
          sum(when(
            col("v") * 2 > col("q3") * 2 + (col("q3") - col("q1")) * 3 ||
            col("v") * 2 < col("q1") * 2 - (col("q3") - col("q1")) * 3,
            1L).otherwise(0L)).as("n_outliers"),
          max("q1").as("q1"), max("q3").as("q3"))
        .orderBy("stream_id")
    },

    "q_next_event_probs" -> { (s, dir) =>
      // first-order journey model: the event-type transition matrix over
      // (sec, event_id)-ordered per-user sequences, probabilities in
      // exact integer bp. One window shuffle on user_id + two tiny aggs.
      val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
      val ev = events(s, dir).select(col("user_id"), col("event_id"),
          col("event_type"), unix_timestamp(col("ts")).as("sec"))
        .withColumn("nxt", lead("event_type", 1).over(w))
        .where(col("nxt").isNotNull)
      val pairs = ev.groupBy(col("event_type").as("cur"), col("nxt"))
        .agg(count(lit(1)).as("n_pairs"))
      val totals = pairs.groupBy("cur").agg(sum("n_pairs").as("n_total"))
      pairs.join(totals, "cur")
        .withColumn("p_bp", expr("(10000 * n_pairs) div n_total"))
        .select("cur", "nxt", "n_pairs", "n_total", "p_bp")
        .orderBy("cur", "nxt")
    },

    "drv_mad_outliers" -> { (s, dir) =>
      // robust per-stream anomaly detection: median/MAD with the
      // 3×1.4826 consistency cut — immune to the outliers that poison a
      // mean/σ rule. r16: both medians moved off builtin percentile
      // (an ObjectHashAggregate buffering a per-stream value-count map
      // in ONE reducer per stream — state ∝ stream history, no codegen;
      // 12.2 → measured-below CPU s at sf0.1) onto the distributed
      // distinct-value CDF rank lane (Percentiles.exactInterpolated,
      // bit-identical to the builtin by the ScaleSpec pin). Per-stream
      // medians/MADs are dimension-scale → broadcast joins back.
      // Data invariant these inner joins rely on (r16 ADVICE): v is
      // non-null by construction (pointStreams sums non-null event
      // values), so no stream can vanish for being all-null; an all-null
      // caller would need the ds_staleness left-join pattern instead.
      val pts = pointStreams(s, dir).localCheckpoint(true)
      val med = Percentiles.exactInterpolated(
        pts, "stream_id", "v", Seq(0.5 -> "med"))
      val dev = pts.join(broadcast(med), "stream_id")
        .withColumn("adev", abs(col("v") - col("med")))
      val mad = Percentiles.exactInterpolated(
        dev, "stream_id", "adev", Seq(0.5 -> "mad"))
      dev.join(broadcast(mad), "stream_id")
        .groupBy("stream_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("adev") > lit(4.4478) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"),
          max("med").as("med"), max("mad").as("mad"))
        .orderBy("stream_id")
    },

    "drv_zscore" -> { (s, dir) =>
      // rolling z-score anomaly detection: each point scored against the
      // trailing 10 points' mean/σ (naive sum-of-squares σ, the engine's
      // std_dev convention — Welford window stddev would diverge between
      // engines). One window pass, emits only |z| > 3 outliers.
      val w = Window.partitionBy("stream_id").orderBy("sec")
        .rowsBetween(-10, -1)
      pointStreams(s, dir)
        .withColumn("sec", unix_timestamp(col("t")))
        .withColumn("n", count("v").over(w))
        .withColumn("m", sum("v").over(w) / col("n"))
        .withColumn("sd", sqrt(greatest(
          sum(col("v") * col("v")).over(w) / col("n") - col("m") * col("m"),
          lit(0.0))))
        .where(col("n") >= 10 && col("sd") > 0)
        .withColumn("z", round((col("v") - col("m")) / col("sd"), 6))
        .where(abs(col("z")) > 3)
        .select("stream_id", "sec", "v", "z")
        .orderBy("stream_id", "sec")
    },

    "drv_seasonal_baseline" -> { (s, dir) =>
      // seasonal decomposition, hour-of-day profile: each stream's
      // 24-slot baseline (one hash agg, O(#streams x 24) output)
      // broadcast-joins back onto the points; residual = value − slot
      // mean. The profile side is metadata-sized no matter how long the
      // history grows — the scale-correct seasonal op (a window over
      // the raw stream would sort the full history per stream).
      val pts = pointStreams(s, dir)
        .withColumn("sec", unix_timestamp(col("t")))
        .withColumn("hod", expr("(sec % 86400) div 3600"))
        .localCheckpoint(true) // profile derives FROM pts (self-join rule)
      val prof = pts.groupBy("stream_id", "hod")
        .agg(avg("v").as("b"))
      pts.join(broadcast(prof), Seq("stream_id", "hod"))
        .select(col("stream_id"), col("sec"), col("hod"),
          round(col("b"), 6).as("baseline"),
          round(col("v") - col("b"), 6).as("resid"))
        .orderBy("stream_id", "sec")
    },

    "ds_autocorr" -> { (s, dir) =>
      // lag-k autocorrelation per stream (Temporal.autocorr): the
      // sufficient statistics are exact BIGINT fixed-point sums from ONE
      // window pass (all three leads share a sort) + one keyed hash agg;
      // the Pearson ACF derives from those integers in a fixed-shape
      // double expression, so even the float lane is bit-identical
      // cross-engine.
      graft.operators.Temporal.autocorr(
          pointStreams(s, dir).withColumn("sec", unix_timestamp(col("t"))),
          "stream_id", "sec", "v", Seq(1, 2, 3))
        .orderBy("stream_id", "lag")
    },

    "ds_changepoint" -> { (s, dir) =>
      // single level-shift changepoint per stream (Temporal.changepoint):
      // every split position scored in O(n) per key via BIGINT prefix
      // sums; argmax ranked on round(score, 6) with the split position
      // as tiebreak (CLAUDE float-rank rule).
      graft.operators.Temporal.changepoint(
          pointStreams(s, dir).withColumn("sec", unix_timestamp(col("t"))),
          "stream_id", "sec", "v")
        .orderBy("stream_id")
    },

    "ds_periodicity" -> { (s, dir) =>
      // daily-cycle strength per stream: Goertzel power at period 24
      // over the hourly series (the single-bin DFT probe — no spectrum
      // materialized). Hourly sums stay BIGINT fixed point until ONE
      // power-of-ten division, so the recurrence input is bit-exact
      // cross-engine; coef = 2·cos(2π/24) rides as the same decimal
      // literal in both engines. Oracle = recursive CTE (two scalar
      // state fields, the drv_holt shape).
      val hourly = pointStreams(s, dir)
        .select(col("stream_id"),
          expr("unix_timestamp(t) div 3600").as("hr"),
          expr("CAST(round(v * 1000) AS BIGINT)").as("q"))
        .groupBy("stream_id", "hr").agg(sum("q").as("xq"))
        .withColumn("x", col("xq").cast("double") / 1000.0)
      graft.operators.Temporal
        .goertzelPower(hourly, "stream_id", "hr", "x",
          coef = 1.9318516525781366)
        // floor of the RAW double, never round(4): the fold is
        // bit-identical, but engine round() implementations disagree on
        // half-way doubles (one flip observed at sf0.01) — floor takes
        // no multiply, so identical bits ⇒ identical integer
        .select(col("stream_id"), col("n_points"),
          expr("CAST(floor(power) AS BIGINT)").as("pow24_floor"))
        .orderBy("stream_id")
    },

    "ds_cusum" -> { (s, dir) =>
      // two-sided CUSUM drift summary per stream (Temporal.cusumPoints):
      // the recurrence runs as its prefix closed form — two growing-frame
      // window passes, all-integer, O(n) per key; target = per-stream
      // integer-div mean, threshold 5.0 (5000 milli-units). Aggregated to
      // one row per stream: peak excursions + first alarm second.
      val pts = graft.operators.Temporal.cusumPoints(
        pointStreams(s, dir).withColumn("sec", unix_timestamp(col("t"))),
        "stream_id", "sec", "v", None, 5000L)
      pts.groupBy("stream_id")
        .agg(count(lit(1)).as("n"),
          min("target_fp").as("target_fp"), // constant per stream
          max("s_plus_fp").as("s_plus_max"),
          max("s_minus_fp").as("s_minus_max"),
          min(when(col("alarm"), col("sec"))).as("first_alarm_sec"))
        .orderBy("stream_id")
    },

    "drv_seasonal_anomaly" -> { (s, dir) =>
      // seasonally-adjusted robust anomaly flags: remove each stream's
      // hour-of-day baseline, then flag residuals beyond 3x the MAD.
      // FULLY exact: baseline = integer-div of fixed-point sums (a float
      // mean would make the >3·MAD boolean a ulp coin flip), residuals
      // are BIGINTs, and MAD = median of BIGINTs (an exact midpoint —
      // the ds_staleness median rule). Profile join is broadcast
      // (O(#streams × 24)); everything else is keyed aggs. Data
      // invariant the inner MAD join relies on (r16 ADVICE): v/q are
      // non-null by construction, so no stream vanishes as all-null.
      val pts = pointStreams(s, dir)
        .withColumn("sec", unix_timestamp(col("t")))
        .withColumn("hod", expr("(sec % 86400) div 3600"))
        .withColumn("q", floor(col("v") * 1000.0).cast("long"))
        .localCheckpoint(true) // profile derives FROM pts (self-join rule)
      val prof = pts.groupBy("stream_id", "hod")
        .agg(expr("sum(q) div count(1)").as("baseline_fp"))
      val resid = pts.join(broadcast(prof), Seq("stream_id", "hod"))
        .withColumn("residual_fp", col("q") - col("baseline_fp"))
      // r16: builtin percentile (per-stream value-map ObjectHashAgg) →
      // the distinct-value CDF rank lane; bit-identical (ScaleSpec pin)
      val mad = Percentiles.exactInterpolated(
        resid.withColumn("ares", abs(col("residual_fp"))),
        "stream_id", "ares", Seq(0.5 -> "mad_fp"))
      resid.join(broadcast(mad), "stream_id")
        .where(abs(col("residual_fp")).cast("double") >
          lit(3.0) * col("mad_fp"))
        .select(col("stream_id"), col("sec"), col("hod"),
          col("residual_fp"), col("mad_fp"))
        .orderBy("stream_id", "sec")
    },

    "q_skew_report" -> { (s, dir) =>
      // the pre-flight skew diagnostic a join/groupBy tuner runs before
      // choosing salting factors: top-20 heaviest keys with exact
      // integer basis-point shares (cnt·10000 div total — no float
      // lane) and the cumulative concentration curve. One keyed agg +
      // one ORDER-limited window over the (small) key histogram.
      val hist = tbl(s, dir, "lineitem").groupBy("l_suppkey")
        .agg(count(lit(1)).as("cnt"))
      val tot = hist.agg(sum("cnt").as("total"))
      // r17: two-level top-k (the q_tfidf_top_terms discipline) — the
      // key histogram scales with the key domain, so the global rank
      // pre-filters to each hash bucket's top 20 first (structural
      // recall); the final window ranks <= 20·64 survivors.
      val wb = Window.partitionBy("bkt")
        .orderBy(col("cnt").desc, col("l_suppkey"))
      val w = Window.orderBy(col("cnt").desc, col("l_suppkey"))
      hist
        .withColumn("bkt", pmod(xxhash64(col("l_suppkey")), lit(64)))
        .withColumn("brnk", row_number().over(wb))
        .where(col("brnk") <= 20)
        .crossJoin(broadcast(tot))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 20)
        .withColumn("share_bps", expr("cnt * 10000 div total"))
        .withColumn("cum_bps", expr(
          "sum(cnt) OVER (ORDER BY cnt DESC, l_suppkey" +
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)" +
            " * 10000 div total"))
        .select("rnk", "l_suppkey", "cnt", "share_bps", "cum_bps")
        .orderBy("rnk")
    },

    "ds_xcorr" -> { (s, dir) =>
      // cross-stream correlation: does a user's daily click volume move
      // with their view volume? Values quantize to BIGINT BEFORE any
      // summing (a float sum drifts in the last ulp per partitioning);
      // day alignment + both aggregations are keyed hash aggs, Pearson
      // derives from the exact integer sums in one fixed-shape double
      // expression (bit-identical cross-engine, like ds_autocorr).
      val ev = events(s, dir)
        .withColumn("day", expr("unix_timestamp(ts) div 86400"))
        .withColumn("q", floor(col("value") * 1000.0).cast("long"))
      val daily = ev.groupBy("user_id", "day")
        .agg(sum(when(col("event_type") === "click", col("q"))).as("a"),
          sum(when(col("event_type") === "view", col("q"))).as("b"))
        .where(col("a").isNotNull && col("b").isNotNull)
      val agg = daily.groupBy("user_id")
        .agg(count(lit(1)).as("n_days"),
          sum("a").as("sa_fp"), sum("b").as("sb_fp"),
          sum(col("a") * col("a")).as("saa_fp"),
          sum(col("b") * col("b")).as("sbb_fp"),
          sum(col("a") * col("b")).as("sab_fp"))
        .where(col("n_days") >= 3)
      val num = col("n_days").cast("double") * col("sab_fp").cast("double") -
        col("sa_fp").cast("double") * col("sb_fp").cast("double")
      val da = col("n_days").cast("double") * col("saa_fp").cast("double") -
        col("sa_fp").cast("double") * col("sa_fp").cast("double")
      val db = col("n_days").cast("double") * col("sbb_fp").cast("double") -
        col("sb_fp").cast("double") * col("sb_fp").cast("double")
      agg.withColumn("xcorr",
          when(da > 0.0 && db > 0.0, round(num / sqrt(da * db), 6)))
        .select("user_id", "n_days", "sa_fp", "sb_fp", "sab_fp", "xcorr")
        .orderBy("user_id")
    },

    "ds_heatmap" -> { (s, dir) =>
      // hour-of-day × day-of-week occupancy heatmap — the ops-dashboard
      // view of load shape. Day-of-week derives from the epoch day
      // ((day + 4) % 7, 1970-01-01 = Thursday ⇒ 0 = Sunday) because the
      // engines' dayofweek() builtins disagree on origin (Spark 1-7
      // Sun-first vs DuckDB 0-6); epoch arithmetic is engine-neutral.
      // One hash agg over the scan; counts are exact integers.
      events(s, dir)
        .select(expr("unix_timestamp(ts)").as("sec"))
        .select(expr("((sec div 86400) + 4) % 7").as("dow"),
          expr("(sec % 86400) div 3600").as("hod"))
        .groupBy("dow", "hod").agg(count(lit(1)).as("n"))
        .orderBy("dow", "hod")
    },

    "ds_burstiness" -> { (s, dir) =>
      // per-stream burstiness audit: Fano factor (variance/mean) of
      // per-minute event counts over the stream's ACTIVE minutes —
      // Poisson-like arrivals sit near 10000 bp, bursty feeds far above.
      // Counts are integers, the naive-variance sums stay BIGINT, and the
      // bp ratio is one integer division: fano_bp =
      // 10000·(n·Σc² − (Σc)²) div (n·Σc) — non-negative by
      // Cauchy-Schwarz, so trunc ≡ floor and the row is exact
      // cross-engine. Two keyed hash aggs, no window, no shuffle of raw
      // events beyond the (stream, minute) key.
      val perMin = events(s, dir)
        .select(concat_ws(":", col("user_id"), col("event_type"))
            .as("stream_id"),
          expr("unix_timestamp(ts) div 60").as("minute"))
        .groupBy("stream_id", "minute")
        .agg(count(lit(1)).as("c"))
      perMin.groupBy("stream_id")
        .agg(count(lit(1)).as("n_minutes"), sum("c").as("s"),
          sum(col("c") * col("c")).as("q"))
        .where(col("n_minutes") >= 5)
        .select(col("stream_id"), col("n_minutes"),
          col("s").as("total_events"),
          expr("(10000L * (n_minutes * q - s * s)) div (n_minutes * s)")
            .as("fano_bp"))
        .withColumn("bursty",
          when(col("fano_bp") > 12000L, 1L).otherwise(0L))
        .orderBy("stream_id")
    },

    "ds_staleness" -> { (s, dir) =>
      // per-stream freshness audit — the ops query behind "which feeds
      // died": median inter-arrival gap vs time since the last point,
      // stale when silence exceeds 3x the stream's own cadence. Median
      // ONLY (an interpolated p90 of integers is not ulp-safe across
      // engines; the 0.5 quantile is a midpoint of two BIGINTs — exact).
      // One window pass + one keyed agg; "now" = corpus max second
      // broadcast back (a real deployment passes the clock instead).
      val w = Window.partitionBy("stream_id").orderBy("sec")
      val secs = pointStreams(s, dir)
        .withColumn("sec", unix_timestamp(col("t")))
      val gaps = secs
        .withColumn("gap", col("sec") - lag("sec", 1).over(w))
        .localCheckpoint(true) // feeds the counts agg AND the median lane
      // r16: builtin percentile (per-stream value-map ObjectHashAgg) →
      // the distinct-value CDF rank lane; bit-identical (ScaleSpec pin).
      // LEFT join: a 1-point stream's only gap is null — the builtin
      // yielded a null med_gap row, the CDF lane drops the group, the
      // left join restores the null.
      val perStream = gaps.groupBy("stream_id")
        .agg(count(lit(1)).as("n_points"), max("sec").as("last_sec"))
        .join(Percentiles.exactInterpolated(
          gaps, "stream_id", "gap", Seq(0.5 -> "med_gap")),
          Seq("stream_id"), "left")
      val now = secs.agg(max("sec").as("now_sec"))
      perStream.crossJoin(broadcast(now))
        .withColumn("staleness_sec", col("now_sec") - col("last_sec"))
        .withColumn("stale", col("staleness_sec") > lit(3.0) * col("med_gap"))
        .select("stream_id", "n_points", "last_sec", "med_gap",
          "staleness_sec", "stale")
        .orderBy("stream_id")
    },

    "q_salted_join" -> { (s, dir) =>
      // manual skew-spread equi-join (Skew.saltedJoin): the probe side
      // salts deterministically from l_orderkey, the build side
      // replicates ×8, the join runs on (key, salt) — row-identical to
      // the plain join, so the oracle is the plain SQL; the plan-level
      // spread (Generate on the build side, salt in the join key) is
      // pinned in ScaleSpec with auto-broadcast off.
      val li = tbl(s, dir, "lineitem")
        .select(col("l_suppkey").as("suppkey"), col("l_orderkey"),
          col("l_quantity"))
      val sup = tbl(s, dir, "supplier")
        .select(col("s_suppkey").as("suppkey"), col("s_name"))
      graft.operators.Skew
        .saltedJoin(li, sup, "suppkey", col("l_orderkey"), 8)
        .groupBy("s_name")
        .agg(count(lit(1)).as("n_items"),
          sum(expr("CAST(round(l_quantity * 100) AS BIGINT)"))
            .as("qty_cents"))
        .orderBy("s_name")
    },

    "ds_profile_similarity" -> { (s, dir) =>
      // time-series similarity search (the EDBT'19 streaming-TS-search
      // family): each stream's 24-slot hour-of-day energy profile as an
      // exact BIGINT fixed-point vector (per-slot sums of floor(v·1e6)
      // — order-independent), then cosine top-3 neighbors per stream.
      // Profiles are metadata-scale (#streams × 24), so the pair scan
      // crosses profile rows, never raw history; graft_dot ≡ DuckDB's
      // list_dot_product ascending fold, so raw-double ranking is safe
      // (round(6) applied to the OUTPUT after ranking, emb_* style).
      val pts = pointStreams(s, dir)
        .withColumn("sid", split(col("stream_id"), ":").getItem(0))
        .where(col("sid").cast("long") < 12).drop("sid")
        .withColumn("sec", unix_timestamp(col("t")))
        .withColumn("hod", expr("(sec % 86400) div 3600"))
        .withColumn("fp", expr("CAST(floor(v * 1000000) AS BIGINT)"))
      val slot = pts.groupBy("stream_id", "hod").agg(sum("fp").as("sl"))
      val prof = slot.groupBy("stream_id")
        .agg(map_from_entries(collect_list(
          struct(col("hod"), col("sl")))).as("m"))
        .select(col("stream_id"), expr(
          "transform(sequence(0L, 23L), " +
            "h -> CAST(coalesce(element_at(m, h), 0L) AS DOUBLE))")
          .as("vec"))
        .withColumn("nrm", sqrt(expr("graft_dot(vec, vec)")))
        .where(col("nrm") > 0)
        .localCheckpoint(true) // feeds both sides of the pair cross
      val pairs = prof.select(col("stream_id").as("a"),
          col("vec").as("va"), col("nrm").as("na"))
        .join(broadcast(prof.select(col("stream_id").as("b"),
          col("vec").as("vb"), col("nrm").as("nb"))),
          col("a") =!= col("b"))
        .select(col("a"), col("b"),
          (expr("graft_dot(va, vb)") / (col("na") * col("nb"))).as("cos"))
      val w = Window.partitionBy("a").orderBy(col("cos").desc, col("b"))
      pairs.withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 3)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("a", "rnk")
    },

    "q_skyline_pareto" -> { (s, dir) =>
      // 2D Pareto frontier (skyline): parts with no other part both
      // smaller and cheaper. Two phases, each ONE sort + two RANGE-frame
      // running minima — never the O(n²) NOT-EXISTS self-join: phase 1
      // prunes per hash bucket IN PARALLEL (local non-dominated ⊇ global
      // frontier, dominance is transitive), phase 2 runs the same
      // two-window trick on the tiny survivor set. keep ⟺ no
      // smaller-or-equal size is strictly cheaper (min_le = price) and
      // no strictly-smaller size is cheaper-or-equal (min_lt > price).
      def frontier(df: DataFrame, part: Seq[String]): DataFrame = {
        val w1 = Window.partitionBy(part.map(col): _*).orderBy("p_size")
          .rangeBetween(Window.unboundedPreceding, -1)
        val w2 = Window.partitionBy(part.map(col): _*).orderBy("p_size")
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        df.withColumn("min_lt", min("p_retailprice").over(w1))
          .withColumn("min_le", min("p_retailprice").over(w2))
          .where(col("min_le") === col("p_retailprice") &&
            (col("min_lt").isNull || col("min_lt") > col("p_retailprice")))
          .drop("min_lt", "min_le")
      }
      val p = tbl(s, dir, "part")
        .select(col("p_partkey"), col("p_size").cast("long").as("p_size"),
          col("p_retailprice"))
        .withColumn("bkt", pmod(col("p_partkey"), lit(32)))
      frontier(frontier(p, Seq("bkt")).drop("bkt"), Seq.empty)
        .orderBy("p_size", "p_retailprice", "p_partkey")
    },

    "q_first_last_window" -> { (s, dir) =>
      // value-position window functions (first/last/nth over an unbounded
      // frame): each user-day's opening, closing and second event type
      val w = Window.partitionBy("user_id", "day").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_id"), col("event_type"))
        .withColumn("first_type", first("event_type").over(w))
        .withColumn("last_type", last("event_type").over(w))
        .withColumn("second_type", nth_value(col("event_type"), 2).over(w))
        .select("user_id", "day", "first_type", "last_type", "second_type")
        .distinct()
        .orderBy("user_id", "day")
    },

    "drv_twa" -> { (s, dir) =>
      // time-weighted average per stream: each value weighted by its
      // hold time until the next point (step interpolation) — lead()
      // window then one aggregation; round(6) for summation-order noise
      val w = Window.partitionBy("stream_id").orderBy("sec")
      pointStreams(s, dir)
        .withColumn("sec", unix_timestamp(col("t")))
        .withColumn("next_sec", lead("sec", 1).over(w))
        .where(col("next_sec").isNotNull)
        .groupBy("stream_id")
        .agg(round(sum(col("v") * (col("next_sec") - col("sec"))) /
            (max("next_sec") - min("sec")), 6).as("twa"),
          count(lit(1)).as("n_segments"))
        .orderBy("stream_id")
    },

    "drv_ewma" -> { (s, dir) =>
      // EWMA smoother (α=0.3), last value per stream: the sequential
      // per-stream fold matches DuckDB's list_reduce over the
      // identically-ordered value list to ~1e-9 (the per-second
      // pre-aggregation's summation ORDER differs between engines and the
      // fold amplifies the ulp); round(4) keeps a boundary flip
      // improbable at every SF, where round(6) flipped once at sf0.1
      val w = Window.partitionBy("stream_id").orderBy(col("t").desc)
      graft.operators.Derive.ewma(pointStreams(s, dir), alpha = 0.3)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("stream_id"), round(col("ewma"), 4).as("ewma_last"))
        .orderBy("stream_id")
    },

    "drv_holt" -> { (s, dir) =>
      // Holt level+trend smoother (α=0.3, β=0.2), final state per
      // stream — the trend-aware forecast EWMA flattens out of. The
      // oracle replays the identical fold as a DuckDB struct
      // list_reduce; round(4) for the same ulp-amplification reason as
      // drv_ewma
      Derive.holt(pointStreams(s, dir), alpha = 0.3, beta = 0.2)
        .select(col("stream_id"),
          round(col("level"), 4).as("level"),
          round(col("trend"), 4).as("trend"),
          round(col("level") + col("trend"), 4).as("forecast_1"))
        .orderBy("stream_id")
    },

    "drv_holt_stream" -> { (s, dir) =>
      // STREAMING Holt under the gate: the O(1)-state twin replayed
      // over the full point set in GLOBAL time order (3 micro-batches
      // cut on the sorted sequence — the ordered-replay rule), final
      // snapshot per stream elected at max t (unique per stream:
      // pointStreams pre-aggregates (stream, t)). Identical fold
      // arithmetic ⇒ bit-equal doubles ⇒ drv_holt's oracle verbatim.
      replayPointStream(s, dir, 3)(
          ds => graft.streaming.Streaming.holt(ds, 0.3, 0.2))
        .groupBy("stream_id")
        .agg(max(struct(col("t"), col("level"), col("trend"))).as("st"))
        .select(col("stream_id"),
          round(col("st.level"), 4).as("level"),
          round(col("st.trend"), 4).as("trend"),
          round(col("st.level") + col("st.trend"), 4).as("forecast_1"))
        .orderBy("stream_id")
    },

    "drv_forecast_eval" -> { (s, dir) =>
      // rolling-origin backtest of the Holt forecaster: every point
      // predicted by the state BEFORE it, errors quantized to
      // floor(e·10⁶) BIGINTs before summing (order-free, oracle-exact);
      // per-stream MAE + signed bias in micro-units. The "should I
      // trust drv_holt's forecast_1" gate a monitoring stack runs.
      Derive.holtBacktest(pointStreams(s, dir), alpha = 0.3, beta = 0.2)
        .orderBy("stream_id")
    },

    "drv_holt_winters" -> { (s, dir) =>
      // additive Holt–Winters (α=0.3, β=0.2, γ=0.4, period 4): the
      // seasonal forecaster holt flattens out of. Zero-init seasonal
      // ring; final state + 1-step forecast per stream; oracle replays
      // the fold as a recursive CTE carrying the ring as a LIST.
      Derive.holtWinters(pointStreams(s, dir),
          alpha = 0.3, beta = 0.2, gamma = 0.4, period = 4)
        .select(col("stream_id"),
          round(col("level"), 4).as("level"),
          round(col("trend"), 4).as("trend"),
          round(col("forecast_1"), 4).as("forecast_1"))
        .orderBy("stream_id")
    },

    "drv_holt_winters_stream" -> { (s, dir) =>
      // STREAMING Holt–Winters under the gate: O(period)-state twin
      // replayed in global time order, final snapshot at max t;
      // identical fold ⇒ drv_holt_winters' oracle verbatim.
      replayPointStream(s, dir, 3)(
          ds => graft.streaming.Streaming.holtWinters(ds, 0.3, 0.2, 0.4, 4))
        .groupBy("stream_id")
        .agg(max(struct(col("t"), col("level"), col("trend"),
          col("forecast_1"))).as("st"))
        .select(col("stream_id"),
          round(col("st.level"), 4).as("level"),
          round(col("st.trend"), 4).as("trend"),
          round(col("st.forecast_1"), 4).as("forecast_1"))
        .orderBy("stream_id")
    },

    "drv_ewma_stream" -> { (s, dir) =>
      // STREAMING EWMA under the gate: the O(1)-state smoother replayed
      // in global time order, last value per stream elected at max t
      // (unique — pointStreams pre-aggregates (stream, t)); identical
      // fold arithmetic ⇒ drv_ewma's list_reduce oracle verbatim.
      replayPointStream(s, dir, 3)(
          ds => graft.streaming.Streaming.ewma(ds, 0.3))
        .groupBy("stream_id")
        .agg(max(struct(col("t"), col("v"))).as("st"))
        .select(col("stream_id"), round(col("st.v"), 4).as("ewma_last"))
        .orderBy("stream_id")
    },

    "ds_stream_acf" -> { (s, dir) =>
      // STREAMING ACF maintenance under the gate: the O(maxLag)-state
      // twin replayed in global time order; the final per-(stream, lag)
      // snapshot (max n_pairs — snapshots only grow, and equal-pair
      // snapshots are identical rows) carries the exact BIGINT
      // sufficient statistics, and the Pearson double derives in the
      // identical expression shape — ds_autocorr's oracle verbatim.
      val fin = replayPointStream(s, dir, 3)(
          ds => graft.streaming.Streaming.autocorrStats(ds, Seq(1, 2, 3)))
        .groupBy("stream_id", "lag")
        .agg(max(struct(col("n_pairs"), col("c_fp"), col("sa_fp"),
          col("sb_fp"), col("sqa_fp"), col("sqb_fp"))).as("st"))
        .select(col("stream_id"), col("lag"),
          col("st.n_pairs").as("n_pairs"), col("st.c_fp").as("c_fp"),
          col("st.sa_fp").as("sa_fp"), col("st.sb_fp").as("sb_fp"),
          col("st.sqa_fp").as("sqa_fp"), col("st.sqb_fp").as("sqb_fp"))
        .where(col("n_pairs") > 0)
      val num = col("n_pairs").cast("double") * col("c_fp").cast("double") -
        col("sa_fp").cast("double") * col("sb_fp").cast("double")
      val da = col("n_pairs").cast("double") * col("sqa_fp").cast("double") -
        col("sa_fp").cast("double") * col("sa_fp").cast("double")
      val db = col("n_pairs").cast("double") * col("sqb_fp").cast("double") -
        col("sb_fp").cast("double") * col("sb_fp").cast("double")
      fin.withColumn("acf",
          when(da > 0.0 && db > 0.0, round(num / sqrt(da * db), 6)))
        .orderBy("stream_id", "lag")
    },

    "ds_stream_cusum" -> { (s, dir) =>
      // STREAMING CUSUM under the gate: O(1) integer state per stream
      // (prefix sum + running extrema — the closed form ds_cusum
      // derives with window functions), fixed target 10.0 (10000 fp;
      // streaming needs the target up front — a global mean doesn't
      // exist mid-stream), threshold 5.0. Same summary shape as
      // ds_cusum against the constant-target oracle.
      replayPointStream(s, dir, 3)(
          ds => graft.streaming.Streaming.cusum(ds, 10000L, 5000L))
        .groupBy("stream_id")
        .agg(count(lit(1)).as("n"),
          max("s_plus_fp").as("s_plus_max"),
          max("s_minus_fp").as("s_minus_max"),
          min(when(col("alarm"), unix_timestamp(col("t"))))
            .as("first_alarm_sec"))
        .orderBy("stream_id")
    },

    "ds_gapfill_hours" -> { (s, dir) =>
      // gap filling with forward fill: per-stream hourly grid (sequence
      // explode between first and last active hour), left join the hourly
      // means, carry the last known value across gaps. The grid explode
      // is per stream — no global calendar table, no driver loop.
      val pts = events(s, dir).where(col("user_id") < 5)
        .select(concat_ws(":", col("user_id"), col("event_type")).as("stream_id"),
          expr("unix_timestamp(ts) div 3600").as("hr"), col("value").as("v"))
      // checkpoint: grid derives FROM hourly, so the join below is a
      // self-join — without it the events scan + hourly agg run twice
      val hourly = pts.groupBy("stream_id", "hr")
        .agg(round(avg("v"), 6).as("m"))
        .localCheckpoint(true)
      val grid = hourly.groupBy("stream_id")
        .agg(min("hr").as("h0"), max("hr").as("h1"))
        .withColumn("hr", explode(sequence(col("h0"), col("h1"))))
        .select("stream_id", "hr")
      val w = Window.partitionBy("stream_id").orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("stream_id", "hr"), "left")
        .withColumn("filled", last("m", ignoreNulls = true).over(w))
        .withColumn("is_gap", col("m").isNull)
        .select("stream_id", "hr", "filled", "is_gap")
        .orderBy("stream_id", "hr")
    },

    "q_explode_pos" -> { (s, dir) =>
      // generator with ordinality: posexplode of a computed token array
      // (1-based pos to match SQL generate_subscripts conventions)
      tbl(s, dir, "documents").where(col("doc_id") < 20)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("token"))
        .orderBy("doc_id", "pos")
    },

    "q_ntile_cume" -> { (s, dir) =>
      // distribution rank functions: ntile/percent_rank/cume_dist over a
      // total order. A single global window — fine for a dimension-sized
      // table; a fact-scale ranking would partition first (see
      // q_window_rankfuncs for the partitioned shape).
      val w = Window.orderBy(col("c_acctbal"), col("c_custkey"))
      tbl(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy("c_custkey")
    },

    "q_argmax_customer" -> { (s, dir) =>
      // max_by/arg_max: top customer per nation in ONE aggregation pass —
      // no window sort, no self-join. Deterministic because the per-nation
      // max acctbal is unique in this data at every SF (verified); with
      // ties one would max_by on a (bal, id) struct (DuckDB's arg_max
      // can't, hence the plain key here).
      tbl(s, dir, "customer").groupBy("c_nationkey")
        .agg(max("c_acctbal").as("top_bal"),
          max_by(col("c_custkey"), col("c_acctbal")).as("top_cust"))
        .orderBy("c_nationkey")
    },

    "q_benford_digits" -> { (s, dir) =>
      // first-digit Benford audit on order totals — the classic
      // anomalous-amounts data-quality probe. The leading digit comes
      // from the BIGINT floor (decimal formatting never crosses engines),
      // the observed share and its deviation from the Benford expectation
      // are exact integer basis points (share_bp = 10000·n div total; the
      // expected bps are shared literals summing to 10000). One hash agg
      // over the scan + a broadcast of the single-row total.
      val digits = tbl(s, dir, "orders")
        .where(col("o_totalprice") >= 1.0)
        .select(substring(floor(col("o_totalprice")).cast("string"), 1, 1)
          .as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val total = digits.agg(sum("n").as("total"))
      val benford = typedLit(Map(
        "1" -> 3010L, "2" -> 1761L, "3" -> 1249L, "4" -> 969L,
        "5" -> 792L, "6" -> 669L, "7" -> 580L, "8" -> 512L, "9" -> 458L))
      digits.crossJoin(broadcast(total))
        .select(col("digit"), col("n"),
          expr("(10000L * n) div total").as("share_bp"),
          benford(col("digit")).as("benford_bp"))
        .withColumn("dev_bp", col("share_bp") - col("benford_bp"))
        .orderBy("digit")
    },

    "q_cube_orders" -> { (s, dir) =>
      tbl(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("o_totalprice").as("total"))
        .orderBy(asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority"))
    },

    "q_union_all_balances" -> { (s, dir) =>
      tbl(s, dir, "customer").select(lit("cust").as("side"), col("c_acctbal").as("bal"))
        .unionByName(
          tbl(s, dir, "supplier").select(lit("supp").as("side"), col("s_acctbal").as("bal")))
        .groupBy("side")
        .agg(count(lit(1)).as("n"), min("bal").as("min_bal"), max("bal").as("max_bal"))
        .orderBy("side")
    },

    "q_sql_quarter_topn" -> { (s, dir) =>
      // the engine's SQL entry point: same Catalyst plans as the
      // DataFrame API, exercised end-to-end via spark.sql over registered
      // views (star join + windowed top-n per quarter)
      Seq("orders", "customer", "nation")
        .foreach(t => tbl(s, dir, t).createOrReplaceTempView(t))
      s.sql("""
        WITH r AS (
          SELECT n.n_name AS nation,
                 CAST(date_trunc('quarter', o.o_orderdate) AS DATE) AS qtr,
                 sum(o.o_totalprice) AS revenue
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          GROUP BY 1, 2)
        SELECT nation, qtr, revenue, rnk FROM (
          SELECT nation, qtr, revenue,
                 CAST(rank() OVER (PARTITION BY qtr
                              ORDER BY revenue DESC, nation) AS BIGINT) AS rnk
          FROM r)
        WHERE rnk <= 3
        ORDER BY qtr, rnk, nation""")
    },

    "q_union_distinct" -> { (s, dir) =>
      // UNION (distinct) completes the set-op family alongside union-all /
      // intersect / except
      tbl(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .union(tbl(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .distinct()
        .orderBy("nk")
    },

    "q_corr_regr" -> { (s, dir) =>
      // statistical co-moment aggregates: Pearson correlation, pop/sample
      // covariance, and OLS slope/intercept of price on quantity — all
      // single-pass partial-aggregatable (each is a fold over
      // (n, Σx, Σy, Σxy, Σx², Σy²)), so they scale like any hash agg
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          corr("l_quantity", "l_extendedprice").as("corr_qp"),
          covar_pop("l_quantity", "l_extendedprice").as("covar_p"),
          covar_samp("l_quantity", "l_extendedprice").as("covar_s"),
          regr_slope(col("l_extendedprice"), col("l_quantity")).as("slope"),
          regr_intercept(col("l_extendedprice"), col("l_quantity")).as("icept"))
        .orderBy("l_returnflag")
    },

    "q_decimal_money" -> { (s, dir) =>
      // exact DECIMAL money arithmetic (SURVEY §7 watch list: decimal
      // values): the money columns are cents-clean doubles, so the
      // decimal(12,2) casts are exact and the products are exact integer
      // cent (x100) / basis-point (x10000) counts. The output emits those
      // counts as BIGINT — never a raw DECIMAL column — because Spark
      // (decimal(22,2)/decimal(28,4)) and DuckDB (decimal(38,_)) widen
      // aggregate decimals differently and the r4 gate hash compares cell
      // *representations*, not just values. BIGINT is representation-stable
      // across engines; the values themselves are identical and exact.
      tbl(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_extendedprice").cast("decimal(12,2)").as("price"),
          col("l_discount").cast("decimal(4,2)").as("disc"))
        .groupBy("l_returnflag")
        .agg(
          sum((col("price") * 100).cast("long")).as("sum_price_cents"),
          sum((col("price") * (lit(1).cast("decimal(3,2)") - col("disc"))
            * 10000).cast("long")).as("sum_disc_price_x10000"),
          count(lit(1)).as("n"))
        .withColumn("avg_price",
          col("sum_price_cents").cast("double") / lit(100) / col("n"))
        .orderBy("l_returnflag")
    },

    "q_agg_filter" -> { (s, dir) =>
      // ANSI FILTER-clause conditional aggregation — one hash-agg pass;
      // each filtered agg is a guarded partial, never an extra scan or
      // shuffle per condition
      tbl(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT l_linestatus,
          count(*) AS n_all,
          count(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
          sum(l_extendedprice) FILTER (WHERE l_quantity > 25) AS sum_big,
          min(l_shipdate) FILTER (WHERE l_returnflag = 'R') AS first_ret
        FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""")
    },

    "q_snowflake_volume" -> { (s, dir) =>
      // 7-table snowflake join (lineitem ⋈ orders ⋈ customer ⋈ nation ⋈
      // region ⋈ supplier ⋈ nation again): the fact tables join on their
      // shuffle keys, every dimension is explicitly broadcast — zero
      // dimension shuffles regardless of fact-table scale, and Catalyst
      // is free to reorder the fact joins under AQE
      val n = tbl(s, dir, "nation")
      tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n.as("cn")), col("c_nationkey") === col("cn.n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")),
          col("cn.n_regionkey") === col("r_regionkey") &&
            col("r_name") === lit("AMERICA"))
        .join(broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n.as("sn")), col("s_nationkey") === col("sn.n_nationkey"))
        .groupBy(year(col("o_orderdate")).as("yr"),
          col("sn.n_name").as("supp_nation"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("volume"),
          count(lit(1)).as("n_items"))
        .orderBy("yr", "supp_nation")
    },

    "q_tfidf_top_terms" -> { (s, dir) =>
      // distinctive terms per language: corpus-wide document frequency +
      // per-lang term frequency, scored tf × (N/df). The RATIO idf (not
      // ln) is deliberate: a rational of small integers is bit-identical
      // across engines, so the top-5 ranking cannot be perturbed by
      // last-ulp libm differences. Two shuffles total (df by term, tf by
      // (lang, term)); df is distinct-term-sized → broadcast back.
      val docs = tbl(s, dir, "documents")
      val nDocs = docs.count().toDouble
      // checkpoint: the token stream feeds BOTH the df and tf branches —
      // without it each branch re-scans and re-explodes the corpus
      // (CLAUDE.md: materialize shared derived stages, never recompute)
      val toks = docs
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "")
        .localCheckpoint(true)
      val df = toks.groupBy("tok").agg(countDistinct("doc_id").as("df"))
      val tf = toks.groupBy("lang", "tok").agg(count(lit(1)).as("tf"))
      // r17: TWO-LEVEL top-k (guide §8 / r16 verdict item 5). The
      // per-lang window alone sorts the whole (lang, tok) vocabulary in
      // #langs tasks — vocab-scale, single task per lang at 100 TB.
      // Level 1 ranks within (lang, bkt = pmod(xxhash64(tok), 64)) and
      // keeps each bucket's top 5; recall is STRUCTURAL (any tok in the
      // global per-lang top-5 has < 5 bucket rows ahead of it — every
      // row ahead in its bucket is ahead globally), so level 2's
      // unchanged per-lang window runs over <= 5·64 rows per lang.
      // Same (score desc, tok) order both levels ⇒ output identical.
      val scored = tf.join(broadcast(df), "tok")
        .withColumn("score", col("tf") * (lit(nDocs) / col("df")))
      val wb = Window.partitionBy("lang", "bkt")
        .orderBy(col("score").desc, col("tok"))
      val w = Window.partitionBy("lang")
        .orderBy(col("score").desc, col("tok"))
      scored
        .withColumn("bkt", pmod(xxhash64(col("tok")), lit(64)))
        .withColumn("brnk", row_number().over(wb))
        .where(col("brnk") <= 5)
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 5)
        .select("lang", "rnk", "tok", "tf", "df", "score")
        .orderBy("lang", "rnk")
    },

    "q_bool_bit_aggs" -> { (s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
          bool_and(col("l_discount") <= 0.1).as("all_small_disc"),
          bool_or(col("l_quantity") > 45).as("any_big_qty"),
          bit_and(col("l_linenumber")).as("ln_and"),
          bit_or(col("l_linenumber")).as("ln_or"),
          bit_xor(col("l_linenumber")).as("ln_xor"))
        .orderBy("l_linestatus")
    },

    "q_string_funcs" -> { (s, dir) =>
      tbl(s, dir, "part").select(
          col("p_partkey"),
          lower(col("p_name")).as("name_lc"),
          regexp_replace(col("p_type"), " ", "_").as("type_us"),
          lpad(col("p_size").cast("string"), 5, "0").as("size_pad"),
          regexp_extract(col("p_brand"), "Brand#(\\d+)", 1).as("brand_num"))
        .orderBy("p_partkey")
    },

    "q_array_agg_suppliers" -> { (s, dir) =>
      tbl(s, dir, "supplier")
        .join(broadcast(tbl(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        // array_join: the driver's pandas compare can't hash raw array
        // cells (CORRECTNESS_r01: unhashable numpy.ndarray), so the
        // collected+sorted list is emitted as one joined string.
        .agg(array_join(sort_array(collect_list(col("s_name"))), ",").as("suppliers"),
          count(lit(1)).as("n"))
        .orderBy("n_name")
    },

    "q_monthly_revenue" -> { (s, dir) =>
      tbl(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n_orders"), sum("o_totalprice").as("revenue"))
        .orderBy("m")
    },

    "q_mom_growth" -> { (s, dir) =>
      // month-over-month revenue growth in exact integer bp: BIGINT
      // cents, lag over the (bounded) month dimension, and the division
      // runs on a NON-NEGATIVE numerator with the sign re-applied after
      // — `div`/`//` truncation semantics on negatives never enter.
      val monthly = tbl(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT))")
          .as("cents"))
      monthly
        .withColumn("prev_cents", lag("cents", 1).over(Window.orderBy("m")))
        .withColumn("growth_bp", expr(
          "CASE WHEN prev_cents IS NOT NULL THEN " +
            "((10000 * abs(cents - prev_cents)) div prev_cents) * " +
            "(CASE WHEN cents >= prev_cents THEN 1 ELSE -1 END) END"))
        .orderBy("m")
    },

    "q_gini_revenue" -> { (s, dir) =>
      // revenue-concentration audit per market segment: EXACT integer
      // Gini. G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) on cents sorted
      // ascending — numerator and denominator are BIGINTs, the bp lane
      // floors a NON-NEGATIVE numerator (Chebyshev sum inequality).
      // r16: the per-row row_number().over(partitionBy(seg)) (every
      // customer ranked in 5 partitions — the q_percentile_disc weak
      // class) is GONE: Σi·xᵢ decomposes exactly over the distinct-value
      // CDF — a tied value v with k rows after `below` predecessors
      // contributes v·(k·below + k(k+1)/2), the same fixed tied-block
      // Σi the row_number lane relied on. One partial-aggregated corpus
      // shuffle + a distinct-table window; no fact-row window at all.
      // Headroom: 10⁴·2·wsum needs n·total ≤ 4.6e14 — at larger group
      // sizes consumers should divide num/den themselves.
      val cust = tbl(s, dir, "orders").groupBy("o_custkey")
        .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT))")
          .as("cents"))
      val seg = tbl(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("seg"))
      val vc = cust.join(seg, "o_custkey")
        .groupBy("seg", "cents").agg(count(lit(1)).as("k"))
      val wc = Window.partitionBy("seg").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      vc.withColumn("below", sum("k").over(wc) - col("k"))
        .groupBy("seg")
        .agg(sum("k").as("n"), sum(expr("cents * k")).as("total_cents"),
          sum(expr("cents * (k * below + (k * (k + 1)) div 2)")).as("wsum"))
        .withColumn("gini_bp", expr(
          "(10000 * (2 * wsum - (n + 1) * total_cents)) div (n * total_cents)"))
        .orderBy("seg")
    },

    "text_token_gini" -> { (s, dir) =>
      // lexical-diversity scoring by Gini impurity of each doc's token
      // distribution: 1 − Σ(cᵢ/n)² — no logs (unlike entropy), so the
      // whole score is exact rational arithmetic: ppm lane =
      // (10⁶·(n² − Σcᵢ²)) div n², BIGINT end to end. Plan is
      // explode → two hash aggs keyed on (doc_id, tok) then doc_id —
      // fully codegen, partial aggs before each shuffle.
      val tok = tbl(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_toks"), count(lit(1)).as("n_distinct"),
          sum(expr("c * c")).as("sq"))
        .withColumn("gini_ppm", expr(
          "(1000000 * (n_toks * n_toks - sq)) div (n_toks * n_toks)"))
        .select("doc_id", "n_toks", "n_distinct", "gini_ppm")
        .orderBy("doc_id")
    },

    "text_zipf_fit" -> { (s, dir) =>
      // Zipf's-law fit: OLS slope/intercept in log-log (rank, freq)
      // space over the top-1000 tokens — the corpus-health check
      // (natural text sits near slope −1; template/spam corpora
      // don't). Counts and ranks are exact integers; the log sums are
      // the only float step, round(4) absorbs ulps; + 0.0 after the
      // round maps a rounded −0.0 to +0.0 on both engines (a fit of ±ulp
      // noise rounds to a signed zero whose sign depends on summation
      // order). The rank window is GLOBAL but vocabulary-scale (the
      // q_ntile_cume dispensation).
      val tf = tbl(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("t"))
        .where(col("t") =!= "")
        .groupBy("t").agg(count(lit(1)).as("c"))
      // r17: TWO-LEVEL top-k (guide §8, the q_tfidf_top_terms move):
      // the global window alone sorts the whole vocabulary in ONE task.
      // Level 1 keeps each pmod(xxhash64(t), 32) bucket's top 1000 —
      // structural recall (a global top-1000 token has < 1000 bucket
      // rows ahead of it) — so the unchanged global window ranks
      // <= 32k candidate rows. Same (c desc, t) order ⇒ identical fit.
      val wb = Window.partitionBy("bkt").orderBy(col("c").desc, col("t"))
      val ranked = tf
        .withColumn("bkt", pmod(xxhash64(col("t")), lit(32)))
        .withColumn("br", row_number().over(wb))
        .where(col("br") <= 1000)
        .withColumn("r", row_number().over(
          Window.orderBy(col("c").desc, col("t"))))
        .where(col("r") <= 1000)
        .select(expr("ln(CAST(r AS DOUBLE))").as("x"),
          expr("ln(CAST(c AS DOUBLE))").as("y"))
      ranked.agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum("y").as("sy"), sum(expr("x * y")).as("sxy"),
          sum(expr("x * x")).as("sxx"))
        .select(col("n").as("n_tokens"),
          expr("round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)" +
            " + CAST(0 AS DOUBLE)").as("zipf_slope"),
          expr("round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))" +
            " * sx) / n, 4) + CAST(0 AS DOUBLE)").as("intercept"))
    },

    "text_heaps_fit" -> { (s, dir) =>
      // Heaps'-law fit (the Zipf fit's companion corpus-health check):
      // vocabulary growth V(n) ≈ K·n^β over ten doc-prefix checkpoints —
      // natural text sits near β ≈ 0.5; a template corpus saturates
      // (β → 0), an id-heavy one inflates (β → 1). V_j = tokens whose
      // FIRST document lands before cut_j (one vocab-scale min +
      // broadcast theta-join — never a per-prefix rescan), n_j = token
      // mass before cut_j. Counts/cuts are exact integers; ln + OLS is
      // the zipf lane's float discipline (round(4) absorbs sum-order
      // ulps, + 0.0 makes the sign of a rounded zero canonical — a
      // saturated vocabulary fits β = ±ulp noise).
      import s.implicits._
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val toks = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("t"))
        .where(col("t") =!= "")
        .localCheckpoint(true) // feeds first-doc AND per-doc mass
      val mindoc = toks.groupBy("t").agg(min("doc_id").as("m"))
      val perdoc = toks.groupBy("doc_id").agg(count(lit(1)).as("c"))
      val nd = docs.count()
      val cuts = (1 to 10).map(j => nd * j / 10).toDF("cut")
      val v = mindoc.join(broadcast(cuts), col("m") < col("cut"))
        .groupBy("cut").agg(count(lit(1)).as("v"))
      val nj = perdoc.join(broadcast(cuts), col("doc_id") < col("cut"))
        .groupBy("cut").agg(sum("c").as("nmass"))
      nj.join(v, "cut")
        .select(expr("ln(CAST(nmass AS DOUBLE))").as("x"),
          expr("ln(CAST(v AS DOUBLE))").as("y"))
        .agg(count(lit(1)).as("np"), sum("x").as("sx"),
          sum("y").as("sy"), sum(expr("x * y")).as("sxy"),
          sum(expr("x * x")).as("sxx"))
        .select(col("np").as("n_points"),
          expr("round((np * sxy - sx * sy) / (np * sxx - sx * sx), 4)" +
            " + CAST(0 AS DOUBLE)").as("heaps_beta"),
          expr("round((sy - ((np * sxy - sx * sy) / (np * sxx - sx * sx))" +
            " * sx) / np, 4) + CAST(0 AS DOUBLE)").as("intercept"))
    },

    "text_hash_features" -> { (s, dir) =>
      // the hashing trick (Weinberger et al.) — fixed-dimension token
      // featurization with no vocabulary artifact: token → md5 15-hex
      // BIGINT % 64 bucket, per-doc bucket counts. The featurizer
      // behind linear probes / DSIR-style scoring at corpus scale;
      // emitted long-form (doc, bucket, cnt) — exact integers, and the
      // sparse relational shape IS the scale form (a dense array column
      // would carry 64 values per doc through every shuffle).
      val tok = tbl(s, dir, "documents")
        .where(col("doc_id") < 200)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        .where(col("t") =!= "")
      tok.withColumn("bucket", expr(
          "CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) % 64"))
        .groupBy("doc_id", "bucket")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("doc_id", "bucket")
    },

    "pipe_psi_drift" -> { (s, dir) =>
      // population stability index per source vs the REST of the corpus
      // — the industry drift score completing the KS/MW family: fixed
      // integer length bins (n_chars div 200, capped at bin 9 — no
      // quantile estimation, so the binning is exact), PSI =
      // Σ (p−q)·ln(p/q) over bins present on BOTH sides (the standard
      // zero-cell exclusion, documented); counts exact, ln + round(4)
      // the only float lane. One conditional-agg scan per grid cell.
      val d = tbl(s, dir, "documents")
        .select(col("source"),
          expr("least(CAST(n_chars div 200 AS BIGINT), 9L)").as("bin"))
        .localCheckpoint(true) // feeds per-source counts AND totals
      val bySrc = d.groupBy("source", "bin").agg(count(lit(1)).as("c_sb"))
      val byBin = d.groupBy("bin").agg(count(lit(1)).as("c_b"))
      val nSrc = d.groupBy("source").agg(count(lit(1)).as("n_s"))
      val nTot = d.count()
      val grid = bySrc.join(byBin, "bin").join(broadcast(nSrc), "source")
        .withColumn("c_rest", col("c_b") - col("c_sb"))
        .withColumn("n_rest", lit(nTot) - col("n_s"))
        .where(col("c_sb") > 0 && col("c_rest") > 0)
      grid.groupBy("source")
        .agg(count(lit(1)).as("n_bins_used"),
          round(sum(expr(
            "(CAST(c_sb AS DOUBLE) / n_s - CAST(c_rest AS DOUBLE) / n_rest)" +
              " * ln((CAST(c_sb AS DOUBLE) / n_s) / " +
              "(CAST(c_rest AS DOUBLE) / n_rest))")), 4).as("psi"))
        .orderBy("source")
    },

    "pipe_psi_drift_stream" -> { (s, dir) =>
      // the LIVE drift monitor: per-(source, bin) BIGINT counts fold in
      // streaming state (counts commute — split-invariant under ANY
      // delivery order, the strongest invariance class) and the final
      // snapshot computes the batch PSI grid exactly — pipe_psi_drift's
      // oracle verbatim.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft-psi-stream").toString + "/st"
      val rows = tbl(s, dir, "documents").select("source", "n_chars")
        .as[(String, Long)].collect().toSeq
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Long)]
      val q = mem.toDF.toDF("source", "n_chars")
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.streaming.Streaming.psiDriftBatch(s, stateDir, b, id)
        }
        .option("checkpointLocation", s"$stateDir/../ckpt").start()
      try rows.grouped(rows.length / 3 + 1).foreach { g =>
        mem.addData(g); q.processAllAvailable()
      } finally q.stop()
      graft.streaming.Streaming.psiDriftStats(s, stateDir).orderBy("source")
    },

    "pipe_mi_features" -> { (s, dir) =>
      // feature selection by mutual information: MI(bucket-presence;
      // source) over the text_hash_features buckets — the filter-method
      // ranking a probe/classifier pipeline runs before training. All
      // probabilities derive from exact integer counts (present +
      // absent cells per (bucket, source), zero cells skip); the one
      // float step is ln + the per-bucket sum, ranked on round(6) with
      // the bucket tiebreak (the float-rank rule). Top-10 buckets.
      val d = tbl(s, dir, "documents").select("doc_id", "source", "text")
        .localCheckpoint(true) // feeds tokenize + the doc marginals
      val db = d.select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("t"))
        .where(col("t") =!= "")
        .withColumn("bucket", expr(
          "CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) % 64"))
        .select("doc_id", "source", "bucket").distinct()
        .localCheckpoint(true) // feeds n_bs AND n_b
      val nbs = db.groupBy("bucket", "source")
        .agg(count(lit(1)).as("n_bs"))
      val nb = db.groupBy("bucket")
        .agg(countDistinct("doc_id").as("n_b"))
      val ns = d.groupBy("source").agg(count(lit(1)).as("n_s"))
      val nn = d.count()
      val grid = nb.crossJoin(broadcast(ns))
        .join(nbs, Seq("bucket", "source"), "left")
        .withColumn("n_bs", coalesce(col("n_bs"), lit(0L)))
        .withColumn("n", lit(nn))
      val mi = grid.groupBy("bucket")
        .agg(max("n_b").as("n_docs_with"),
          round(sum(expr(
            "CASE WHEN n_bs > 0 THEN (CAST(n_bs AS DOUBLE) / n) * " +
              "ln(CAST(n_bs AS DOUBLE) * n / (CAST(n_b AS DOUBLE) * n_s)) " +
              "ELSE 0.0 END + " +
            "CASE WHEN n_s - n_bs > 0 THEN " +
              "(CAST(n_s - n_bs AS DOUBLE) / n) * " +
              "ln(CAST(n_s - n_bs AS DOUBLE) * n / " +
              "(CAST(n - n_b AS DOUBLE) * n_s)) ELSE 0.0 END")), 6)
            .as("mi_nats"))
      val w = Window.orderBy(col("mi_nats").desc, col("bucket"))
      mi.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 10)
        .select(col("bucket"), col("n_docs_with"), col("mi_nats"))
        .orderBy(col("mi_nats").desc, col("bucket"))
    },

    "text_entropy" -> { (s, dir) =>
      // Shannon entropy of each doc's token distribution in BITS — the
      // log-lane sibling of text_token_gini (quality filters threshold
      // on it; low-entropy docs are boilerplate/spam): H = (ln n −
      // Σ cᵢ·ln cᵢ / n) / ln 2. Counts stay exact BIGINTs; the one
      // float step is ln + divide, and round(4) absorbs the
      // cross-engine libm + summation-order ulps (the drv_ewma rule).
      // Same explode → two hash aggs plan as the gini.
      val tok = tbl(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_toks"), count(lit(1)).as("n_distinct"),
          sum(expr("CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))")).as("sclc"))
        .withColumn("ent_bits", round(
          (log(col("n_toks").cast("double")) -
            col("sclc") / col("n_toks").cast("double")) /
            log(lit(2.0)), 4))
        .select("doc_id", "n_toks", "n_distinct", "ent_bits")
        .orderBy("doc_id")
    },

    "q_phrase_search" -> { (s, dir) =>
      // exact two-token phrase search ("sort merge") by token-position
      // adjacency: the token array materializes as a COLUMN first (the
      // derived-expr-in-lambda rule), then adjacent pairs come from
      // zipping two slices of that column — overlapping matches counted,
      // no regex (engine regex dialects diverge; token positions don't).
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      d.withColumn("hits", expr(
          "CAST(size(filter(zip_with(slice(w, 1, size(w) - 1), " +
            "slice(w, 2, size(w) - 1), " +
            "(x, y) -> x = 'sort' AND y = 'merge'), b -> b)) AS BIGINT)"))
        .where(col("hits") > 0)
        .select("doc_id", "hits")
        .orderBy(col("hits").desc, col("doc_id")).limit(20)
    },

    "q_phrase_search_indexed" -> { (s, dir) =>
      // the PHRASE lane from the persisted index: a POSITIONAL build
      // adds a (doc_id, tok, positions) tree bucketed by token, and the
      // search reads ONLY the phrase tokens' buckets — hits per doc =
      // |∩_i (positions_i − i)|, the positional-postings conjunction,
      // equal to q_phrase_search's direct adjacency count (oracle
      // shared verbatim). The positional index is the shared read-only
      // fixture (r14: the snippet lane reads it too — read paths never
      // write under it, the roIndexes contract).
      Retrieval.phraseTopKIndexed(s, bm25PosBaseIndex(s, dir),
        Seq("sort", "merge"), 20)
    },

    "ds_moving_median" -> { (s, dir) =>
      // robust trend smoothing: 7-point CENTERED moving median over
      // per-type daily event counts — the outlier-immune alternative to
      // the seasonal-baseline mean. Exact cross-engine: counts are
      // BIGINTs, an odd window's median is an element, an even window's
      // (series edges) is the midpoint of two integers — the one
      // interpolated quantile that is ulp-safe (the CLAUDE p50 rule;
      // DuckDB median() over the same frame computes exactly this).
      // Window is over the dimension-scale daily table, never raw rows.
      val daily = events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("d")
        .rowsBetween(-3, 3)
      daily
        .withColumn("arr", sort_array(collect_list("c").over(w)))
        .withColumn("n", size(col("arr")).cast("long"))
        .withColumn("med", expr(
          """CASE WHEN n % 2 = 1
            |  THEN CAST(element_at(arr, CAST((n + 1) div 2 AS INT))
            |    AS DOUBLE)
            |  ELSE (element_at(arr, CAST(n div 2 AS INT)) +
            |    element_at(arr, CAST(n div 2 + 1 AS INT))) / 2.0
            |END""".stripMargin))
        .select(col("event_type"), col("d"), col("c"), col("n"), col("med"))
        .orderBy("event_type", "d")
    },

    "ds_trend_ols" -> { (s, dir) =>
      // per-(event_type, user-cohort) least-squares DAILY TREND in the
      // exact integer lane: center days at the group's min, lift values
      // to milli-units, then slope = (n·Σtv − Σt·Σv) / (n·Σt² − (Σt)²)
      // where every sufficient statistic is a BIGINT (t ≤ days, mv ≤
      // 10⁶-ish ⇒ products sit far under the 2⁶³ line at gate SFs).
      // Division is the sign-split floor (never raw negative div across
      // engines); groups with a degenerate design (one distinct day)
      // report NULL. Two hash aggs + a broadcast min-day join — no
      // window, no per-stream loop.
      val e = events(s, dir).select(col("event_type"),
        pmod(col("user_id"), lit(10L)).as("cohort"),
        to_date(col("ts")).as("d"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("mv"))
      val m = e.groupBy("event_type", "cohort").agg(min("d").as("d0"))
      e.join(broadcast(m), Seq("event_type", "cohort"))
        .withColumn("t", datediff(col("d"), col("d0")).cast("long"))
        .groupBy("event_type", "cohort")
        .agg(count(lit(1)).as("n"), sum("t").as("st"), sum("mv").as("sv"),
          sum(expr("t * mv")).as("stv"), sum(expr("t * t")).as("stt"))
        .withColumn("num", expr("n * stv - st * sv"))
        .withColumn("den", expr("n * stt - st * st"))
        .withColumn("slope_mpd", expr(
          "CASE WHEN den > 0 THEN (abs(num) div den) * " +
            "(CASE WHEN num >= 0 THEN 1 ELSE -1 END) END"))
        .select("event_type", "cohort", "n", "num", "den", "slope_mpd")
        .orderBy("event_type", "cohort")
    },

    "ds_theil_sen" -> { (s, dir) =>
      // Theil–Sen robust daily trend per (event_type, cohort): the
      // median of pairwise slopes between DAILY integer sums — the
      // estimator outlier days can't drag the way they drag OLS
      // (ds_trend_ols). The pair join is per-group quadratic in the
      // DATE RANGE (time-bounded), never the corpus — the first daily
      // rollup collapses corpus growth into at most one row per day.
      // Each slope is ONE IEEE division of two BIGINTs (bit-identical
      // cross-engine, the jaccard_links rule); the median is the
      // ELEMENT at rank (n+1) div 2 under (slope, d1, d2) order —
      // discrete lower median, no float midpoint averaging.
      val e = events(s, dir).select(col("event_type"),
        pmod(col("user_id"), lit(10L)).as("cohort"),
        to_date(col("ts")).as("d"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("mv"))
      val daily = e.groupBy("event_type", "cohort", "d")
        .agg(sum("mv").as("sv"))
      val a = daily.select(col("event_type"), col("cohort"),
        col("d").as("d1"), col("sv").as("v1"))
      val b = daily.select(col("event_type"), col("cohort"),
        col("d").as("d2"), col("sv").as("v2"))
      val pairs = a.join(b, Seq("event_type", "cohort"))
        .where(col("d1") < col("d2"))
        .withColumn("slope",
          (col("v2") - col("v1")).cast("double") /
            datediff(col("d2"), col("d1")).cast("double"))
      val grp = Window.partitionBy("event_type", "cohort")
      pairs
        .withColumn("rn", row_number().over(
          grp.orderBy(col("slope"), col("d1"), col("d2"))))
        .withColumn("n_pairs", count(lit(1)).over(grp))
        .where(col("rn") === expr("(n_pairs + 1) div 2"))
        .select(col("event_type"), col("cohort"), col("n_pairs"),
          col("slope").as("slope_mpd"))
        .orderBy("event_type", "cohort")
    },

    "q_seq_patterns" -> { (s, dir) =>
      // sequential-pattern support: users exhibiting "t1 then t2" =
      // users where min_sec(t1) < max_sec(t2) — EXISTS over ordered
      // occurrence collapses to one per-(user, type) min/max agg + a
      // tiny per-user type-pair join (|types|² rows/user), never a
      // per-user event scan. t1 = t2 counts repeat patterns (≥2 events
      // at distinct seconds). Strict < on floor-epoch seconds is the
      // cross-engine tie rule.
      val ext = events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("sec"))
        .groupBy("user_id", "event_type")
        .agg(min("sec").as("first_sec"), max("sec").as("last_sec"))
      val a = ext.select(col("user_id"), col("event_type").as("t1"),
        col("first_sec"))
      val b = ext.select(col("user_id"), col("event_type").as("t2"),
        col("last_sec"))
      a.join(b, "user_id").where(col("first_sec") < col("last_sec"))
        .groupBy("t1", "t2").agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("t1"), col("t2"))
    },

    "ds_rolling_actives" -> { (s, dir) =>
      // 7-day rolling distinct active users per observed day. COUNT
      // (DISTINCT) can't ride a window frame on either engine, and a
      // range join is a nested loop — instead each (user, day) activity
      // EXPLODES to the 7 target days it covers (a generator, no
      // shuffle), then one distinct-agg per day; a semi join keeps only
      // days that exist in the data. Work is 7×|activity| rows into a
      // hash agg — linear, window-free.
      val ud = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
        .localCheckpoint(true) // feeds the day grid AND the explode
      val days = ud.select(col("d").as("day")).distinct()
      ud.withColumn("off", explode(sequence(lit(0), lit(6))))
        .withColumn("day", expr("date_add(d, off)"))
        .join(days, Seq("day"), "left_semi")
        .groupBy("day").agg(countDistinct("user_id").as("n_active"))
        .orderBy("day")
    },

    "q_decay_popularity" -> { (s, dir) =>
      // exponentially time-decayed popularity per event type, EXACT
      // integer lane: half-life = 1 day over a 30-day horizon, so each
      // event's weight is the BIGINT 2^(30 − age_days) — powers of two
      // need no float pow and sum exactly on any engine. The horizon cap
      // is also the overflow bound (2³⁰·n events fits BIGINT at any
      // realistic n) and the scan prune (only the trailing window reads).
      val e = events(s, dir)
        .select(to_date(col("ts")).as("d"), col("event_type"))
      val maxd = e.agg(max(col("d")).as("maxd"))
      e.crossJoin(broadcast(maxd))
        .withColumn("age", datediff(col("maxd"), col("d")))
        .where(col("age") <= 30)
        .withColumn("wt", expr("shiftleft(CAST(1 AS BIGINT), 30 - age)"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("wt").as("decay_score"))
        .orderBy(col("decay_score").desc, col("event_type"))
    },

    "q_decay_popularity_stream" -> { (s, dir) =>
      // batch≡streaming decayed popularity: replay events TIME-ORDERED
      // through Streaming.decayPopularity (O(horizon) integer state per
      // type — trailing per-day counts, pruned against the key's own max
      // day) in 3 micro-batches, elect each type's final snapshot by its
      // strictly-increasing version, then apply the GLOBAL horizon cut +
      // power-of-2 weights batch-side. The global cut is only knowable
      // at read time (a global max day doesn't exist mid-stream), and
      // per-key pruning provably keeps a superset of the globally-live
      // days — so the result is bit-equal to q_decay_popularity and the
      // oracle SQL is shared verbatim.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.Streaming.KeyDay]
      val name = s"decay_replay_${System.nanoTime()}"
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = graft.streaming.Streaming.decayPopularity(mem.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          val rows = events(s, dir)
            .select(col("event_type"),
              expr("unix_timestamp(ts) div 86400").as("day"),
              col("event_id"))
            .orderBy("day", "event_id").collect()
            .map(r => graft.streaming.Streaming.KeyDay(
              r.getString(0), r.getLong(1)))
          rows.grouped(rows.length / 3 + 1).foreach { b =>
            mem.addData(b.toSeq); q.processAllAvailable()
          }
        } finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      val fin = s.table(name)
        .groupBy("key")
        .agg(max(struct(col("version"), col("packed"))).as("snap"))
        .select(col("key").as("event_type"),
          explode(col("snap.packed")).as("p"))
        .withColumn("day", expr("p div 1000000000000"))
        .withColumn("cnt", expr("p % 1000000000000"))
      fin.crossJoin(broadcast(fin.agg(max("day").as("maxd"))))
        .withColumn("age", col("maxd") - col("day"))
        .where(col("age") <= 30)
        .withColumn("wt",
          expr("shiftleft(CAST(1 AS BIGINT), CAST(30 - age AS INT))"))
        .groupBy("event_type")
        .agg(sum("cnt").as("n_events"),
          sum(col("cnt") * col("wt")).as("decay_score"))
        .orderBy(col("decay_score").desc, col("event_type"))
    },

    "pipe_perceptron" -> { (s, dir) =>
      // trainable quality classifier, the curation-pipeline front filter:
      // 3 rounds of BATCH perceptron w += Σ_{y·(w·x)≤0} y·x on integer
      // quality features — pure integer (no lr, no sigmoid), one
      // aggregate job per round over a localCheckpointed feature frame;
      // the oracle replays the exact weight trajectory as unrolled CTEs
      graft.operators.Pipeline
        .perceptron(tbl(s, dir, "documents"))
        .orderBy("round")
    },

    "pipe_class_balance" -> { (s, dir) =>
      // deterministic minority-class oversampling to the majority count:
      // per-language repeat factor = max_n div n (integer floor), each
      // doc emitted with copy ids 1..factor — the class-balancing pass
      // before fine-tuning on skewed label distributions. Factors ride a
      // broadcast; the explode is a generator, no shuffle of copies.
      val d = tbl(s, dir, "documents").select("doc_id", "lang")
      val counts = d.groupBy("lang").agg(count(lit(1)).as("n"))
      val factors = counts.crossJoin(broadcast(counts.agg(max("n").as("max_n"))))
        .withColumn("factor", expr("max_n div n"))
      d.join(broadcast(factors.select("lang", "factor")), "lang")
        .select(col("doc_id"), col("lang"),
          explode(expr("sequence(1L, factor)")).as("copy"))
        .orderBy("doc_id", "copy")
    },

    "q_ts_range_reverse" -> { (s, dir) =>
      // get_data A4 semantics: time-range scan, reverse order, projection
      events(s, dir)
        .where(col("ts") >= lit("2024-01-10") && col("ts") < lit("2024-01-20"))
        .select("event_id", "ts", "value")
        .orderBy(col("ts").desc, col("event_id"))
        .limit(100)
    },

    "q_above_cust_avg" -> { (s, dir) =>
      // correlated-subquery shape: orders priced far above their
      // customer's average (window formulation — no per-row subquery)
      val w = Window.partitionBy("o_custkey")
      tbl(s, dir, "orders")
        .withColumn("cust_avg", avg("o_totalprice").over(w))
        .where(col("o_totalprice") > lit(1.5) * col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    "q_unpivot_flags" -> { (s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(sum("l_quantity").as("qty"), sum("l_extendedprice").as("price"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("qty"), col("price")), "metric", "val")
        .orderBy("l_returnflag", "metric")
    },

    "q_bitmap_intersect" -> { (s, dir) =>
      // bitmap-index set intersection — the OLAP acceleration primitive
      // (roaring-style, word-packed): per returnflag, order-key sets
      // pack into 32-bits-per-word BIGINT bitmaps (shift ≤ 31 keeps
      // both engines inside ANSI/overflow rules); pairwise intersection
      // cardinality = Σ bit_count(a & b) over aligned words — one
      // distinct pass, one bit_or aggregation, one word-aligned
      // self-join. All-integer, exact.
      val ok = tbl(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"), col("l_orderkey").as("k"))
        .distinct()
      val words = ok
        .groupBy(col("flag"), expr("k div 32").as("w"))
        .agg(expr("bit_or(shiftleft(1L, CAST(k % 32 AS INT)))").as("bits"))
        .localCheckpoint(true) // sizes AND both sides of the pair join
      val sizes = words.groupBy("flag")
        .agg(sum(expr("bit_count(bits)")).cast("long").as("n"))
      words.as("a").join(words.as("b"),
          col("a.w") === col("b.w") && col("a.flag") < col("b.flag"))
        .groupBy(col("a.flag").as("flag_a"), col("b.flag").as("flag_b"))
        .agg(sum(expr("bit_count(a.bits & b.bits)")).cast("long")
          .as("n_common"))
        .join(broadcast(sizes.select(col("flag").as("flag_a"),
          col("n").as("n_a"))), "flag_a")
        .join(broadcast(sizes.select(col("flag").as("flag_b"),
          col("n").as("n_b"))), "flag_b")
        .select("flag_a", "flag_b", "n_a", "n_b", "n_common")
        .orderBy("flag_a", "flag_b")
    },

    "q_salted_distinct" -> { (s, dir) =>
      // two-stage skew-spread distinct count; exact by construction
      graft.operators.Skew
        .saltedDistinctCount(tbl(s, dir, "lineitem"), "l_returnflag", "l_partkey")
        .withColumnRenamed("l_returnflag", "flag")
        .orderBy("flag")
    },

    "q_percentiles" -> { (s, dir) =>
      // exact interpolated percentiles (same definition as quantile_cont)
      // in the DISTRIBUTED rank lane (r14 — replaces percentile(col,
      // array(...)): that ObjectHashAggregate merged one value-count map
      // per group into a single reducer, GB-scale buffers at 100×).
      // Distinct-value CDF + broadcast range join + Spark percentile's
      // exact interpolation arithmetic — bit-identical results, no
      // per-group value buffer anywhere (ScaleSpec pins the plan).
      graft.operators.Percentiles.exactInterpolated(
        tbl(s, dir, "lineitem").select("l_returnflag", "l_extendedprice"),
        "l_returnflag", "l_extendedprice",
        Seq(0.5 -> "med", 0.9 -> "p90"))
        .orderBy("l_returnflag")
    },

    // ---- datastream surface (SURVEY §2.2/§2.3 over events) ------------

    "store_pipeline" -> { (s, dir) =>
      // the STORE itself under the oracle: ensure 75 streams from events
      // tags, bulk append, materialize the ladder, read back the Days
      // level joined with stream tags — A1+A3+A10+A4 end-to-end
      val work = java.nio.file.Files.createTempDirectory("graft-store-q").toString
      val ds = new graft.core.Datastream(s, work)
      val ev = events(s, dir).where(col("user_id") < 5)
      val keys = ev.select("user_id", "event_type").distinct().collect()
      val idOf = keys.map { r =>
        val (u, et) = (r.getLong(0).toString, r.getString(1))
        s"$u:$et" -> ds.ensureStream(Map("user" -> u, "type" -> et))
      }.toMap
      val uuidOf = typedLit(idOf)
      ds.appendMultiple(ev.select(
        uuidOf(concat_ws(":", col("user_id"), col("event_type"))).as("stream_id"),
        col("ts").as("t"), col("value").as("v")), checkTimestamp = false)
      ds.downsampleStreams(java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
      ds.datapoints.where(col("granularity") === "days")
        .join(ds.streams.select(col("stream_id"), col("tags")), "stream_id")
        .select(
          element_at(col("tags"), "user").cast("long").as("user_id"),
          element_at(col("tags"), "type").as("event_type"),
          col("t"), col("c"), col("s"), col("l"), col("u"), col("m"), col("d"),
          col("t_first"), col("t_last"))
        .orderBy("user_id", "event_type", "t")
    },

    "store_stats" -> { (s, dir) =>
      // store observability (the indexStats move for the datapoint
      // store): per granularity level, datapoint count, stream count
      // and bucket-start bounds after the standard ingest+ladder
      // fixture — the size/skew dashboard a 100× deployment reads
      // before touching compaction or retention. One grouped aggregate
      // over the partition-pruned datapoints tree; the oracle
      // recomputes every level analytically from events (rollup rows =
      // distinct completed buckets per stream, base rows = raw appends).
      val work = java.nio.file.Files
        .createTempDirectory("graft-store-stats").toString
      val ds = new graft.core.Datastream(s, work)
      val ev = events(s, dir).where(col("user_id") < 5)
      val keys = ev.select("user_id", "event_type").distinct().collect()
      val idOf = keys.map { r =>
        val (u, et) = (r.getLong(0).toString, r.getString(1))
        s"$u:$et" -> ds.ensureStream(Map("user" -> u, "type" -> et))
      }.toMap
      val uuidOf = typedLit(idOf)
      ds.appendMultiple(ev.select(
        uuidOf(concat_ws(":", col("user_id"), col("event_type")))
          .as("stream_id"),
        col("ts").as("t"), col("value").as("v")), checkTimestamp = false)
      ds.downsampleStreams(java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
      ds.datapoints.groupBy("granularity").agg(
          count(lit(1)).as("n_points"),
          countDistinct("stream_id").as("n_streams"),
          min(unix_timestamp(col("t"))).as("lo_sec"),
          max(unix_timestamp(col("t"))).as("hi_sec"))
        .orderBy("granularity")
    },

    "store_nested_tags" -> { (s, dir) =>
      // nested tag documents end-to-end (SURVEY §1.2): one stream per
      // nation carrying a NESTED tag doc {"meta": {"nation","region"}}
      // ingested as JSON, found via real json-path traversal of
      // tags_json (not literal dotted keys), values read back from BOTH
      // tag shapes — the flat dotted map and the nested document
      val work = java.nio.file.Files.createTempDirectory("graft-nested-q").toString
      val ds = new graft.core.Datastream(s, work)
      val nations = tbl(s, dir, "nation")
        .join(tbl(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_name"), col("r_name")).collect()
      // nested docs flatten at creation time (one lazy catalog, ONE
      // persisted flush — not a catalog write per stream; the per-call
      // merge path updateTagsNested is spec-covered in DatastreamSpec)
      nations.foreach { r =>
        ds.ensureStream(Map("name" -> s"nation:${r.getString(0)}"),
          tags = graft.core.Json.flatten(
            s"""{"meta": {"nation": "${r.getString(0)}", "region": "${r.getString(1)}"}}"""))
      }
      ds.flush()
      ds.findStreamsByJsonPath("meta.region", "EUROPE")
        .select(
          element_at(col("tags"), "meta.nation").as("nation"),
          get_json_object(col("tags_json"), "$['meta']['region']").as("region"))
        .orderBy("nation")
    },

    "store_retention" -> { (s, dir) =>
      // TIERED RETENTION (the RRD ladder semantic) under the oracle:
      // build the store, materialize the ladder, then expire raw
      // seconds at Jan 20 but keep Days back to Jan 10 — the classic
      // metrics policy (raw short, aggregates long). Expiry is whole
      // ymd-partition drops, so the read-back below also pins that
      // reads survive missing historical partitions. Oracle = events
      // under the two cutoffs.
      val work = java.nio.file.Files
        .createTempDirectory("graft-retention-q").toString
      val ds = new graft.core.Datastream(s, work)
      val ev = events(s, dir).where(col("user_id") < 3)
      val keys = ev.select("user_id", "event_type").distinct().collect()
      val idOf = keys.map { r =>
        val (u, et) = (r.getLong(0).toString, r.getString(1))
        s"$u:$et" -> ds.ensureStream(Map("user" -> u, "type" -> et))
      }.toMap
      val uuidOf = typedLit(idOf)
      ds.appendMultiple(ev.select(
        uuidOf(concat_ws(":", col("user_id"), col("event_type"))).as("stream_id"),
        col("ts").as("t"), col("value").as("v")), checkTimestamp = false)
      ds.downsampleStreams(java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
      ds.expireData(Map[graft.model.Granularity, java.sql.Timestamp](
        graft.model.Granularity.Seconds ->
          java.sql.Timestamp.valueOf("2024-01-20 00:00:00"),
        graft.model.Granularity.Days ->
          java.sql.Timestamp.valueOf("2024-01-10 00:00:00")))
      val tags = ds.streams.select(col("stream_id"), col("tags"))
      val dp = ds.datapoints
      // count/min/max only: order-independent (associative-exact) under
      // the ladder fold, unlike s whose partial-sum order is layout-
      // dependent at the last ulp — retention is about WHICH rows
      // survive, which (t, c, l, u) pins completely
      val secs = dp.where(col("granularity") === "seconds")
        .select(col("stream_id"), col("granularity"), col("t"),
          lit(1L).as("c"), col("v_num").as("l"), col("v_num").as("u"))
      val days = dp.where(col("granularity") === "days")
        .select(col("stream_id"), col("granularity"), col("t"),
          col("c"), col("l"), col("u"))
      secs.unionByName(days).join(tags, "stream_id")
        .select(
          element_at(col("tags"), "user").cast("long").as("user_id"),
          element_at(col("tags"), "type").as("event_type"),
          col("granularity"), col("t"), col("c"), col("l"), col("u"))
        .orderBy("user_id", "event_type", "granularity", "t", "l")
    },

    "store_derive_pipeline" -> { (s, dir) =>
      // the INCREMENTAL derive-on-append path under the oracle: per-key
      // source+derivative stream pairs, three staged monotonic appends
      // (first = full materialization, later ones = bounded incremental
      // rewrite with the one-point lookback), derived data read back and
      // compared to the relational derivative over the complete series
      val work = java.nio.file.Files.createTempDirectory("graft-drv-q").toString
      val ds = new graft.core.Datastream(s, work)
      val pts = eventStreams(s, dir)
        .where(col("stream_id").startsWith("1:") ||
               col("stream_id").startsWith("2:"))
        .groupBy("stream_id", "t").agg(sum("v").as("v"))
        .localCheckpoint(true) // three filtered reuses below
      val keys = pts.select("stream_id").distinct()
        .collect().map(_.getString(0)).sorted
      val idOf = keys.map(k => k -> ds.ensureStream(Map("src" -> k))).toMap
      keys.foreach(k => ds.ensureStream(Map("drv" -> k),
        deriveFrom = Seq(idOf(k)), deriveOp = Some(graft.model.DeriveOps.Derivative)))
      val uuidOf = typedLit(idOf)
      val mapped = pts.select(uuidOf(col("stream_id")).as("stream_id"),
        col("t"), col("v"))
      Seq(("0001-01-01", "2024-01-10"), ("2024-01-10", "2024-01-20"),
          ("2024-01-20", "2099-01-01")).foreach { case (lo, hi) =>
        ds.appendMultiple(mapped.where(
          col("t") >= lit(java.sql.Date.valueOf(lo)) &&
          col("t") < lit(java.sql.Date.valueOf(hi))))
      }
      ds.datapoints.where(col("granularity") === "seconds")
        .join(ds.streams.where(element_at(col("tags"), "drv").isNotNull)
          .select(col("stream_id"), element_at(col("tags"), "drv").as("name")),
          "stream_id")
        .select(col("name"), col("t"), col("v_num").as("v"))
        .orderBy("name", "t")
    },

    "store_stream_ingest" -> { (s, dir) =>
      // the STREAMING INGEST LOOP under the oracle: MemoryStream →
      // Streaming.ingest, whose foreachBatch drives appendMultiple
      // (dedupExisting) + the incremental derive cascade + the rollup
      // ladder per micro-batch. Batch 2 is DELIBERATELY delivered twice —
      // foreachBatch's at-least-once case — so a green row proves
      // re-delivery is idempotent through the whole store path. Read-back
      // = derived derivative points + source days rollups in one frame.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val work = java.nio.file.Files.createTempDirectory("graft-ingest-q").toString
      val ds = new graft.core.Datastream(s, work)
      val pts = eventStreams(s, dir)
        .where(col("stream_id").startsWith("3:"))
        .groupBy("stream_id", "t").agg(sum("v").as("v"))
      val rows = pts.collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      val keys = rows.map(_._1).distinct.sorted
      val idOf = keys.map(k => k -> ds.ensureStream(Map("src" -> k))).toMap
      keys.foreach(k => ds.ensureStream(Map("drv" -> k),
        deriveFrom = Seq(idOf(k)),
        deriveOp = Some(graft.model.DeriveOps.Derivative)))
      val uuidOf = typedLit(idOf)
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, java.sql.Timestamp, Double)]
      // per-micro-batch cost here is FIXED driver/job overhead (append +
      // derive cascade + ladder advance), independent of batch size — so
      // the replay uses few, large batches and a narrow shuffle; a real
      // deployment sizes its trigger the same way (batch work >> fixed
      // per-batch work)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val src = mem.toDF.toDF("k", "t", "v")
          .select(uuidOf(col("k")).as("stream_id"), col("t"), col("v"))
        // compactEvery exercises the selective leaf compaction inside the
        // ingest loop under the oracle — later batches then read the
        // compacted store (fragmentation was measurably inflating their
        // scan task counts: 205 → 502 → 599 across the three batches)
        val q = graft.streaming.Streaming.ingest(src, ds, compactEvery = 2)
          .option("checkpointLocation", s"$work/ckpt").start()
        try {
          val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
          val b1 = rows.filter(_._2.before(cut)).toSeq
          val b2 = rows.filterNot(_._2.before(cut)).toSeq
          mem.addData(b1); q.processAllAvailable()
          mem.addData(b2); q.processAllAvailable()
          // at-least-once re-delivery as the FINAL batch: the whole store
          // path (raw dedup, derive rewrite, HWM-guarded ladder) must
          // leave the store byte-identical
          mem.addData(b2); q.processAllAvailable()
        } finally q.stop() // never leak a running query into later queries
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      val drv = ds.datapoints.where(col("granularity") === "seconds")
        .join(ds.streams.where(element_at(col("tags"), "drv").isNotNull)
          .select(col("stream_id"), element_at(col("tags"), "drv").as("name")),
          "stream_id")
        .select(lit("drv").as("kind"), col("name"), col("t"),
          lit(1L).as("c"), col("v_num").as("v"))
      val days = ds.datapoints.where(col("granularity") === "days")
        .join(ds.streams.where(element_at(col("tags"), "src").isNotNull)
          .select(col("stream_id"), element_at(col("tags"), "src").as("name")),
          "stream_id")
        .select(lit("day").as("kind"), col("name"), col("t"),
          col("c"), col("s").as("v"))
      drv.unionAll(days).orderBy("kind", "name", "t")
    },

    "ds_agg_minutes10" -> { (s, dir) =>
      Downsample.toGranularity(eventStreams(s, dir), Granularity.Minutes10)
        .select("stream_id", "t", "c", "s", "q", "l", "u", "m", "d",
          "t_first", "t_last", "t_mean")
        .orderBy("stream_id", "t")
    },

    "ds_fold_hours" -> { (s, dir) =>
      // hierarchical fold: raw -> minutes partials -> hours (scale path:
      // coarse levels never re-read raw history). t_mean excluded: the
      // fold floors per-minute means first (documented 1s quantization).
      Downsample.foldToCoarser(
          Downsample.toGranularity(eventStreams(s, dir), Granularity.Minutes),
          Granularity.Hours)
        .select("stream_id", "t", "c", "s", "q", "l", "u", "m", "d",
          "t_first", "t_last")
        .orderBy("stream_id", "t")
    },

    "ds_hist_quantile_rollup" -> { (s, dir) =>
      // deterministic mergeable quantile ladder (HistRollup): hour-level
      // fixed-bin histograms folded to days (fold is EXACT — bin counts
      // are sums), interpolated p50/p95 extracted at read time. The only
      // sound quantile rollup at 100 TB: coarse levels never re-read raw
      // history, and unlike KLL/t-digest the fold is deterministic so
      // the oracle recomputes it bit-for-bit.
      val spec = HistRollup.HistSpec(0.0, 512.0, 64)
      val ev = events(s, dir).select(col("event_type"),
        unix_timestamp(col("ts")).as("sec"), col("value").as("v"))
      val hours = HistRollup.histBuckets(ev, "v", "sec", 3600,
        Seq("event_type"), spec)
      val days = HistRollup.fold(hours, 86400, Seq("event_type"))
      HistRollup.quantiles(days, Seq("event_type"),
          Seq("p50" -> 0.5, "p95" -> 0.95), spec)
        .select(col("event_type"), col("t"), col("n"),
          round(col("p50"), 6).as("p50"), round(col("p95"), 6).as("p95"))
        .orderBy("event_type", "t")
    },

    "ds_agg_sliding" -> { (s, dir) =>
      // sliding (hopping) windows: 10-minute buckets every 5 minutes —
      // each point lands in width/slide = 2 buckets. Spark's window()
      // plans this as a 2-row explode then ONE hash aggregation, not two
      // passes; the tumbling ladder (ds_agg_*) stays the scale path for
      // hierarchies, sliding is for overlapping dashboards/alert windows.
      eventStreams(s, dir)
        .groupBy(col("stream_id"), window(col("t"), "600 seconds", "300 seconds"))
        .agg(count(lit(1)).as("c"), sum("v").as("s"))
        .select(col("stream_id"), col("window.start").as("bucket"),
          col("c"), col("s"))
        .orderBy("stream_id", "bucket")
    },

    "drv_derivative" -> { (s, dir) =>
      Derive.derivative(pointStreams(s, dir)).orderBy("stream_id", "t")
    },

    "drv_counter_reset" -> { (s, dir) =>
      Derive.counterReset(counterStreams(s, dir)).orderBy("stream_id", "t")
    },

    "drv_derivative_stream" -> { (s, dir) =>
      // STREAMING V2 under the gate: the O(1)-state rate twin replayed
      // in global time order emits exactly the batch rows (floor-second
      // division, duplicate-second drop) — drv_derivative's oracle
      // verbatim.
      replayPointStream(s, dir, 3)(
          ds => graft.streaming.Streaming.derivative(ds))
        .orderBy("stream_id", "t")
    },

    "drv_counter_reset_stream" -> { (s, dir) =>
      // STREAMING V3 under the gate: reset flags from the O(1)-state
      // twin over the replayed counter — drv_counter_reset's oracle
      // verbatim.
      replayStream(s, counterStreams(s, dir), 3)(
          ds => graft.streaming.Streaming.counterReset(ds))
        .orderBy("stream_id", "t")
    },

    "drv_derivative_stream_skewed" -> { (s, dir) =>
      // STREAMING V2 under BOUNDED-SKEW delivery (the contract real
      // feeds violate): rows replay in seeded ±90 s-jittered order —
      // per-key in-order delivery broken within the bound — and the
      // event-time reorder buffer restores order at the watermark, so
      // the twin still emits drv_derivative's oracle verbatim. A missing
      // or leaky buffer computes wrong lags and hash-diverges. r17:
      // buffer + fold fused in ONE stateful operator (was reorderBuffer
      // → derivative, two state-store commits per partition per
      // micro-batch; StreamingSpec pins fused ≡ chained bit-equal).
      replayStreamSkewed(s, pointStreams(s, dir), 3, skewSec = 90)(
          ds => graft.streaming.Streaming.derivativeSkewed(ds, "300 seconds"))
        .orderBy("stream_id", "t")
    },

    "drv_counter_derivative" -> { (s, dir) =>
      Derive.counterDerivative(counterStreams(s, dir), Some(1000.0))
        .orderBy("stream_id", "t")
    },

    "drv_counter_derivative_stream" -> { (s, dir) =>
      // TWO-INPUT streaming V4: the wrapping counter stream plus a LIVE
      // reset stream (deterministic subset of counter points: floor(v)%10
      // = 3, so many resets tie a source timestamp exactly — the
      // reset-first tie rule is load-bearing) replayed through
      // Streaming.counterDerivativeWithResets in 3 micro-batches. Both
      // streams cut on COMMON time boundaries (per-key in-order delivery
      // across the union — the twin's documented contract); the oracle is
      // the batch reset-suppression core (union + running reset max +
      // ignore-nulls lag) in DuckDB SQL.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val memS = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.Streaming.Point]
      val memR = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.Streaming.ResetEvent]
      val name = s"cdrst_replay_${System.nanoTime()}"
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = graft.streaming.Streaming
          .counterDerivativeWithResets(memS.toDS(), memR.toDS(), Some(1000.0))
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          val ctr = counterStreams(s, dir).localCheckpoint(true)
          val srcRows = ctr.orderBy("t", "stream_id").collect()
            .map(r => graft.streaming.Streaming.Point(
              r.getString(0), r.getTimestamp(1), r.getDouble(2)))
          val rstRows = ctr
            .where(floor(col("v")).cast("long") % 10 === 3)
            .select("stream_id", "t").orderBy("t", "stream_id").collect()
            .map(r => graft.streaming.Streaming.ResetEvent(
              r.getString(0), r.getTimestamp(1)))
          // common strict time cuts: every row with t < c1 lands in
          // slice 1 on BOTH streams — same-t rows never split. Resets
          // enqueue BEFORE sources per slice (the twin's early-not-late
          // delivery contract: the engine may fold the two feeds'
          // blocks in separate micro-batches, so enqueue order makes
          // "early" the only possible skew).
          val secs = srcRows.map(_.t.getTime).distinct.sorted
          val cuts = Seq(secs(secs.length / 3), secs(2 * secs.length / 3),
            Long.MaxValue)
          var lo = Long.MinValue
          cuts.foreach { hi =>
            memR.addData(rstRows.filter(p =>
              p.t.getTime >= lo && p.t.getTime < hi).toSeq)
            memS.addData(srcRows.filter(p =>
              p.t.getTime >= lo && p.t.getTime < hi).toSeq)
            q.processAllAvailable()
            lo = hi
          }
        } finally q.stop() // never leak a running query into later queries
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table(name).orderBy("stream_id", "t")
    },

    "drv_counter_derivative_stream_skewed" -> { (s, dir) =>
      // the two-input V4 twin under BOUNDED-SKEW delivery on BOTH feeds
      // (the r13 gap: only V2 had a skewed gate): source and reset rows
      // each replay in independently seeded ±90 s-jittered order behind
      // a SHARED event-time reorder buffer (maxDelay 300 s > 2×jitter)
      // fused with the fold in ONE stateful operator (r17 — was
      // reorderBuffer ×2 → fold, three state-store commits per
      // partition per micro-batch; StreamingSpec pins fused ≡ chained
      // bit-equal). The single watermark makes the early-not-late reset
      // contract mechanical — the twin still emits
      // drv_counter_derivative_stream's batch oracle verbatim. Sentinels
      // on BOTH streams drive the watermark past every real point so
      // the tail buffers drain.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val memS = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.Streaming.Point]
      val memR = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.Streaming.ResetEvent]
      val name = s"cdrst_skew_${System.nanoTime()}"
      val sentinelKey = "zzz_wm_sentinel"
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = graft.streaming.Streaming.counterDerivativeWithResetsSkewed(
            memS.toDS(), memR.toDS(), "300 seconds", Some(1000.0))
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          val ctr = counterStreams(s, dir).localCheckpoint(true)
          val rnd = new scala.util.Random(13)
          def jitter(tMs: Long) =
            tMs + (rnd.nextInt(181) - 90) * 1000L
          val srcRows = ctr.orderBy("t", "stream_id").collect()
            .map(r => graft.streaming.Streaming.Point(
              r.getString(0), r.getTimestamp(1), r.getDouble(2)))
            .map(p => (p, jitter(p.t.getTime)))
            .sortBy { case (p, jt) => (jt, p.stream_id, p.t.getTime) }
            .map(_._1)
          val rstRows = ctr
            .where(floor(col("v")).cast("long") % 10 === 3)
            .select("stream_id", "t").orderBy("t", "stream_id").collect()
            .map(r => graft.streaming.Streaming.ResetEvent(
              r.getString(0), r.getTimestamp(1)))
            .map(p => (p, jitter(p.t.getTime)))
            .sortBy { case (p, jt) => (jt, p.stream_id, p.t.getTime) }
            .map(_._1)
          val maxT = srcRows.map(_.t.getTime).max
          // 3 jittered-arrival slices per feed, enqueued together —
          // the buffers, not the enqueue order, restore the contract
          val sCut = srcRows.grouped(srcRows.length / 3 + 1).toSeq
          val rCut = rstRows.grouped(rstRows.length / 3 + 1).toSeq
          (0 until 3).foreach { i =>
            if (i < rCut.length) memR.addData(rCut(i).toSeq)
            if (i < sCut.length) memS.addData(sCut(i).toSeq)
            q.processAllAvailable()
          }
          Seq(3600000L, 7200000L).foreach { off =>
            memS.addData(Seq(graft.streaming.Streaming.Point(sentinelKey,
              new java.sql.Timestamp(maxT + off), 0.0)))
            memR.addData(Seq(graft.streaming.Streaming.ResetEvent(sentinelKey,
              new java.sql.Timestamp(maxT + off))))
            q.processAllAvailable()
          }
        } finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table(name).where(col("stream_id") =!= sentinelKey)
        .orderBy("stream_id", "t")
    },

    "drv_sum" -> { (s, dir) =>
      // V1: one derived stream = pointwise sum of user 7's five per-type
      // streams, aligned on Minutes buckets
      Derive.streamSum(
          eventStreams(s, dir).where(col("stream_id").startsWith("7:")),
          Granularity.Minutes, "u7_sum")
        .orderBy("t")
    },

    "ds_agg_hours6" -> { (s, dir) =>
      // another ladder level + downsampler projection (count/min/max/first)
      Downsample.toGranularity(eventStreams(s, dir), Granularity.Hours6)
        .select("stream_id", "t", "c", "l", "u", "t_first")
        .orderBy("stream_id", "t")
    },

    "ds_freq_hitters" -> { (s, dir) =>
      // heavy-hitters rollup ladder: one mergeable frequent-items sketch
      // per hour (native TypedImperativeAggregate — live sketch per
      // group, serialize only at shuffles), folded to days by sketch
      // UNION (never re-reads raw events), top-3 per day at read time.
      // event_type cardinality sits inside the sketch's map capacity, so
      // estimates are exact and merge-order-independent — which is what
      // lets DuckDB oracle them; past-capacity behavior is pinned by the
      // OperatorsSpec bound tests instead.
      val ev = events(s, dir).select(
        timestamp_seconds(unix_timestamp(col("ts"))).as("tsec"),
        col("event_type"))
      val hourly = FreqRollup.sketchBuckets(ev, "event_type", "tsec", 3600L)
      val daily = FreqRollup.foldSketches(hourly, 86400L)
      FreqRollup.topK(daily, 3)
        .select("t", "item", "est")
        .orderBy(col("t"), col("est").desc, col("item"))
    },

    "ds_theta_overlap" -> { (s, dir) =>
      // audience overlap via theta-sketch SET ALGEBRA — the question HLL
      // rollups cannot answer (HLL unions but never intersects): distinct
      // users who clicked, purchased, did BOTH, did EITHER, per day. One
      // scan, one shuffle: two conditional sketches per day (null inputs
      // skipped), then intersection/union at read time. Exact while daily
      // distincts fit 2^12 nominal entries (they do at every test SF) —
      // that's what lets DuckDB pin it; estimation-mode error is pinned
      // in OperatorsSpec.
      val ev = events(s, dir)
        .where(col("event_type").isin("click", "purchase"))
        .select(timestamp_seconds(
            expr("CAST(floor(unix_timestamp(ts) / 86400) * 86400 AS BIGINT)"))
          .as("t"), col("event_type"), col("user_id"))
      ev.groupBy("t").agg(
          expr("graft_theta_agg(CASE WHEN event_type = 'click' THEN user_id END, 12)")
            .as("cs"),
          expr("graft_theta_agg(CASE WHEN event_type = 'purchase' THEN user_id END, 12)")
            .as("ps"))
        .select(col("t"),
          expr("graft_theta_est(cs)").as("n_click"),
          expr("graft_theta_est(ps)").as("n_purchase"),
          expr("graft_theta_est(graft_theta_and(cs, ps))").as("n_both"),
          expr("graft_theta_est(graft_theta_or(cs, ps))").as("n_either"))
        .orderBy("t")
    },

    "ds_nominal_count_days" -> { (s, dir) =>
      // nominal streams (one per user, value = event_type JSON-ish) get
      // count-only downsampling (SURVEY §1.4)
      val nom = events(s, dir).select(
        concat(lit("u"), col("user_id")).as("stream_id"),
        timestamp_seconds(unix_timestamp(col("ts"))).as("t"),
        col("event_type").as("v_json"))
      Downsample.countOnlyToGranularity(nom, Granularity.Days)
        .select("stream_id", "t", "c", "t_first", "t_last", "t_mean")
        .orderBy("stream_id", "t")
    },

    "ds_stream_minutes" -> { (s, dir) =>
      // batch≡streaming: replay events through the Structured Streaming
      // downsample (watermark-closed buckets only) — the oracle is the
      // batch SQL with the completed-bucket rule at the final watermark
      import s.implicits._
      implicit val ctx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, java.sql.Timestamp, Double)]
      val name = s"stream_replay_${System.nanoTime()}"
      // streaming state partition count is pinned at checkpoint creation;
      // 8 shards is plenty for the replay's state volume and quarters the
      // per-micro-batch state-store commit overhead (a real deployment
      // sizes this to its executor count)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = graft.streaming.Streaming
          .downsample(mem.toDF.toDF("stream_id", "t", "v"), Granularity.Minutes)
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          val rows = eventStreams(s, dir).collect()
            .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
          mem.addData(rows.toSeq)
          q.processAllAvailable()
        } finally q.stop() // never leak a running query into later queries
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table(name)
        .select("stream_id", "t", "c", "s", "q", "l", "u", "m", "d",
          "t_first", "t_last", "t_mean")
        .orderBy("stream_id", "t")
    },

    "ds_stream_burstiness" -> { (s, dir) =>
      // batch≡streaming Fano: replay the full corpus TIME-ORDERED through
      // the O(1)-state streaming twin in 3 micro-batches (cuts land
      // mid-minute for many streams, so open buckets must carry across
      // batch boundaries), then take each stream's LAST snapshot — which
      // by construction equals the batch op, so the oracle SQL is
      // ds_burstiness's verbatim. Global time order mirrors a real
      // source's per-key in-order delivery.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.Streaming.Point]
      val name = s"burst_replay_${System.nanoTime()}"
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = graft.streaming.Streaming.burstinessStats(mem.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          val rows = eventStreams(s, dir).orderBy("t", "stream_id").collect()
            .map(r => graft.streaming.Streaming.Point(
              r.getString(0), r.getTimestamp(1), r.getDouble(2)))
          rows.grouped(rows.length / 3 + 1).foreach { b =>
            mem.addData(b.toSeq); q.processAllAvailable()
          }
        } finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table(name)
        .groupBy("stream_id")
        .agg(max(struct(col("total_events"), col("n_minutes"),
          col("q_sum"), col("fano_bp"))).as("snap"))
        .select(col("stream_id"), col("snap.n_minutes").as("n_minutes"),
          col("snap.total_events").as("total_events"),
          col("snap.fano_bp").as("fano_bp"))
        .where(col("n_minutes") >= 5)
        .withColumn("bursty",
          when(col("fano_bp") > 12000L, 1L).otherwise(0L))
        .orderBy("stream_id")
    },

    "ds_stream_sessions" -> { (s, dir) =>
      // batch≡streaming sessionization: replay events through
      // Streaming.sessionize (session_window, Append mode) — the oracle
      // is gap-based session SQL with the closed-session rule (last
      // event + gap <= final watermark)
      import s.implicits._
      implicit val ctx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, java.sql.Timestamp, Double)]
      val name = s"sess_replay_${System.nanoTime()}"
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = graft.streaming.Streaming
          .sessionize(mem.toDF.toDF("stream_id", "t", "v"), "30 minutes")
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          val rows = eventStreams(s, dir).collect()
            .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
          mem.addData(rows.toSeq)
          q.processAllAvailable()
        } finally q.stop() // never leak a running query into later queries
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table(name)
        .select("stream_id", "sess_start", "sess_end", "n_events", "v_sum")
        .orderBy("stream_id", "sess_start")
    },

    "ds_stream_gapfill" -> { (s, dir) =>
      // STREAMING gap-fill: the ds_gapfill_hours lane in flight — each
      // closed hour emits its mean, skipped hours emit immediately with
      // the last mean carried forward. The final open hour of each
      // stream never closes, so the oracle is the batch SQL with an
      // END-EXCLUSIVE grid (range(h0, h1)); 3 time-ordered micro-batches
      // cut mid-hour, so open-hour partial means must carry in state.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.Streaming.Point]
      val name = s"gapf_replay_${System.nanoTime()}"
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = graft.streaming.Streaming.gapFillHours(mem.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          val rows = events(s, dir).where(col("user_id") < 5)
            .select(concat_ws(":", col("user_id"), col("event_type"))
                .as("stream_id"),
              timestamp_seconds(unix_timestamp(col("ts"))).as("t"),
              col("value").as("v"))
            .orderBy("t", "stream_id", "v").collect()
            .map(r => graft.streaming.Streaming.Point(
              r.getString(0), r.getTimestamp(1), r.getDouble(2)))
          rows.grouped(rows.length / 3 + 1).foreach { b =>
            mem.addData(b.toSeq); q.processAllAvailable()
          }
        } finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table(name).orderBy("stream_id", "hr")
    },

    "ds_stream_downtime" -> { (s, dir) =>
      // STREAMING outage detection: the silence interval emits the
      // moment the stream's next point arrives (the alerting view);
      // aggregating the emitted events per stream — zero-filled over
      // the replayed stream universe — reproduces the batch ds_downtime
      // summary, so the oracle is shared verbatim.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.Streaming.Point]
      val name = s"down_replay_${System.nanoTime()}"
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      val rows = pointStreams(s, dir).orderBy("t", "stream_id").collect()
        .map(r => graft.streaming.Streaming.Point(
          r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      try {
        val q = graft.streaming.Streaming.downtime(mem.toDS(), 3600L)
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try rows.grouped(rows.length / 3 + 1).foreach { b =>
          mem.addData(b.toSeq); q.processAllAvailable()
        } finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      val universe = rows.map(_.stream_id).distinct.toSeq.toDF("stream_id")
      val agg = s.table(name).groupBy("stream_id")
        .agg(count(lit(1)).as("n"), max("outage_sec").as("mx"),
          sum("outage_sec").as("sm"))
      universe.join(agg, Seq("stream_id"), "left")
        .select(col("stream_id"),
          coalesce(col("n"), lit(0L)).as("n_outages"),
          coalesce(col("mx"), lit(0L)).as("max_outage_sec"),
          coalesce(col("sm"), lit(0L)).as("downtime_sec"))
        .orderBy("stream_id")
    },

    "dedup_stream_exact" -> { (s, dir) =>
      // watermark-bounded streaming EXACT dedup
      // (dropDuplicatesWithinWatermark — state holds 16-byte hashes
      // inside the horizon, never the corpus) under the gate: batch 1
      // delivers the distinct-text corpus (min-doc_id survivor prep
      // keeps the replay deterministic — cross-doc duplicate texts
      // would otherwise elect an arrival-order survivor), batch 2
      // RE-DELIVERS every row; in-horizon copies drop as duplicates and
      // out-of-horizon copies drop as late — either way batch 2 emits
      // nothing, so the output is exactly batch 1.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, String)]
      val name = s"dexact_replay_${System.nanoTime()}"
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = graft.streaming.Streaming
          .dedupExact(mem.toDF.toDF("doc_id", "ts", "text"))
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          // +1 day: a ts at exactly epoch 0 sits ON the initial
          // watermark and is dropped as late before it ever reaches
          // the dedup state
          val rows = tbl(s, dir, "documents").select("doc_id", "text")
            .groupBy("text").agg(min("doc_id").as("doc_id"))
            .select(col("doc_id"),
              timestamp_seconds(col("doc_id") + 86400L).as("ts"),
              col("text"))
            .collect().map(r => (r.getLong(0), r.getTimestamp(1),
              r.getString(2))).toSeq
          mem.addData(rows)
          q.processAllAvailable()
          mem.addData(rows) // full re-delivery
          q.processAllAvailable()
        } finally q.stop() // never leak a running query into later queries
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table(name).select("doc_id", "content_hash").orderBy("doc_id")
    },

    "ds_stream_join" -> { (s, dir) =>
      // STREAM-STREAM interval join replay (Streaming.intervalJoin): the
      // click stream enriched with same-user purchases within ±1 h. Both
      // sides are watermarked and the join bounds event time in BOTH
      // directions — the state-expiry contract that keeps the join
      // runnable on unbounded streams; inner-join rows emit as matched,
      // so a single-batch replay equals the batch interval join (the
      // oracle). user_id < 30 bounds the pair volume.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val memL = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, java.sql.Timestamp, Double)]
      val memR = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, java.sql.Timestamp, Double)]
      val name = s"sjoin_replay_${System.nanoTime()}"
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val joined = graft.streaming.Streaming.intervalJoin(
          memL.toDF.toDF("stream_id", "t", "v"),
          memR.toDF.toDF("stream_id", "rt", "rv"),
          before = "3600 seconds", after = "3600 seconds")
        val q = joined.writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          def side(tp: String) = events(s, dir)
            .where(col("event_type") === tp && col("user_id") < 30)
            .select(col("user_id").cast("string"),
              timestamp_seconds(unix_timestamp(col("ts"))), col("value"))
            .collect()
            .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
          memL.addData(side("click").toSeq)
          memR.addData(side("purchase").toSeq)
          q.processAllAvailable()
        } finally q.stop() // never leak a running query into later queries
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table(name).orderBy("stream_id", "t", "rt", "v", "rv")
    },

    // ---- LLM-pipeline surface (north-star extras) ---------------------

    "doc_stats" -> { (s, dir) =>
      tbl(s, dir, "documents")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          avg("n_chars").as("avg_chars"),
          min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))
        .orderBy("lang", "source")
    },

    "doc_token_stats" -> { (s, dir) =>
      TextStats.tokenStats(tbl(s, dir, "documents")).orderBy("doc_id")
    },

    "doc_quality" -> { (s, dir) =>
      TextStats.qualityStats(tbl(s, dir, "documents")).orderBy("doc_id")
    },

    "doc_repetition" -> { (s, dir) =>
      // Gopher-style repetition filters: duplicated word/bigram fractions
      TextStats.repetitionStats(tbl(s, dir, "documents")).orderBy("doc_id")
    },

    "text_readability" -> { (s, dir) =>
      // syllable-density readability proxy (the Flesch family's
      // syllables-per-word term; the corpus has no sentence punctuation,
      // so the sentence term is out of scope by construction): vowel
      // GROUPS approximate syllables, one regex pass per document, all
      // ratios in exact integer bp (10000·n div d). Pure projection —
      // no shuffle at all; the regex class [aeiou]+ sits in the
      // RE2 ⊆ Java common subset.
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_words"),
          size(regexp_extract_all(col("text"), lit("[aeiou]+"), lit(0)))
            .cast("long").as("n_syl"))
        .withColumn("syl_per_word_bp", expr("(10000L * n_syl) div n_words"))
        .withColumn("vowel_density_bp", expr("(10000L * n_syl) div n_chars"))
        .orderBy("doc_id")
    },

    "dedup_exact" -> { (s, dir) =>
      Dedup.exact(tbl(s, dir, "documents")).orderBy("h")
    },

    "dedup_normalized" -> { (s, dir) =>
      // normalization-keyed exact dedup (the C4/Gopher "fuzzy-exact" lane):
      // case/punctuation/whitespace variants collapse to one key. Variants
      // injected deterministically: docs 0..19 get an UPPERCASED copy with
      // trailing " !!" at doc_id+4000000 — byte-distinct (invisible to
      // dedup_exact), normalization-equal. Text never shuffles: only the
      // 16-byte md5 of the normalized form + the id leave the scan.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.unionByName(docs.where(col("doc_id") < 20)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          concat(upper(col("text")), lit(" !!")).as("text")))
      Dedup.normalized(corpus).orderBy("h")
    },

    "pipe_dedup_priority" -> { (s, dir) =>
      // cross-source dedup with SOURCE-PRIORITY keeper election — the
      // real pipeline rule ("prefer the curated mirror over the crawl
      // copy"), not min-id. Election key packs (priority, id) into one
      // BIGINT (prio·10⁸ + id) so both min() and min_by() stay
      // single-key exact cross-engine. Injected: docs 0..19 get a
      // 'curated' mirror at id+5000000 with priority 0 < crawl 1 — the
      // keeper is the MIRROR despite its higher id. Same one-shuffle
      // hash-groupBy shape as dedup_exact.
      val docs = tbl(s, dir, "documents").select("doc_id", "text", "source")
      val corpus = docs.unionByName(docs.where(col("doc_id") < 20)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"),
          lit("curated").as("source")))
      corpus
        .withColumn("ekey",
          (when(col("source") === "curated", 0L).otherwise(1L) * 100000000L)
            + col("doc_id"))
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(count(lit(1)).as("dup_count"),
          (min("ekey") % 100000000L).as("keep_id"),
          min_by(col("source"), col("ekey")).as("keep_source"))
        .orderBy("h")
    },

    "dedup_minhash" -> { (s, dir) =>
      // oracled: the operator is LSH-candidates -> exact-Jaccard verify, so
      // its output equals the exact >= threshold pair set whenever banding
      // recall is total. Recall is NOT total in expectation near the
      // threshold (r=4,b=16 capture probability at j=0.63, the weakest
      // true pair here, is ~94%) — but the hash family and the gate
      // corpora are BOTH deterministic, and recall totality on them is
      // pinned by OperatorsSpec's brute-force cross-check at sf0.001 plus
      // the local compare at sf0.01, so the match cannot drift between
      // runs. Near-dups are injected deterministically (FIXTURES §2):
      // docs 0..19 get a variant with the first 2 words replaced.
      val corpus = withInjectedVariants(
        tbl(s, dir, "documents").select("doc_id", "text"))
      Dedup.nearDuplicates(corpus, threshold = 0.3)
        .orderBy("doc_a", "doc_b")
    },

    "dedup_clusters" -> { (s, dir) =>
      // transitive closure of the near-dup pairs: min-label propagation
      // assigns each clustered doc its cluster representative ("keep one
      // per cluster" dedup). Oracle = recursive CTE over the same exact
      // >= 0.3 Jaccard pair graph.
      val corpus = withInjectedVariants(
        tbl(s, dir, "documents").select("doc_id", "text"))
      Dedup.connectedComponents(
          Dedup.nearDuplicates(corpus, threshold = 0.3))
        .orderBy("doc_id")
    },

    "dedup_clusters_incr" -> { (s, dir) =>
      // INCREMENTAL cluster maintenance: the standing label map folds a
      // new batch of near-dup edges by label-space collapse (full
      // propagation only on the batch-sized collapsed graph, never the
      // corpus) — output ≡ from-scratch CC on the union, so it shares
      // dedup_clusters' oracle verbatim; equivalence additionally
      // pinned on random graphs in OperatorsSpec.
      val corpus = withInjectedVariants(
        tbl(s, dir, "documents").select("doc_id", "text"))
      val pairs = Dedup.nearDuplicates(corpus, threshold = 0.3)
        .localCheckpoint(true) // split into the two delivery halves
      val half1 = pairs.where((col("doc_a") + col("doc_b")) % 2 === 0)
      val half2 = pairs.where((col("doc_a") + col("doc_b")) % 2 =!= 0)
      Dedup.connectedComponentsIncremental(
          Dedup.connectedComponents(half1), half2)
        .orderBy("doc_id")
    },

    "emb_clusters" -> { (s, dir) =>
      // embedding-space cluster collapse: banded-LSH near-pair graph
      // (equi-join candidates, exact rerank) -> distributed min-label
      // connected components — the same composition as dedup_clusters but
      // over cosine edges. Oracle = recursive CTE over the exact pair set.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      Dedup.connectedComponents(
          Similarity.bandedNearPairs(withInjectedEmbVariants(e), 0.9, dim = 64)
            .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
        .orderBy("doc_id")
    },

    "dedup_incremental" -> { (s, dir) =>
      // steady-state ingest dedup: a NEW batch (20 injected near-dup
      // variants + 20 reversed-text unique docs) checked against the
      // existing corpus — batch-bands x corpus-bands candidate join,
      // never corpus self-join. Oracle = exact batch x corpus Jaccard.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      Dedup.incrementalNearDuplicates(docs, incrementalGateBatch(docs),
          threshold = 0.3)
        .orderBy("doc_id", "dup_of")
    },

    "dedup_simhash" -> { (s, dir) =>
      // fully oracled: the 60-bit fingerprint is md5-based (DuckDB can
      // recompute it bit-for-bit) and maxHamming=3 < 4 bands makes
      // banding recall STRUCTURALLY total (pigeonhole), so the output
      // equals DuckDB's brute-force all-pairs hamming join by
      // construction — no probabilistic recall pinning needed
      val corpus = withInjectedVariants(
        tbl(s, dir, "documents").select("doc_id", "text"))
      Dedup.simhashNearDuplicates(corpus, maxHamming = 3)
        .orderBy("doc_a", "doc_b")
    },

    "mm_pipeline" -> { (s, dir) =>
      // multimodal plumbing — binary + metadata → decode stub → features →
      // per-kind stats (real schema/partitioning; md5-derived stub codec,
      // so the aggregates hash-verify against the SQL oracle)
      import s.implicits._
      val media = graft.operators.Multimodal.mediaFromDocuments(
        tbl(s, dir, "documents"))
      val dec = graft.operators.Multimodal.decodeImages(media, partitions = 8)
      val feats = graft.operators.Multimodal.extractFeatures(media, dim = 16)
      media.toDF.select(col("media_id"), col("meta.kind").as("kind"))
        .join(dec.toDF.select(col("media_id"), col("meanLuma")), "media_id")
        .join(feats.toDF.select(col("media_id"),
          expr("aggregate(feature, 0D, (a, x) -> a + CAST(x AS DOUBLE))").as("feat_sum")),
          "media_id")
        .groupBy("kind")
        .agg(count(lit(1)).as("n"), avg("meanLuma").as("avg_luma"),
          avg("feat_sum").as("avg_feat_sum"))
        .orderBy("kind")
    },

    "emb_topk_cosine" -> { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.cosineTopK(e, broadcast(q), 5)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_topk_mips" -> { (s, dir) =>
      // max-inner-product retrieval (unnormalized relevance embeddings):
      // same broadcast-NLJ shape as cosine, ranked on the raw dot —
      // magnitude is signal, so no norm division
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.mipsTopK(e, broadcast(q), 5)
        .withColumn("ip", round(col("ip"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_topk_filtered" -> { (s, dir) =>
      // hybrid search: top-3 cosine neighbors restricted to the query's
      // own label — equi-join on the filter key, never a cross join
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"),
          col("label"))
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"), col("label"))
      Similarity.cosineTopKGrouped(e, broadcast(q), 3)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_knn_label" -> { (s, dir) =>
      // kNN label propagation: held-out queries (vec_id < 15) classified
      // by majority vote of their 7 exact-cosine nearest labeled corpus
      // neighbors (vote ties -> smallest label). Neighbor sets are pinned
      // by the shared (sim desc, vec_id) tie-break, votes are integers —
      // the whole row is exact cross-engine. Scoring join = the same
      // broadcast NLJ as emb_topk_cosine; at corpus-scale query sets the
      // IVF/LSH candidate generators slot in for the NLJ.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"),
          col("label").cast("long").as("label"))
      val corpus = e.where(col("vec_id") >= 15)
      val q = e.where(col("vec_id") < 15)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.knnClassify(corpus, broadcast(q), 7)
        .join(e.select(col("vec_id").as("qid"), col("label").as("true_label")),
          "qid")
        .select(col("qid"), col("pred_label"), col("votes"),
          col("true_label"),
          when(col("pred_label") === col("true_label"), 1L).otherwise(0L)
            .as("hit"))
        .orderBy("qid")
    },

    "emb_near_pairs" -> { (s, dir) =>
      // embedding-cosine near-dup: corpus is random (max cross sim ~0.51),
      // so near-dups are injected: vec_id+100000 with emb[0] shifted +0.05
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val all = withInjectedEmbVariants(e)
      // banded LSH candidates + exact rerank — equi-join on (band,
      // bucket), never the O(n²) all-pairs join; recall vs the exact
      // oracle is total on the gate corpora (cross-checked in
      // OperatorsSpec against Similarity.cosineNearPairs)
      Similarity.bandedNearPairs(all, 0.9, dim = 64)
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
        .orderBy("id_a", "id_b")
    },

    "dedup_stream_near" -> { (s, dir) =>
      // STREAMING near-dedup under the oracle: the gate corpus replayed
      // doc_id-ordered through Streaming.dedupNear in three micro-batches,
      // then the final batch RE-SENT (at-least-once at the data level —
      // every re-sent doc is an exact dup of its first arrival, so the
      // survivor set must not change). First-arrival-wins + id-ordered
      // arrival ⇒ survivors equal the batch rule "drop every doc_b of a
      // qualifying (doc_a < doc_b) pair", which the oracle recomputes by
      // exact all-pairs Jaccard.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val work = java.nio.file.Files
        .createTempDirectory("graft-neardedup-q").toString
      val corpus = withInjectedVariants(
        tbl(s, dir, "documents").select("doc_id", "text"))
      val rows = corpus.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val src = mem.toDF.toDF("doc_id", "text")
        val q = graft.streaming.Streaming
          .dedupNear(src, s"$work/state", s"$work/out", threshold = 0.3)
          .option("checkpointLocation", s"$work/ckpt").start()
        try {
          val (b1, rest) = rows.splitAt(rows.length / 3)
          val (b2, b3) = rest.splitAt(rest.length / 2)
          mem.addData(b1.toSeq); q.processAllAvailable()
          mem.addData(b2.toSeq); q.processAllAvailable()
          mem.addData(b3.toSeq); q.processAllAvailable()
          mem.addData(b3.toSeq); q.processAllAvailable() // re-sent data
        } finally q.stop() // never leak a running query into later queries
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.read.parquet(s"$work/out").select("doc_id").orderBy("doc_id")
    },

    "emb_semdedup" -> { (s, dir) =>
      // SemDeDup: stride-sampled coarse cells (centroids from the BASE
      // corpus, ids = sampled vec_ids) + intra-cell cosine collapse at
      // tau=0.95; the only >=tau pairs are the injected +100000 variants
      // (cosine >= 0.9987; organic max cross-sim ~0.51)
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val all = withInjectedEmbVariants(e)
      val cents = Similarity.strideCentroids(e, 50)
      Similarity.semDedup(all, cents, 0.95)
        .select(col("vec_id"), col("cell"), col("dup_of"),
          round(col("sim"), 6).as("sim"))
        .orderBy("vec_id")
    },

    "emb_cluster_stats" -> { (s, dir) =>
      // cluster observability over the coarse cells (the k-means QA
      // view run before SemDeDup/prototype passes — spot dead, loose,
      // or skewed cells): per cell n_vecs, summed member→centroid
      // cosine in exact fixed point (floor(csim·10⁶) per member —
      // csim doubles are bit-identical cross-engine via the graft_dot
      // ≡ list_dot_product fold, and BIGINT sums are order-free), and
      // the weakest member's cosine (min — order-free, emitted raw).
      // Zero-shuffle codegen assignment + ONE hash agg.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cents = Similarity.strideCentroids(e, 50)
      Similarity.assignCells(e, cents)
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"),
          sum(expr("CAST(floor(csim * 1000000) AS BIGINT)"))
            .as("cohesion_fp"),
          min("csim").as("min_csim"))
        .orderBy("cell")
    },

    "emb_semdedup_incr" -> { (s, dir) =>
      // incremental SemDeDup: the 20 injected variants arrive as a batch
      // against the BASE corpus's pre-assigned cell index; a variant
      // whose +0.05 shift keeps it in its original's cell collapses onto
      // it, a cell-boundary flip surfaces as a keeper
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val batch = e.where(col("vec_id") < 20).select(
        (col("vec_id") + 100000).as("vec_id"),
        concat(array(element_at(col("emb"), 1) + 0.05),
          expr("slice(emb, 2, 63)")).as("emb"))
      val cents = Similarity.strideCentroids(e, 50)
      val idx = Similarity.assignCells(e, cents).localCheckpoint(true)
      Similarity.semDedupIncremental(idx, batch, cents, 0.95)
        .select(col("vec_id"), col("cell"), col("dup_of"),
          round(col("sim"), 6).as("sim"))
        .orderBy("vec_id")
    },

    "emb_semdedup_stream" -> { (s, dir) =>
      // STREAMING semantic dedup under the oracle: the emb_semdedup gate
      // corpus replayed vec_id-ordered in three micro-batches + a re-sent
      // final batch (every re-sent vector is an exact dup of its first
      // arrival — decisions must not change). First-arrival-wins +
      // ordered arrival ⇒ the decision table equals batch semDedup, so
      // this query shares emb_semdedup's oracle SQL verbatim.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val work = java.nio.file.Files
        .createTempDirectory("graft-semstream-q").toString
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cents = Similarity.strideCentroids(e, 50)
      val rows = withInjectedEmbVariants(e).orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Double])]
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val src = mem.toDF.toDF("vec_id", "emb")
        val q = graft.streaming.Streaming
          .semDedupStream(src, cents, s"$work/state", s"$work/out", 0.95)
          .option("checkpointLocation", s"$work/ckpt").start()
        try {
          val (b1, rest) = rows.splitAt(rows.length / 3)
          val (b2, b3) = rest.splitAt(rest.length / 2)
          mem.addData(b1.toSeq); q.processAllAvailable()
          mem.addData(b2.toSeq); q.processAllAvailable()
          mem.addData(b3.toSeq); q.processAllAvailable()
          mem.addData(b3.toSeq); q.processAllAvailable() // re-sent data
        } finally q.stop() // never leak a running query into later queries
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      // re-sent rows duplicate their vec_ids in the decision log (new
      // batch_id, all marked dup): keep each vector's FIRST decision
      s.read.parquet(s"$work/out")
        .groupBy("vec_id")
        .agg(min(struct(col("batch_id"), col("cell"), col("dup_of"),
          col("sim"))).as("k"))
        .select(col("vec_id"), col("k.cell").as("cell"),
          col("k.dup_of").as("dup_of"), round(col("k.sim"), 6).as("sim"))
        .orderBy("vec_id")
    },

    "emb_prototypes" -> { (s, dir) =>
      // prototypicality sampling (SSL-prune/D4 family): top-3 most
      // prototypical vectors per coarse cell by cosine-to-centroid
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cents = Similarity.strideCentroids(e, 50)
      Similarity.prototypes(e, cents, 3)
        .select(col("cell"), col("vec_id"), round(col("csim"), 6).as("csim"),
          col("rnk"))
        .orderBy("cell", "rnk")
    },

    "dedup_ngram_jaccard" -> { (s, dir) =>
      // exact word-3gram Jaccard over all pairs of the first 50 docs plus
      // injected variants of the first 10 (corpus has no real near-dups in
      // this slice at sf>=0.01)
      val corpus = withInjectedVariants(
        tbl(s, dir, "documents").where(col("doc_id") < 50)
          .select("doc_id", "text"), firstN = 10)
      val sh = Dedup.shingles(corpus)
      val a = sh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("jaccard",
          size(array_intersect(col("sh_a"), col("sh_b"))) /
            size(array_union(col("sh_a"), col("sh_b"))))
        .where(col("jaccard") > 0.2)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy("id_a", "id_b")
    },

    "dedup_setsim_prefix" -> { (s, dir) =>
      // EXACT Jaccard>=0.8 set-similarity join over the FULL corpus with
      // structurally-total recall — the PPJoin prefix filter: shingles
      // ordered rarest-first, only the first n − ceil(0.8n) + 1 per doc
      // enter the candidate equi-join (the smallest common shingle of any
      // qualifying pair provably lands in both prefixes), then exact
      // intersection verify. The deterministic complement of
      // dedup_minhash: no banding probability, no all-pairs — measured
      // ~1% of all-pairs candidates at sf0.1. All integer arithmetic
      // (threshold 4/5 rational), so the full pipeline runs under the
      // hash gate.
      Dedup.setSimilarityJoin(
          tbl(s, dir, "documents").select("doc_id", "text"))
        .orderBy("doc_a", "doc_b")
    },

    "dedup_winnow" -> { (s, dir) =>
      // MOSS winnowing fingerprint overlap: min-of-window over positional
      // md5 4-gram hashes (window 8), full windows only, boilerplate
      // fingerprints (df > 20) pruned before the pair equi-join. The
      // CONTIGUOUS-overlap complement of the set-based lanes: any shared
      // run of >= w+n-1 = 11 words is structurally guaranteed to share a
      // fingerprint (winnowing theorem), at ~2/(w+1) fingerprint density.
      Dedup.winnowPairs(tbl(s, dir, "documents").select("doc_id", "text"))
        .orderBy(desc("shared_fps"), col("doc_a"), col("doc_b"))
    },

    "pipe_contam_winnow" -> { (s, dir) =>
      // FUZZY decontamination: training docs sharing winnowing
      // fingerprints with the eval set (doc_id < 5 stands in for the
      // benchmark) — catches a verbatim run >= 11 words inside edited
      // text, the leakage mode exact n-gram containment misses. The
      // eval side is metadata-scale and broadcasts; df > 20 boilerplate
      // fingerprints pruned on the corpus side only (both engines).
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      Dedup.winnowContamination(docs, docs.where(col("doc_id") < 5))
        .orderBy(desc("n_shared_fps"), col("doc_id"))
    },

    "pipe_contam_verified" -> { (s, dir) =>
      // winnow candidates + EXACT verbatim-span verification (r15):
      // fingerprint-level hits confirmed by aligned 11-word window
      // equality — n_spans = 0 rows are the false-positive report the
      // structural-recall lane can't give. Candidate-bounded cost; all
      // string/integer, so the oracle replays it verbatim.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      Dedup.winnowContaminationVerified(docs, docs.where(col("doc_id") < 5))
        .orderBy(desc("n_shared_fps"), col("doc_id"))
    },

    "pipe_contam_winnow_stream" -> { (s, dir) =>
      // STREAMING decontamination under the oracle: the corpus replayed
      // in three micro-batches through winnowContaminationStream, with
      // the eval set (doc_id < 5) and the corpus's own df>20 boilerplate
      // tail as the broadcast screening inputs. The per-doc decision is
      // a pure function of the doc against those fixed sets, so the
      // flagged rows are batch-split-invariant and share
      // pipe_contam_winnow's oracle SQL verbatim.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val work = java.nio.file.Files
        .createTempDirectory("graft-contamw-q").toString
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val boil = Dedup.winnowFingerprints(docs)
        .groupBy("fp").agg(count(lit(1)).as("df"))
        .where(col("df") > 20).select("fp")
      val rows = docs.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val src = mem.toDF.toDF("doc_id", "text")
        val q = graft.streaming.Streaming
          .winnowContaminationStream(src, docs.where(col("doc_id") < 5),
            boil, s"$work/out")
          .option("checkpointLocation", s"$work/ckpt").start()
        try {
          val (b1, rest) = rows.splitAt(rows.length / 3)
          val (b2, b3) = rest.splitAt(rest.length / 2)
          Seq(b1, b2, b3).foreach { bd =>
            mem.addData(bd.toSeq); q.processAllAvailable()
          }
        } finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.read.parquet(s"$work/out")
        .select("doc_id", "n_shared_fps", "n_eval_docs")
        .orderBy(desc("n_shared_fps"), col("doc_id"))
    },

    "dedup_cdc_chunks" -> { (s, dir) =>
      // content-defined chunking (rsync/borg boundaries at word level):
      // a chunk starts where the 4-gram ending just before it hashes
      // ≡ 0 mod 16 (expected ~16-word chunks that RE-ALIGN after
      // insertions, unlike fixed spans); shared chunk hashes counted
      // across docs — the shifted/edited near-copy detector
      Dedup.cdcSharedChunks(tbl(s, dir, "documents").select("doc_id", "text"))
        .orderBy(desc("n_occ"), col("h"))
    },

    "dedup_containment" -> { (s, dir) =>
      // asymmetric n-gram CONTAINMENT |A∩B| / |A| — quote/excerpt
      // detection: a short doc embedded in a longer one scores ~1 where
      // symmetric Jaccard stays tiny and minhash never fires. Exact
      // all-pairs on the bounded 50-doc slice + injected 8-word prefix
      // excerpts of the first 5 docs (each contained in its original).
      val base = tbl(s, dir, "documents").where(col("doc_id") < 50)
        .select("doc_id", "text")
      val excerpts = base.where(col("doc_id") < 5)
        .select((col("doc_id") + 3000000).as("doc_id"),
          expr("concat_ws(' ', slice(split(text, ' '), 1, 8))").as("text"))
      val sh = Dedup.shingles(base.unionByName(excerpts))
      val a = sh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b"))
      a.join(b, col("id_a") =!= col("id_b"))
        .withColumn("containment",
          size(array_intersect(col("sh_a"), col("sh_b"))) / size(col("sh_a")))
        .where(col("containment") >= 0.8)
        .select("id_a", "id_b", "containment")
        .orderBy("id_a", "id_b")
    },

    "dedup_spans" -> { (s, dir) =>
      // stride-1 exact repeated-span detection (substring-dedup family):
      // per doc, how many of its 8-token windows occur anywhere else in
      // the corpus — catches duplicated passages that the aligned
      // paragraph windows of pipe_dedup_paragraphs shift right past.
      // The DEFAULT 120-bit production lane runs UNDER THE ORACLE (DuckDB
      // recomputes both md5 halves); the 60-bit oracleHash lane is pinned
      // ≡ to it on this corpus by OperatorsSpec
      Dedup.duplicateSpans(tbl(s, dir, "documents"), k = 8)
        .orderBy("doc_id")
    },

    "text_lang_id" -> { (s, dir) =>
      TextStats.languageId(tbl(s, dir, "documents")).orderBy("doc_id")
    },

    "text_logprob" -> { (s, dir) =>
      // self-trained unigram LM score: token freq table (one shuffle) +
      // broadcast join back, mean ln P(token) per doc
      TextStats.unigramLogProb(tbl(s, dir, "documents")).orderBy("doc_id")
    },

    "text_bigram_lm" -> { (s, dir) =>
      // self-trained bigram LM with additive smoothing (CCNet-style
      // perplexity-filter signal): mean ln P(w2|w1) per doc
      TextStats.bigramLogProb(tbl(s, dir, "documents")).orderBy("doc_id")
    },

    "text_ppl_buckets" -> { (s, dir) =>
      // CCNet's head/middle/tail split: per-source perplexity tertiles
      // from the self-trained bigram LM (bucket 1 = most fluent). Ranks
      // run on round(logprob, 6) with a doc_id tiebreak — the raw avg is
      // float-summation-order noisy across engines, the rounded key is
      // stable; per-source window, so parallelism = #sources
      import org.apache.spark.sql.expressions.Window
      val lp = TextStats.bigramLogProb(tbl(s, dir, "documents"))
        .withColumn("lp6", round(col("logprob"), 6))
      val d = tbl(s, dir, "documents").select("doc_id", "source")
      val w = Window.partitionBy("source").orderBy(col("lp6").desc, col("doc_id"))
      lp.join(d, "doc_id")
        .withColumn("bucket", ntile(3).over(w).cast("long"))
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n_bigrams").as("n_bigrams"))
        .orderBy("source", "bucket")
    },

    "text_bpe_encode" -> { (s, dir) =>
      // BPE tokenizer training at corpus scale: 40 merges learned on the
      // word-frequency table (training never iterates the corpus — one
      // groupBy collapses it to vocabulary scale), then replayed over
      // the docs; per-source compression stats. The iterative merge
      // argmax has no fixed-depth SQL mirror, but the ENCODE does: the
      // learned merge table rides into the oracle as literals
      // (bpeOracle — the emb_pca move) where a chr(31)-framed replace()
      // chain replays it exactly, so the query hashes under the full
      // gate since r11.
      val docs = tbl(s, dir, "documents").select("doc_id", "source", "text")
      val merges = graft.operators.Bpe.train(docs, nMerges = 40)
      bpeFitted = Some(merges)
      graft.operators.Bpe.encodeStats(docs, merges)
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"),
          sum("n_subwords").as("n_subwords"))
        .orderBy("source")
    },

    "text_kl_by_source" -> { (s, dir) =>
      // per-source token-distribution drift vs the corpus mixture:
      // KL(P(tok|source) || P(tok)) per source
      TextStats.tokenKlDivergence(tbl(s, dir, "documents"))
        .orderBy("source")
    },

    "q_bm25_topk" -> { (s, dir) =>
      // keyword retrieval: BM25 top-5 per query (queries = the first 5
      // docs' own text; each recalls itself at rank 1), inverted-index
      // equi-join on token — no doc×query cartesian
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.bm25TopK(docs, broadcast(queries), 5)
        .orderBy("qid", "rnk")
    },

    "q_bm25_filtered" -> { (s, dir) =>
      // attribute-filtered indexed BM25 (r15): candidates restricted to
      // an allowed doc set (doc_id % 3 = 1 stands in for a metadata
      // predicate), corpus stats UNfiltered — surviving docs score
      // identically to q_bm25_indexed; ranking re-fills to k from the
      // allowed pool. Shares the read-only index fixture; the semi-join
      // runs before any term math.
      val work = bm25BaseIndex(s, dir)
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      val allowed = docs.where(col("doc_id") % 3 === 1).select("doc_id")
      Retrieval.bm25TopKIndexedFiltered(s, work, broadcast(queries), 5,
          broadcast(allowed))
        .orderBy("qid", "rnk")
    },

    "q_bm25_mor" -> { (s, dir) =>
      // MERGE-ON-READ takedown on the inverted index (r15): decoy
      // copies of the first 20 docs delete as an append-only tombstone
      // sidecar — no postings/doclens bucket rewritten — and the search
      // anti-joins candidates against it. Corpus stats (df, N, avgdl)
      // deliberately stay PHYSICAL until the fold (Delta DV stance), so
      // the oracle scores over docs ∪ decoys and filters candidates.
      // Without the mask every qid's rank-2 would be its own decoy.
      import s.implicits._
      val work = java.nio.file.Files
        .createTempDirectory("graft-bm25-mor").toString + "/idx"
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val decoys = docs.where(col("doc_id") < 20)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      Retrieval.buildIndex(docs.unionByName(decoys), work)
      Retrieval.deleteFromIndexMor(s, work,
        (10000000L until 10000020L).toDF("doc_id"))
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.bm25TopKIndexed(s, work, broadcast(queries), 5)
        .orderBy("qid", "rnk")
    },

    "q_maxsim_rerank" -> { (s, dir) =>
      // late-interaction retrieval (ColBERT MaxSim, r15): BM25 top-20
      // first stage, then Σ_q max_d token-level dot rerank over
      // md5-derived per-token embeddings (dim 8) — deployed shape:
      // MaxSim reranks a BOUNDED candidate list, never corpus×query
      // token cartesians. Sum folds in BIGINT fixed point; ranks tie on
      // doc_id.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      val cands = Retrieval.bm25TopK(docs, broadcast(queries), 20)
        .select("qid", "doc_id")
      val dTok = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "").distinct()
      val qTok = queries.select(col("qid"),
          explode(split(col("qtext"), " ")).as("tok"))
        .where(col("tok") =!= "").distinct()
      Retrieval.maxSimRerank(cands,
          Retrieval.tokenVectors(qTok, "tok", 8),
          Retrieval.tokenVectors(dTok, "tok", 8), k = 5)
        .orderBy("qid", "rnk")
    },

    "q_bm25_indexed" -> { (s, dir) =>
      // BM25 through a MATERIALIZED inverted index: bucketed postings +
      // doclens on disk, search reads ONLY the query tokens' bucket dirs
      // (I/O ∝ matched vocabulary, not corpus) and recomputes df exactly
      // from them; identical scores to q_bm25_topk by construction —
      // same oracle verbatim
      val work = bm25BaseIndex(s, dir)
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.bm25TopKIndexed(s, work, queries, 5)
        .orderBy("qid", "rnk")
    },

    "q_bm25_maintained" -> { (s, dir) =>
      // the inverted index under its FULL LIFECYCLE (the
      // emb_ann_ivf_maintained move for text): build on ⅔ of the corpus
      // plus 100 decoy docs (shifted-id copies — the rows a takedown /
      // dedup purge later removes), append the remaining ⅓, DELETE the
      // decoys via the touched-buckets-only COW lane, then search.
      // Final index content ≡ the full corpus, so scores match
      // q_bm25_topk verbatim — same oracle; post-delete ≡ fresh-build
      // is additionally pinned in OperatorsSpec.
      val work = java.nio.file.Files
        .createTempDirectory("graft-bm25-mnt").toString + "/idx"
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val decoys = docs.where(col("doc_id") < 100)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      Retrieval.buildIndex(
        docs.where(col("doc_id") % 3 < 2).unionByName(decoys), work)
      Retrieval.appendToIndex(docs.where(col("doc_id") % 3 === 2), work)
      import s.implicits._
      Retrieval.deleteFromIndex(s, work,
        (10000000L until 10000100L).toDF("doc_id"))
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.bm25TopKIndexed(s, work, queries, 5)
        .orderBy("qid", "rnk")
    },

    "q_lm_dirichlet" -> { (s, dir) =>
      // Dirichlet-smoothed query-likelihood ranking (the LM scoring
      // family next to BM25 — rank-equivalent matched-terms form):
      // qtf·ln(1 + tf·|C|/(μ·cf)) summed over shared terms plus the
      // qlen·ln(μ/(dl+μ)) length norm, round-6 + doc_id rank key. All
      // inputs exact integers; the oracle recomputes the expression
      // verbatim.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.lmDirichletTopK(docs, broadcast(queries), 5)
        .orderBy("qid", "rnk")
    },

    "q_lm_dirichlet_indexed" -> { (s, dir) =>
      // the same LM scoring served from the persisted index: tf/dl ride
      // in the posting rows, cf is exact from each token's home bucket,
      // |C| is the stats sidecar's sum_dl — nothing corpus-sized on the
      // serving path, scores identical ⇒ oracle shared verbatim.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.lmDirichletTopKIndexed(s, bm25BaseIndex(s, dir), queries, 5)
        .orderBy("qid", "rnk")
    },

    "q_map_eval" -> { (s, dir) =>
      // mean-average-precision eval (the set-retrieval metric next to
      // q_mrr_eval's single-relevant rank and q_ndcg_eval's graded
      // gain): same mid-slice queries and same-source relevance as the
      // nDCG gate, AP@10 in EXACT integer ppm — P@k fractions share
      // denominator lcm(1..10) = 2520, so ap_ppm = (10⁶·Σ_{k rel}
      // hits_k·(2520 div k)) div (min(R,10)·2520), pure BIGINT on both
      // engines.
      val docs = tbl(s, dir, "documents").select("doc_id", "source", "text")
      val queries = docs.where(col("doc_id") < 20)
        .select(col("doc_id").as("qid"), col("source").as("qsource"),
          expr("concat_ws(' ', slice(split(text, ' '), 5, 8))").as("qtext"))
        .localCheckpoint(true) // feeds the run, the grades AND R
      val run = Retrieval.bm25TopK(docs.select("doc_id", "text"),
        broadcast(queries.select("qid", "qtext")), 10)
      val graded = run
        .join(broadcast(queries.select("qid", "qsource")), "qid")
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .withColumn("rel",
          when(col("doc_id") === col("qid") ||
            col("source") === col("qsource"), 1L).otherwise(0L))
      val wcum = Window.partitionBy("qid").orderBy("rnk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ap = graded
        .withColumn("hits_k", sum("rel").over(wcum))
        .groupBy("qid")
        .agg(sum(when(col("rel") === 1L,
            col("hits_k") * expr("2520L div rnk")).otherwise(0L))
          .as("ap_num"),
          sum("rel").as("n_rel_in_10"))
      val nSame = docs.groupBy("source").agg(count(lit(1)).as("ns"))
      queries.join(broadcast(nSame), col("qsource") === col("source"))
        .select(col("qid"), col("ns"))
        .join(ap, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_rel_in_10"), lit(0L)).as("n_rel_in_10"),
          expr("coalesce(ap_num, 0L) * 1000000L div (least(ns, 10L) * 2520L)")
            .as("ap_ppm"))
        .orderBy("qid")
    },

    "q_hybrid_rrf" -> { (s, dir) =>
      // hybrid search: reciprocal-rank fusion of the BM25 top-20 and the
      // exact-cosine top-20 per query (doc_id ≡ vec_id in the testdata);
      // rrf sums two exact rationals in fixed order — hash-exact oracle
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      val b20 = Retrieval.bm25TopK(docs, broadcast(queries), 20)
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val qv = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      val c20 = Similarity.cosineTopK(e, broadcast(qv), 20)
        .select(col("qid"), col("cid").as("doc_id"), col("rnk"))
      Retrieval.hybridRrf(b20, c20, 10).orderBy("qid", "rnk")
    },

    "q_hybrid_rrf_indexed" -> { (s, dir) =>
      // the PRODUCTION hybrid serving topology (the r12 gap: every
      // retrieval fusion lane ran direct over the corpus): BOTH lanes
      // come from the persisted indexes — BM25 reads only its query
      // tokens' postings buckets + the stats sidecar marker, the dense
      // lane reads the flat IVF cells at FULL probe (exact, stored
      // norms) — so the fused ranking shares q_hybrid_rrf's oracle
      // verbatim while the plan shows the index pruning.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      val b20 = Retrieval.bm25TopKIndexed(s, bm25BaseIndex(s, dir),
        queries, 20)
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val qv = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      val c20 = Similarity.ivfIndexTopKExact(s, ivfBaseIndex(s, dir), qv, 20)
        .select(col("qid"), col("cid").as("doc_id"), col("rnk"))
      Retrieval.hybridRrf(b20, c20, 10).orderBy("qid", "rnk")
    },

    "q_bm25_prf" -> { (s, dir) =>
      // pseudo-relevance feedback (the RM3-shaped expansion loop every
      // production retrieval stack runs): first-pass BM25 top-3 are the
      // feedback docs, the 2 most frequent feedback-doc tokens NOT in
      // the query (exact integer counts, token-asc tie) expand it, and
      // the expanded query re-scores. Composes bm25TopK twice — the
      // expansion is metadata-scale (queries × top-3 docs; the token
      // join broadcasts the feedback list against the corpus explode).
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      val fb = Retrieval.bm25TopK(docs, broadcast(queries), 3)
        .select("qid", "doc_id")
      val toks = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "")
      val ftf = broadcast(fb).join(toks, "doc_id")
        .groupBy("qid", "tok").agg(count(lit(1)).as("ftf"))
      val qtok0 = queries.select(col("qid"),
          explode(array_distinct(split(col("qtext"), " "))).as("tok"))
        .where(col("tok") =!= "")
      val wexp = Window.partitionBy("qid")
        .orderBy(col("ftf").desc, col("tok"))
      val exp = ftf.join(qtok0, Seq("qid", "tok"), "left_anti")
        .withColumn("rn", row_number().over(wexp))
        .where(col("rn") <= 2)
        .groupBy("qid")
        .agg(concat_ws(" ", sort_array(collect_list("tok"))).as("extra"))
      val expanded = queries.join(broadcast(exp), Seq("qid"), "left")
        .select(col("qid"),
          concat_ws(" ", col("qtext"), coalesce(col("extra"), lit("")))
            .as("qtext"))
      Retrieval.bm25TopK(docs, broadcast(expanded), 5)
        .orderBy("qid", "rnk")
    },

    "q_bm25_prf_indexed" -> { (s, dir) =>
      // PRF over the persisted index (the r13 gap: the expansion loop
      // ran the direct corpus-scan BM25): both scoring passes are the
      // bucket-pruned bm25TopKIndexed lane; feedback-doc term vectors
      // come from the forward doc store (3 rows per query by id — the
      // inverted tree is token-major). The expansion rule is identical,
      // so q_bm25_prf's oracle is shared verbatim.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.bm25PrfTopKIndexed(s, bm25BaseIndex(s, dir), docs,
        queries, 5)
        .orderBy("qid", "rnk")
    },

    "q_bm25_snippets_indexed" -> { (s, dir) =>
      // snippet extraction from the POSITIONAL index: ranking via
      // bm25TopKIndexed, hit positions read from the query tokens'
      // positions buckets — NO doc text touched on the serving path.
      // Window election identical to q_bm25_snippets; oracle shared
      // verbatim.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.snippetTopKIndexed(s, bm25PosBaseIndex(s, dir), queries, 8)
        .orderBy("qid")
    },

    "q_bm25_snippets" -> { (s, dir) =>
      // snippet extraction — the serving feature after ranking: in each
      // query's BM25 top-1 doc, elect the 8-token window with the most
      // query-term hits (window starts at a matched position — a
      // maximizing window always can — ties to the earliest start).
      // All-integer scoring: matched positions self-join within the
      // window span, count, elect (hits desc, start asc). Work is
      // queries × matches-in-one-doc — list-scale.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      val top1 = Retrieval.bm25TopK(docs, broadcast(queries), 1)
        .select("qid", "doc_id")
      val toks = docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos0", "tok")))
        .where(col("tok") =!= "")
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
          col("tok"))
      val qtok = queries.select(col("qid"),
          explode(array_distinct(split(col("qtext"), " "))).as("tok"))
        .where(col("tok") =!= "")
      val m = broadcast(top1).join(toks, "doc_id")
        .join(qtok, Seq("qid", "tok"))
        .select("qid", "doc_id", "pos")
        .localCheckpoint(true) // both sides of the window self-join
      val w = Window.partitionBy("qid", "doc_id")
        .orderBy(col("n_hits").desc, col("snip_start"))
      m.as("a").join(m.as("b"),
          col("a.qid") === col("b.qid") &&
            col("a.doc_id") === col("b.doc_id") &&
            col("b.pos") >= col("a.pos") &&
            col("b.pos") < col("a.pos") + 8)
        .groupBy(col("a.qid").as("qid"), col("a.doc_id").as("doc_id"),
          col("a.pos").as("snip_start"))
        .agg(count(lit(1)).as("n_hits"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1).drop("rn")
        .orderBy("qid")
    },

    "q_ndcg_eval" -> { (s, dir) =>
      // graded-relevance ranking eval (nDCG@10) — the eval the MRR/
      // recall pair lacks: queries are the q_mrr_eval mid-slices, and
      // relevance grades are exactly derivable on both engines (3 =
      // the source doc itself, 1 = any doc from the same `source`
      // corpus, 0 otherwise). DCG folds 1/log2(rank+1) over the BM25
      // top-10; the ideal DCG is closed-form from the same-source count
      // (one 3 plus min(9, n_same−1) ones in the best positions).
      // round(4) absorbs sum-order ulps (the zipf float discipline).
      val docs = tbl(s, dir, "documents").select("doc_id", "source", "text")
      val queries = docs.where(col("doc_id") < 20)
        .select(col("doc_id").as("qid"), col("source").as("qsource"),
          expr("concat_ws(' ', slice(split(text, ' '), 5, 8))").as("qtext"))
        .localCheckpoint(true) // feeds the run, the grades AND idcg
      val run = Retrieval.bm25TopK(docs.select("doc_id", "text"),
        broadcast(queries.select("qid", "qtext")), 10)
      val graded = run
        .join(broadcast(queries.select("qid", "qsource")), "qid")
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .withColumn("rel",
          when(col("doc_id") === col("qid"), 3.0)
            .when(col("source") === col("qsource"), 1.0).otherwise(0.0))
      val dcg = graded.groupBy("qid")
        .agg(sum(expr("rel / log2(CAST(rnk AS DOUBLE) + 1.0)")).as("dcg"),
          sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_rel_in_10"))
      val nSame = docs.groupBy("source").agg(count(lit(1)).as("ns"))
      queries.join(broadcast(nSame),
          col("qsource") === col("source"))
        .select(col("qid"), col("ns"))
        .join(dcg, Seq("qid"), "left")
        .withColumn("idcg", lit(3.0) +
          when(col("ns") >= 2, expr(
            "aggregate(sequence(2, CAST(least(10L, ns) AS INT)), 0D," +
              " (a, i) -> a + 1.0 / log2(CAST(i AS DOUBLE) + 1.0))"))
            .otherwise(lit(0.0)))
        .select(col("qid"),
          coalesce(col("n_rel_in_10"), lit(0L)).as("n_rel_in_10"),
          round(coalesce(col("dcg"), lit(0.0)) / col("idcg"), 4).as("ndcg"))
        .orderBy("qid")
    },

    "q_mrr_eval" -> { (s, dir) =>
      // the retrieval eval harness (emb_ann_recall's keyword sibling):
      // queries are 8-word MID-SLICES (words 5..12) of the first 20
      // docs, ground truth = the source doc; report the source doc's
      // rank in the BM25 top-10, MRR in exact ppm (10⁶ div rank, 0 on
      // miss), and hit@3. Rank ties resolve on the rounded score with
      // the doc_id tiebreak — the bm25TopK convention — so the rank is
      // deterministic cross-engine.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 20)
        .select(col("doc_id").as("qid"),
          expr("concat_ws(' ', slice(split(text, ' '), 5, 8))").as("qtext"))
      val rel = Retrieval.bm25TopK(docs, broadcast(queries), 10)
        .where(col("doc_id") === col("qid"))
        .select(col("qid"), col("rnk").as("rel_rank"))
      queries.select("qid").join(broadcast(rel), Seq("qid"), "left")
        .withColumn("rel_rank", coalesce(col("rel_rank"), lit(0L)))
        .withColumn("mrr_ppm", when(col("rel_rank") > 0,
          expr("1000000 div rel_rank")).otherwise(lit(0L)))
        .withColumn("hit3", col("rel_rank").between(1, 3))
        .orderBy("qid")
    },

    "text_lang_confusion" -> { (s, dir) =>
      // classifier eval against the ground-truth lang column: confusion
      // matrix of (actual, predicted) with per-cell counts
      val docs = tbl(s, dir, "documents")
      TextStats.languageId(docs)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")
    },

    "dedup_survivors" -> { (s, dir) =>
      // the full dedup chain end-to-end: near-dup pairs -> cluster
      // collapse -> drop non-representatives -> per-source survivor
      // stats. Restricted to doc_id < 200 (+ injected variants) to keep
      // the bench query bounded — the operators are the same at any size.
      val corpus = withInjectedVariants(tbl(s, dir, "documents")
        .where(col("doc_id") < 200)
        .select("doc_id", "source", "text"))
      val clusters = Dedup.connectedComponents(
        Dedup.nearDuplicates(corpus, threshold = 0.3))
      val drop = clusters.where(col("doc_id") =!= col("rep_id"))
        .select("doc_id")
      corpus.join(drop, Seq("doc_id"), "left_anti")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_toks"))
        .orderBy("source")
    },

    // ---- dataset-assembly pipeline (operators.Pipeline) ---------------

    "pipe_split_hash" -> { (s, dir) =>
      // deterministic train/val/test assignment: md5(doc_id) bucket —
      // a zero-shuffle projection, identical in any engine
      graft.operators.Pipeline.hashSplit(tbl(s, dir, "documents"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("split")
    },

    "pipe_cap_per_source" -> { (s, dir) =>
      // per-source document cap (top-3 by length) — WindowGroupLimit keeps
      // 3 rows per source per partition instead of a full sort
      graft.operators.Pipeline.capPerSource(tbl(s, dir, "documents"), 3)
        .select("source", "rn", "doc_id", "n_chars")
        .orderBy("source", "rn")
    },

    "pipe_redact" -> { (s, dir) =>
      // PII-shaped scrub: whole-word regexp_replace projection, no UDF
      graft.operators.Pipeline.redact(
          tbl(s, dir, "documents"), "customer|supplier")
        .where(col("doc_id") < 100)
        .select(col("doc_id"), substring(col("redacted"), 1, 80).as("snippet"))
        .orderBy("doc_id")
    },

    "pipe_interleave" -> { (s, dir) =>
      // reproducible global shuffle: total order on a content hash — the
      // training order is a function of data, not file layout
      graft.operators.Pipeline.interleave(tbl(s, dir, "documents"))
        .select("shuffle_key", "doc_id", "source")
        .limit(200)
    },

    "pipe_profile_numeric" -> { (s, dir) =>
      // one-pass numeric profiling sweep over the fact table
      graft.operators.Pipeline.profileNumeric(tbl(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_name")
    },

    "pipe_chunk_documents" -> { (s, dir) =>
      // long-doc → training-example chunking: 40-token windows, stride 20
      // (tail chunks kept). Pure generate-and-explode — zero shuffle.
      graft.operators.Pipeline.chunkDocuments(
          tbl(s, dir, "documents").where(col("doc_id") < 100),
          width = 40, stride = 20)
        .orderBy("doc_id", "chunk_idx")
    },

    "pipe_pack_sequences" -> { (s, dir) =>
      // sequence packing: per-source contiguous packs of ≤256 tokens
      // (offset packing: pack = tokens-before div budget); per-pack stats
      graft.operators.Pipeline.packSequences(tbl(s, dir, "documents"), 256)
        .groupBy("source", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("pack_tokens"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("source", "pack_id")
    },

    "q_zorder_key" -> { (s, dir) =>
      // Z-order layout key: bit-interleave (custkey, order-day) — the
      // sort key that keeps parquet min/max boxes tight in BOTH filter
      // dimensions (Layout.zorderWrite); pure codegen projection
      tbl(s, dir, "orders")
        .select(col("o_orderkey"),
          graft.operators.Layout.zorderKey(col("o_custkey"),
            datediff(col("o_orderdate"), lit("1970-01-01")), 16).as("zkey"))
        .orderBy("o_orderkey")
    },

    "pipe_dedup_paragraphs" -> { (s, dir) =>
      // C4-style corpus-wide paragraph dedup: 3-token windows, keep only
      // the global first occurrence of each distinct window, reassemble
      graft.operators.Pipeline.dedupParagraphs(
          tbl(s, dir, "documents"), words = 3)
        .orderBy("doc_id")
    },

    "pipe_boilerplate" -> { (s, dir) =>
      // CCNet-style boilerplate scrub: drop every copy of a 3-token
      // window seen in more than 3 distinct docs, reassemble
      graft.operators.Pipeline.removeBoilerplate(
          tbl(s, dir, "documents"), words = 3, maxDocs = 3)
        .orderBy("doc_id")
    },

    "pipe_paragraphs_natural" -> { (s, dir) =>
      // the NATURAL-separator paragraph lane under the oracle: the corpus
      // has no newline structure, so both engines first inject identical
      // paragraph breaks (literal replace of a common token boundary —
      // replace() scans left-to-right non-overlapping in both), then
      // C4-dedup on the '\n\n' split: caller-split paragraphs, corpus-
      // first election, same-separator reassembly
      val docs = tbl(s, dir, "documents")
        .withColumn("text", replace(col("text"), lit(" the "), lit("\n\n")))
      graft.operators.Pipeline.dedupParagraphsNatural(docs)
        .orderBy("doc_id")
    },

    "pipe_contamination" -> { (s, dir) =>
      // train/benchmark contamination audit: distinct-trigram overlap of
      // every train doc against the (broadcast) benchmark trigram set;
      // benchmark = every 97th doc, train = the rest
      val docs = tbl(s, dir, "documents")
      graft.operators.Pipeline.contaminationScores(
          docs.where(col("doc_id") % 97 =!= 0),
          docs.where(col("doc_id") % 97 === 0))
        .orderBy("doc_id")
    },

    "pipe_contam_bloom" -> { (s, dir) =>
      // bloom-prefilter contamination lane: same audit as
      // pipe_contamination but the benchmark gram set reaches the train
      // side as a Bloom filter (bench too big to broadcast at scale);
      // exact-confirm join makes the result identical to the broadcast
      // lane, so the oracle is the plain exact SQL. Different bench slice
      // (% 89) than pipe_contamination so the two rows are independent.
      val docs = tbl(s, dir, "documents")
      graft.operators.Pipeline.contaminationScoresBloom(
          docs.where(col("doc_id") % 89 =!= 0),
          docs.where(col("doc_id") % 89 === 0))
        .orderBy("doc_id")
    },

    "pipe_shuffle_shards" -> { (s, dir) =>
      // epoch-seeded reproducible global shuffle: 60-bit md5 key from
      // (seed, doc_id), shard = h % 8, per-shard training positions
      graft.operators.Pipeline.shuffleShards(
          tbl(s, dir, "documents"), "ep1", 8)
        .orderBy("shard", "pos")
    },

    "q_merge_upsert" -> { (s, dir) =>
      // copy-on-write MERGE: a deterministic changelog (updates, a
      // higher-version overwrite, deletes, inserts) applied to a
      // key-bucketed parquet table; only changelog-named buckets are
      // read/rewritten (Mutations.mergeIntoPartitioned), read back under
      // the oracle's pure last-write-wins SQL
      import graft.operators.Mutations
      val work = java.nio.file.Files
        .createTempDirectory("graft-merge-q").toString + "/tbl"
      val o = tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val pexpr = pmod(col("o_orderkey"), lit(8L))
      o.withColumn("bucket", pexpr).repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(work)
      val upd = o.where(col("o_orderkey") % 7 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("op", lit("U")).withColumn("version", lit(1L))
      val upd2 = o.where(col("o_orderkey") % 21 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 5000.0)
        .withColumn("op", lit("U")).withColumn("version", lit(2L))
      val del = o.where(col("o_orderkey") % 7 === 2)
        .withColumn("op", lit("D")).withColumn("version", lit(1L))
      val ins = o.where(col("o_orderkey") % 7 === 3)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_custkey"), lit(42.0).as("o_totalprice"),
          lit("N").as("o_orderstatus"),
          lit("U").as("op"), lit(1L).as("version"))
      Mutations.mergeIntoPartitioned(s, work,
        upd.unionByName(upd2).unionByName(del).unionByName(ins),
        Seq("o_orderkey"), pexpr)
      Mutations.readPartitioned(s, work, o.schema).orderBy("o_orderkey")
    },

    "q_time_travel" -> { (s, dir) =>
      // lakehouse time travel: three committed versions of a bucketed
      // orders table (init → update+delete → update+insert), every
      // snapshot re-read BY VERSION from the transaction log — unchanged
      // buckets are shared across versions, never rewritten
      // (VersionedTable). Money is exact integer cents (BIGINT) per the
      // cross-engine decimal invariant.
      import graft.operators.VersionedTable
      val (work, schema) = timeTravelTable(s, dir)
      (0L to 2L).map { v =>
        VersionedTable.readAt(s, work, schema, v)
          .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_cents"))
      }.reduce(_ unionByName _).orderBy("version")
    },

    "q_mor_delete" -> { (s, dir) =>
      // MERGE-ON-READ deletes (r15): two deletes commit as
      // deletion-vector sidecars (keys only — NO bucket rewrite; at
      // 100 TB a compliance-delete of 100 rows must not COW whole
      // buckets), reads anti-join the active DVs; a merge touching
      // bucket 1 folds its DVs into data, and compactDeletes COW-folds
      // the rest past the threshold. v4 ≡ v3 content pins the fold;
      // v1/v2 reads exercise the masked lane. Private table (mutation
      // gate). Money stays exact integer cents.
      import graft.operators.VersionedTable
      val work = java.nio.file.Files
        .createTempDirectory("graft-mor-q").toString + "/tbl"
      val base = tbl(s, dir, "orders").select(col("o_orderkey").as("k"),
        (col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"))
      val pexpr = pmod(col("k"), lit(16L))
      VersionedTable.init(s, work, base, pexpr)
      VersionedTable.deleteMergeOnRead(s, work,
        base.where(col("k") % 7 === 2).select("k"), pexpr)
      VersionedTable.deleteMergeOnRead(s, work,
        base.where(col("k") % 7 === 4).select("k"), pexpr)
      // k % 112 == 1 ⇒ bucket 1 only: the rewrite folds JUST that
      // bucket's DVs, leaving the rest for the threshold compaction
      val upd = base.where(col("k") % 112 === 1)
        .withColumn("cents", col("cents") + 6000L)
        .withColumn("op", lit("U")).withColumn("version", lit(3L))
      VersionedTable.merge(s, work, upd, Seq("k"), pexpr)
      VersionedTable.compactDeletes(s, work,
        org.apache.spark.sql.types.StructType(base.schema.fields), pexpr,
        minDvPerBucket = 1)
      val schema = org.apache.spark.sql.types.StructType(base.schema.fields)
      (0L to 4L).map { v =>
        VersionedTable.readAt(s, work, schema, v)
          .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_cents"))
      }.reduce(_ unionByName _).orderBy("version")
    },

    "q_mor_stream" -> { (s, dir) =>
      // STREAMING takedown feed over the versioned table (r15): delete
      // keys arrive in micro-batches and apply as merge-on-read DV
      // commits (no bucket rewrites in the hot path); every 2nd batch
      // folds accumulated DVs through compactDeletes (the in-loop
      // compactEvery move). Deletes are naturally idempotent — a
      // re-delivered batch re-masks already-deleted keys, a no-op at
      // read time (batch 1 is re-delivered here to prove it) — so no
      // batch-id commit gate is needed, unlike the append lanes.
      import s.implicits._
      implicit val ctx = s.sqlContext
      import graft.operators.VersionedTable
      val work = java.nio.file.Files
        .createTempDirectory("graft-mor-stream").toString + "/tbl"
      val base = tbl(s, dir, "orders").select(col("o_orderkey").as("k"),
        (col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"))
      val pexpr = pmod(col("k"), lit(16L))
      val schema = org.apache.spark.sql.types.StructType(base.schema.fields)
      VersionedTable.init(s, work, base, pexpr)
      def keys(m: Long) = base.where(col("k") % 7 === m)
        .select("k").as[Long].collect().toSeq
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Long]
      val q = mem.toDF.toDF("k").writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          VersionedTable.deleteMergeOnRead(s, work, b.select("k"), pexpr)
          if (id % 2 == 1)
            VersionedTable.compactDeletes(s, work, schema, pexpr,
              minDvPerBucket = 1)
          ()
        }
        .option("checkpointLocation", s"$work/../ckpt").start()
      try {
        mem.addData(keys(2)); q.processAllAvailable()
        mem.addData(keys(4)); q.processAllAvailable()
        mem.addData(keys(2)); q.processAllAvailable() // re-delivery
      } finally q.stop()
      VersionedTable.readAt(s, work, schema)
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
    },

    "q_mor_cdc" -> { (s, dir) =>
      // CDC across merge-on-read deletes (r15): the q_mor_delete fixture
      // shape, diffed v0 → v3 — DV deletes surface as 'D' rows (no
      // bucket was ever rewritten for them), the single-bucket merge as
      // 'U' rows; the diff reads only buckets the log (incl. dv lists)
      // names as touched.
      import graft.operators.VersionedTable
      val work = java.nio.file.Files
        .createTempDirectory("graft-morcdc-q").toString + "/tbl"
      val base = tbl(s, dir, "orders").select(col("o_orderkey").as("k"),
        (col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"))
      val pexpr = pmod(col("k"), lit(16L))
      VersionedTable.init(s, work, base, pexpr)
      VersionedTable.deleteMergeOnRead(s, work,
        base.where(col("k") % 7 === 2).select("k"), pexpr)
      VersionedTable.deleteMergeOnRead(s, work,
        base.where(col("k") % 7 === 4).select("k"), pexpr)
      val upd = base.where(col("k") % 112 === 1)
        .withColumn("cents", col("cents") + 6000L)
        .withColumn("op", lit("U")).withColumn("version", lit(3L))
      VersionedTable.merge(s, work, upd, Seq("k"), pexpr)
      val schema = org.apache.spark.sql.types.StructType(base.schema.fields)
      VersionedTable.changes(s, work, schema, Seq("k"), 0L, 3L)
        .orderBy("k")
    },

    "q_funnel_pattern" -> { (s, dir) =>
      // ordered-sequence funnel (MATCH_RECOGNIZE staple): per user the
      // earliest view → click-after-view → purchase-after-click chain;
      // greedy-earliest semantics, one keyed agg + join per step
      // (Temporal.funnel) — no whole-stream window, no per-key loop
      graft.operators.Temporal.funnel(
          events(s, dir).select(col("user_id"), col("event_type"),
            unix_timestamp(col("ts")).as("sec")),
          steps = Seq("view", "click", "purchase"),
          keyCol = "user_id", typeCol = "event_type", secCol = "sec")
        .orderBy("user_id")
    },

    "q_cohort_retention" -> { (s, dir) =>
      // cohort retention: users grouped by first-activity day, distinct
      // active users per (cohort, day offset) — two keyed aggs and one
      // join on user_id; day arithmetic via datediff (DATE-DATE is an
      // INTERVAL in DuckDB, so both engines use explicit day counts)
      val e = events(s, dir).select(col("user_id"), to_date(col("ts")).as("d"))
      val cohorts = e.groupBy("user_id").agg(min("d").as("cohort_day"))
      e.join(cohorts, "user_id")
        .select(col("user_id"), col("cohort_day"),
          datediff(col("d"), col("cohort_day")).cast("long").as("offset_days"))
        .distinct()
        .groupBy("cohort_day", "offset_days")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_day", "offset_days")
    },

    "q_dq_report" -> { (s, dir) =>
      // declarative data-quality report (the Deequ/expectations family):
      // four row rules fold into ONE conditional-agg scan, uniqueness is
      // one count-vs-distinct aggregate, referential integrity one
      // equi-join vs the deduped parent keys; report rows are
      // metadata-scale (Quality)
      import graft.operators.Quality
      val l = tbl(s, dir, "lineitem")
      val o = tbl(s, dir, "orders")
      Quality.report(Seq(
        Quality.rowRules(l, Seq(
          "l1_qty_above_45" -> (col("l_quantity") > 45),
          "l2_discount_above_7pct" -> (col("l_discount") > 0.07),
          "l3_null_returnflag" -> col("l_returnflag").isNull,
          "l4_flag_domain" -> (col("l_returnflag").isNotNull &&
            !col("l_returnflag").isin("A", "N", "R")))),
        Quality.uniquenessRule(l, "l5_uniq_line",
          Seq("l_orderkey", "l_linenumber")),
        Quality.referentialRule(l, "l_orderkey", o, "o_orderkey",
          "l6_ref_orderkey")))
    },

    "q_table_cdc" -> { (s, dir) =>
      // change-data-capture between snapshots v0 → v2 of the same
      // versioned table: the log names the buckets the window touched,
      // so the diff scans the churn, never the table; per-key I/U/D rows
      // with before/after payloads
      import graft.operators.VersionedTable
      val (work, schema) = timeTravelTable(s, dir)
      VersionedTable.changes(s, work, schema, Seq("k"), 0L, 2L)
        .select("k", "change_op", "before_cents", "after_cents")
        .orderBy("k")
    },

    "q_fingerprint_incremental" -> { (s, dir) =>
      // versioned-table audit WITHOUT a rescan: the xor row-hash
      // fingerprint is mergeable, so fp(v2) = fp(v0) xor
      // fold(before-hash xor after-hash over the v0→v2 CDC) — the
      // 100 TB story is auditing a new version by folding the churn,
      // never re-reading the table. Both lanes computed and compared:
      // a green row proves direct ≡ incremental on real CDC output.
      import graft.operators.VersionedTable
      val (work, schema) = timeTravelTable(s, dir)
      def h(k: String, cents: String): org.apache.spark.sql.Column =
        expr(s"CAST(conv(substring(md5(CAST(concat(CAST($k AS STRING), " +
          s"':', CAST($cents AS STRING)) AS BINARY)), 1, 15), 16, 10) " +
          "AS BIGINT)")
      def fp(df: DataFrame, out: String) =
        df.withColumn("h", h("k", "cents"))
          .agg(expr("bit_xor(h)").as(out))
      val fp0 = fp(VersionedTable.readAt(s, work, schema, 0L), "fp_v0")
      val fpd = fp(VersionedTable.readAt(s, work, schema, 2L),
        "fp_v2_direct")
      val delta = VersionedTable.changes(s, work, schema, Seq("k"), 0L, 2L)
        .withColumn("hb", when(col("before_cents").isNotNull,
          h("k", "before_cents")).otherwise(lit(0L)))
        .withColumn("ha", when(col("after_cents").isNotNull,
          h("k", "after_cents")).otherwise(lit(0L)))
        .agg(expr("bit_xor(hb ^ ha)").as("delta"))
      fp0.crossJoin(fpd).crossJoin(delta)
        .withColumn("fp_v2_incremental", expr("fp_v0 ^ delta"))
        .withColumn("consistent",
          col("fp_v2_direct") === col("fp_v2_incremental"))
        .select("fp_v0", "fp_v2_direct", "fp_v2_incremental", "consistent")
    },

    "q_mv_incremental" -> { (s, dir) =>
      // incremental materialized-view maintenance: a per-bucket
      // (count, sum-cents) metric view initialized at v0, then refreshed
      // TWICE from the v0→v1 and v1→v2 CDC feeds — each refresh scans
      // only the churn and joins at MV (dimension) scale
      // (Mutations.maintainSumCount). The oracle recomputes the final
      // aggregate closed-form from the change recipe, so a green hash
      // proves incremental ≡ recompute across both refresh steps.
      import graft.operators.{Mutations, VersionedTable}
      val (work, schema) = timeTravelTable(s, dir)
      val bucket = pmod(col("k"), lit(16L))
      val mv0 = VersionedTable.readAt(s, work, schema, 0L)
        .groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
      val mv2 = Seq((0L, 1L), (1L, 2L)).foldLeft(mv0) { case (mv, (a, b)) =>
        Mutations.maintainSumCount(mv,
          VersionedTable.changes(s, work, schema, Seq("k"), a, b),
          bucket, col("before_cents"), col("after_cents"))
      }
      mv2.orderBy("bucket")
    },

    "q_mv_stream" -> { (s, dir) =>
      // STREAMING twin of q_mv_incremental: the same three CDC feeds
      // (v0 snapshot as inserts, v0→v1, v1→v2) replayed as micro-batches
      // through Streaming.mvStream — each batch folds into the parquet
      // MV under the batch-id commit gate (a replayed id is skipped, so
      // a delta can never double-apply). Final view ≡ batch recompute ⇒
      // shares q_mv_incremental's oracle SQL verbatim.
      import s.implicits._
      implicit val ctx = s.sqlContext
      import graft.operators.{Mutations, VersionedTable}
      val (work, schema) = timeTravelTable(s, dir)
      val mvRoot = java.nio.file.Files
        .createTempDirectory("graft-mvstream-q").toString + "/mv"
      def cdcRows(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "change_op", "before_cents", "after_cents")
          .orderBy("k").collect()
          .map(r => (r.getLong(0), r.getString(1),
            Option(r.get(2)).map(_.asInstanceOf[Long]),
            Option(r.get(3)).map(_.asInstanceOf[Long])))
      val b0 = cdcRows(VersionedTable.readAt(s, work, schema, 0L)
        .select(col("k"), lit("I").as("change_op"),
          lit(null).cast("long").as("before_cents"),
          col("cents").as("after_cents")))
      val b1 = cdcRows(VersionedTable.changes(s, work, schema, Seq("k"), 0L, 1L))
      val b2 = cdcRows(VersionedTable.changes(s, work, schema, Seq("k"), 1L, 2L))
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, Option[Long], Option[Long])]
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val src = mem.toDF
          .toDF("k", "change_op", "before_cents", "after_cents")
        val q = graft.streaming.Streaming
          .mvStream(src, mvRoot, pmod(col("k"), lit(16L)),
            col("before_cents"), col("after_cents"))
          .option("checkpointLocation", s"$mvRoot/../ckpt").start()
        try {
          mem.addData(b0.toSeq); q.processAllAvailable()
          mem.addData(b1.toSeq); q.processAllAvailable()
          mem.addData(b2.toSeq); q.processAllAvailable()
        } finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      Mutations.readMv(s, mvRoot).orderBy("bucket")
    },

    "q_scd2_intervals" -> { (s, dir) =>
      // gaps-and-islands / SCD2: collapse each user's consecutive equal
      // event_types into validity intervals with exclusive handoff
      graft.operators.Temporal.scd2(
          events(s, dir).select(col("user_id"),
            unix_timestamp(col("ts")).as("sec"), col("event_id"),
            col("event_type")),
          Seq("user_id"), Seq("sec", "event_id"), "sec", "event_type")
        .orderBy("user_id", "island")
    },

    "pipe_sample_budget" -> { (s, dir) =>
      // token-budget sampling: md5-ordered subset of each source capped
      // at 600 cumulative tokens; per-source acceptance stats
      graft.operators.Pipeline.sampleBudget(tbl(s, dir, "documents"), 600)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("sampled_tokens"),
          max("cum_toks").as("max_cum"))
        .orderBy("source")
    },

    "pipe_mixture" -> { (s, dir) =>
      // mixture reweighting: curated sources (src0-2) get a 3x token
      // budget over the default; per-source acceptance stats show the
      // resulting mix
      graft.operators.Pipeline.sampleMixture(tbl(s, dir, "documents"),
          Map("src0" -> 900L, "src1" -> 900L, "src2" -> 900L), default = 300L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("sampled_tokens"))
        .orderBy("source")
    },

    "pipe_quality_funnel" -> { (s, dir) =>
      // quality-filter funnel: survivors of each cumulative filter stage
      // (length → token count → word-repetition) in ONE scan — conditional
      // aggregation then stack, no per-stage passes
      val d = tbl(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_toks", size(col("toks")).cast("long"))
        .withColumn("dup_ratio", lit(1.0) -
          size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
      val s1 = col("n_chars") >= 200
      val s2 = s1 && col("n_toks") >= 30
      val s3 = s2 && col("dup_ratio") <= 0.3
      d.agg(
          count(lit(1)).as("s0_all"),
          sum(when(s1, 1L).otherwise(0L)).as("s1_len"),
          sum(when(s2, 1L).otherwise(0L)).as("s2_toks"),
          sum(when(s3, 1L).otherwise(0L)).as("s3_dup"))
        .selectExpr("stack(4, 's0_all', s0_all, 's1_len', s1_len, " +
          "'s2_toks', s2_toks, 's3_dup', s3_dup) AS (stage, n_docs)")
        .orderBy("stage")
    },

    "pipe_e2e_curation" -> { (s, dir) =>
      // END-TO-END curation pipeline as ONE oracled query — the
      // composition story: lang filter → quality gate → exact dedup
      // (keep-lowest-id) → benchmark decontamination (≥3 shared
      // trigrams) → per-source cap, reporting docs + token budget after
      // every stage. The pure-predicate stages could fold into one
      // conditional agg (pipe_quality_funnel's shape); dedup/decontam/
      // cap each need a window or join, so the base is checkpointed
      // once and every stage narrows the previous survivor frame —
      // six metadata-sized aggs, not six corpus rescans.
      val raw = tbl(s, dir, "documents")
      val bench = raw.where(col("doc_id") % 97 === 0) // held-out benchmark
      val c0 = raw.where(col("doc_id") % 97 =!= 0)
      val corpus = c0.unionByName(
          c0.where(col("doc_id") < 25) // injected exact dupes
            .withColumn("doc_id", col("doc_id") + 2000000))
        .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
        .localCheckpoint(true)
      val s1 = corpus.where(col("lang").isin("en", "de", "fr"))
      val s2 = s1.where(col("n_chars") >= 150 && col("n_toks") >= 20)
      val wd = Window.partitionBy(md5(col("text"))).orderBy("doc_id")
      val s3 = s2.withColumn("rn", row_number().over(wd))
        .where(col("rn") === 1).drop("rn").localCheckpoint(true)
      val contam = graft.operators.Pipeline.contaminationScores(s3, bench)
        .where(col("n_shared") >= 3)
      val s4 = s3.join(contam, Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      val wc = Window.partitionBy("source").orderBy("doc_id")
      val s5 = s4.withColumn("rn", row_number().over(wc))
        .where(col("rn") <= 12)
      def stat(name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum("n_toks"), lit(0L)).as("n_tokens"))
          .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
      stat("s0_all", corpus).unionByName(stat("s1_lang", s1))
        .unionByName(stat("s2_quality", s2))
        .unionByName(stat("s3_dedup", s3))
        .unionByName(stat("s4_decontam", s4))
        .unionByName(stat("s5_cap", s5))
        .orderBy("stage")
    },

    "pipe_e2e_curation_stream" -> { (s, dir) =>
      // the funnel as a LIVE pipeline: the same fixture delivered in 3
      // doc_id-ordered micro-batches through Streaming.curateBatch —
      // exact-dedup/cap state carries across batches, the benchmark is
      // a standing reference input, and the per-stage deltas sum to the
      // batch funnel exactly (pipe_e2e_curation's oracle verbatim).
      import s.implicits._
      implicit val ctx = s.sqlContext
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft-cur-stream").toString + "/state"
      val raw = tbl(s, dir, "documents")
      val bench = raw.where(col("doc_id") % 97 === 0).localCheckpoint(true)
      val c0 = raw.where(col("doc_id") % 97 =!= 0)
      val corpus = c0.unionByName(
          c0.where(col("doc_id") < 25)
            .withColumn("doc_id", col("doc_id") + 2000000))
        .select("doc_id", "source", "lang", "n_chars", "text")
      val rows = corpus.orderBy("doc_id")
        .as[(Long, String, String, Long, String)].collect().toSeq
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, String, Long, String)]
      val q = mem.toDF
        .toDF("doc_id", "source", "lang", "n_chars", "text")
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.streaming.Streaming.curateBatch(s, stateDir, b, id, bench)
        }
        .option("checkpointLocation", s"$stateDir/../ckpt").start()
      try rows.grouped(rows.length / 3 + 1).foreach { g =>
        mem.addData(g); q.processAllAvailable()
      } finally q.stop()
      graft.streaming.Streaming.curationStats(s, stateDir).orderBy("stage")
    },

    "doc_fingerprint" -> { (s, dir) =>
      // rolling-hash content fingerprint → duplicate pairs. The oracle
      // checks the PAIR STRUCTURE via md5 equality (DuckDB has no
      // xxhash64): identical iff neither hash collides, which the
      // deterministic fixture guarantees. Dupes injected: docs 0..9
      // re-appear verbatim under doc_id+1000000.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val dupes = docs.where(col("doc_id") < 10)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      val fp = TextStats.fingerprint(docs.unionByName(dupes))
      fp.as("a").join(fp.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .orderBy("doc_a", "doc_b")
    },

    "dedup_embedding" -> { (s, dir) =>
      // embedding-cosine near-dup DEDUP: drop every vector with a
      // >0.9-cosine neighbor at a lower id, dropped or not — order-free,
      // so fully parallel (same injected near-dups as emb_near_pairs);
      // neighbor pairs come from the banded LSH equi-join, not all-pairs
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val all = withInjectedEmbVariants(e)
      Similarity.cosineDedup(all, 0.9, dim = 64).select("vec_id").orderBy("vec_id")
    },

    "emb_ann_lsh" -> { (s, dir) =>
      // ANN scale path: random-hyperplane LSH buckets + exact rerank per
      // bucket — an equi-join on bucket instead of the all-pairs cross
      // product (emb_near_pairs/emb_topk_cosine are the exact baselines)
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      Similarity.annTopK(e, dim = 64, k = 3, planes = 8)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_ann_binary" -> { (s, dir) =>
      // ANN scale path #4: binary (sign) quantization — the first pass
      // ranks by Hamming distance over 64 packed sign bits (16 bytes a
      // vector, codes-only scan), the exact cosine rerank touches only
      // the 10 survivors per query. Deterministic end to end: integer
      // Hamming with id tiebreak, then the cosineTopK rank convention.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.binaryTopK(e, q, k = 3, rerankDepth = 10)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_ann_ivf" -> { (s, dir) =>
      // ANN scale path #2: IVF — inlined stride-sampled centroids, zero-
      // shuffle cell assignment, nprobe=2 probe, equi-join inverted-file
      // scan + exact rerank (emb_ann_lsh is the hyperplane-LSH sibling)
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      Similarity.ivfTopK(e, k = 3, stride = 50, nprobe = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_ann_ivf_indexed" -> { (s, dir) =>
      // IVF through a MATERIALIZED index (the q_bm25_indexed move for
      // vectors): centroids + home-cell PARTITION DIRS with stored
      // norms persisted once; the search probe-assigns only the query
      // side and reads only probed cell dirs — identical results to
      // emb_ann_ivf by construction, same oracle verbatim.
      val work = ivfBaseIndex(s, dir)
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfIndexTopK(s, work, q, k = 3, nprobe = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_ann_ivf_filtered" -> { (s, dir) =>
      // attribute-filtered ANN on the persisted index (r15): candidates
      // must satisfy src = 1 (src = vec_id % 4, carried into the cell
      // rows at build). Pre-filter lane — the predicate pushes into the
      // partition-pruned parquet scan, top-k exact over matching
      // candidates in the probed cells; some queries legitimately return
      // < k rows. Shares the read-only base fixture; oracle = the IVF
      // replay with the same predicate on the candidate side.
      val work = ivfBaseIndex(s, dir)
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfIndexTopKFiltered(s, work, q, k = 3,
          pred = col("src") === 1, nprobe = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_ann_ivf_mor" -> { (s, dir) =>
      // MERGE-ON-READ takedown on the vector index (r15): decoys delete
      // as an append-only tombstone sidecar — NO cell rewrite — and the
      // search anti-joins the pending tombstones (the VersionedTable DV
      // move for vectors). Content nets to the corpus, so the MASKED
      // search shares emb_ann_ivf's oracle verbatim; the fold
      // (compactIvfTombstones ⇒ staged COW) is pinned ≡ in OperatorsSpec.
      import s.implicits._
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivf-mor").toString + "/idx"
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cents = Similarity.strideCentroids(e, 50)
      val decoys = e.where(col("vec_id") < 100)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("emb"))
      Similarity.buildIvfIndexWith(e.unionByName(decoys), work, cents)
      Similarity.deleteFromIvfIndexMor(s, work,
        (10000000L until 10000100L).toDF("vec_id"))
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfIndexTopK(s, work, q, k = 3, nprobe = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_ann_ivf_maintained" -> { (s, dir) =>
      // the persisted index under its FULL LIFECYCLE: build on ⅔ of the
      // corpus plus 100 decoy vectors (shifted-id copies — the rows a
      // takedown/dedup pass later removes) under a FROZEN external
      // quantizer, append the remaining ⅓, then DELETE the decoys via
      // the touched-cells-only COW lane. Final index content ≡ the full
      // corpus, so the search matches emb_ann_ivf row-for-row — same
      // oracle verbatim; post-delete ≡ fresh-build is additionally
      // pinned in OperatorsSpec.
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivf-mnt").toString + "/idx"
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cents = Similarity.strideCentroids(e, 50)
      val decoys = e.where(col("vec_id") < 100)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("emb"))
      Similarity.buildIvfIndexWith(
        e.where(col("vec_id") % 3 < 2).unionByName(decoys), work, cents)
      Similarity.appendToIvfIndex(e.where(col("vec_id") % 3 === 2), work)
      Similarity.deleteFromIvfIndex(s, work,
        (10000000L until 10000100L).toSeq)
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfIndexTopK(s, work, q, k = 3, nprobe = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_ann_ivf_compacted" -> { (s, dir) =>
      // the small-file remedy under the gate: the index fills in over
      // FOUR append batches (one file per touched cell each), then
      // compactIvfIndex rewrites every multi-file cell to one file via
      // the staged COW machinery. Content-preserving, so the search
      // matches emb_ann_ivf row-for-row — same oracle; the file-count
      // drop + pre≡post search are pinned in OperatorsSpec.
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivf-cpt").toString + "/idx"
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cents = Similarity.strideCentroids(e, 50)
      Similarity.buildIvfIndexWith(e.where(col("vec_id") % 4 === 0), work, cents)
      (1 to 3).foreach(i =>
        Similarity.appendToIvfIndex(e.where(col("vec_id") % 4 === i), work))
      Similarity.compactIvfIndex(s, work, maxFilesPerCell = 1)
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfIndexTopK(s, work, q, k = 3, nprobe = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_ann_ivf_rebuilt" -> { (s, dir) =>
      // the drift remedy closing the index lifecycle: build under a
      // frozen stride quantizer, append the rest of the corpus, then
      // REBUILD — retrain the exact-integer Lloyd recipe on the index's
      // own content and re-cell into a v2 root (caller flips the
      // pointer). Content ≡ corpus, so the rebuilt search coincides
      // with the ad-hoc trained lane — emb_ann_ivf_trained's oracle
      // verbatim; rebuilt ≡ ad-hoc is also pinned in OperatorsSpec.
      val base = java.nio.file.Files
        .createTempDirectory("graft-ivf-rb").toString
      val (idx1, idx2) = (s"$base/v1", s"$base/v2")
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      // phase tags (guide §1.5): build+append+rebuild+search bill to one
      // bench row — make each phase attributable in the job log
      val sc = s.sparkContext
      sc.setJobDescription("ivf-rebuilt:build")
      try Similarity.buildIvfIndex(e.where(col("vec_id") % 3 < 2), idx1,
        stride = 50)
      finally sc.setJobDescription(null)
      sc.setJobDescription("ivf-rebuilt:append")
      try Similarity.appendToIvfIndex(e.where(col("vec_id") % 3 === 2), idx1)
      finally sc.setJobDescription(null)
      sc.setJobDescription("ivf-rebuilt:rebuild")
      try Similarity.rebuildIvfIndex(s, idx1, idx2, stride = 50, iters = 2)
      finally sc.setJobDescription(null)
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfIndexTopK(s, idx2, q, k = 3, nprobe = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_ann_ivf_stream" -> { (s, dir) =>
      // STREAMING maintenance of the persisted IVF index (the
      // q_bm25_indexed streaming move for vectors): embedding
      // micro-batches replay through foreachBatch → applyIvfBatch,
      // which scrubs-then-appends under a batch-id commit gate — a
      // checkpoint-replayed batch is skipped, a crashed half-append is
      // repaired, never duplicated (batch 1 is re-delivered here to
      // prove it). Final search ≡ the batch build ⇒ shares
      // emb_ann_ivf's oracle verbatim.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivf-stream").toString + "/idx"
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cents = Similarity.strideCentroids(e, 50)
      def rows(m: Long) = e.where(col("vec_id") % 3 === m)
        .as[(Long, Seq[Double])].collect().toSeq
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Double])]
      val q = mem.toDF.toDF("vec_id", "emb")
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          Similarity.applyIvfBatch(s, work, b, id, cents)
          // in-loop small-file maintenance (the dedup-state compactEvery
          // move): every 2nd batch, hot cells merge through the staged
          // COW lane — content-preserving, so the commit gate and the
          // scrub-by-content re-delivery repair are unaffected
          if (id % 2 == 1)
            Similarity.compactIvfIndex(s, work, maxFilesPerCell = 2)
          ()
        }
        .option("checkpointLocation", s"$work/../ckpt").start()
      try {
        mem.addData(rows(0)); q.processAllAvailable()
        mem.addData(rows(1)); q.processAllAvailable()
        // at-least-once: re-deliver batch 1's rows under a NEW batch id —
        // the scrub-then-append makes the re-apply idempotent by content
        mem.addData(rows(1)); q.processAllAvailable()
        mem.addData(rows(2)); q.processAllAvailable()
      } finally q.stop()
      val qs = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfIndexTopK(s, work, qs, k = 3, nprobe = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_ann_ivf_sq8" -> { (s, dir) =>
      // ANN scale path: IVF cell pruning composed with int8 scalar-
      // quantized scoring (FAISS IndexIVFScalarQuantizer) — candidates
      // bounded by nprobe equi-joins, scored on integer code dots
      // (exact at any summation order, BIGINT) instead of raw floats.
      // Completes the family: LSH / IVF / IVF-PQ / binary / SQ8 /
      // IVF-SQ8.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      Similarity.ivfSq8TopK(e, k = 3, stride = 50, nprobe = 2)
        .orderBy("qid", "rnk")
    },

    "emb_ann_ivf_audited" -> { (s, dir) =>
      // the CLOSED drift loop (the piece emb_ann_ivf_stream leaves to
      // the operator): the family bootstraps under a deliberately BIASED
      // frozen quantizer (5 centroids sampled from one corner of the
      // corpus — appends immediately drift from it), micro-batches fold
      // in through maintainIvfBatch, and the wired-in audit on the final
      // batch trips rebuild (recall decay / cell skew) → exact-Lloyd
      // retrain on the accumulated content → generation flip. Content ≡
      // corpus by then, so the post-flip search is the trained lane —
      // ivfTrainedOracleSql verbatim. The oracle is what pins that the
      // audit FIRED: without the rebuild the biased-quantizer search
      // diverges from the trained oracle.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val base = java.nio.file.Files
        .createTempDirectory("graft-ivf-aud").toString + "/fam"
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val biased = Similarity.strideCentroids(e.where(col("vec_id") < 40), 8)
      def rows(m: Long) = e.where(col("vec_id") % 3 === m)
        .as[(Long, Seq[Double])].collect().toSeq
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Double])]
      val q = mem.toDF.toDF("vec_id", "emb")
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          Similarity.maintainIvfBatch(s, base, b, id, biased,
            auditEvery = 3, k = 3, nprobe = 2, rebuildStride = 50)
          ()
        }
        .option("checkpointLocation", s"$base/../ckpt").start()
      try {
        mem.addData(rows(0)); q.processAllAvailable()
        mem.addData(rows(1)); q.processAllAvailable()
        mem.addData(rows(2)); q.processAllAvailable()
      } finally q.stop()
      val qs = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfIndexTopK(s, Similarity.ivfCurrentRoot(s, base),
          qs, k = 3, nprobe = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_ann_ivf_stats" -> { (s, dir) =>
      // per-cell observability for the persisted index — the balance
      // stats that feed auditIvfIndex's rebuild trigger (a hot cell
      // degrades its probes toward a scan; you want to see it BEFORE
      // recall drifts). Counts are home-cell assignment cardinalities,
      // exactly reproducible in SQL; file bytes stay Spark-side (ops
      // signal, not oracle material).
      val work = ivfBaseIndex(s, dir)
      Similarity.ivfIndexStats(s, work)
        .select(col("cell"), col("n_vecs"))
        .orderBy("cell")
    },

    "q_bm25_index_stats" -> { (s, dir) =>
      // corpus-level index observability for the BM25 postings tree:
      // total postings / distinct vocabulary / doc count / token mass.
      // Per-bucket skew (bucket = pmod(xxhash64(tok), 64) — not SQL-
      // reproducible) stays in indexStats for the ScaleSpec skew guard;
      // the gate pins the bucket-independent sums, which a token living
      // WHOLLY in one bucket makes exact.
      import org.apache.spark.sql.types._
      val work = bm25BaseIndex(s, dir)
      val stats = Retrieval.indexStats(s, work)
        .agg(sum("n_postings").as("n_postings"),
          sum("n_tokens").as("n_tokens"))
      val dl = s.read.schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("dl", LongType))))
        .parquet(s"$work/doclens")
        .agg(count(lit(1)).as("n_docs"), sum("dl").as("total_len"))
      stats.crossJoin(dl)
    },

    "q_bm25_rebuilt" -> { (s, dir) =>
      // the skew remedy indexStats points at: re-shard a cramped 4-bucket
      // index into 32 buckets from the index's OWN tables (postings +
      // doclens carry everything; doc text never re-tokenizes), caller
      // flips the root pointer. Scoring is bucket-count-invariant, so
      // the rebuilt search shares the direct lane's oracle verbatim.
      val base = java.nio.file.Files
        .createTempDirectory("graft-bm25-rb").toString
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      Retrieval.buildIndex(docs, s"$base/v1", nBuckets = 4)
      Retrieval.rebuildIndex(s, s"$base/v1", s"$base/v2", nBuckets = 32)
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.bm25TopKIndexed(s, s"$base/v2", queries, 5, nBuckets = 32)
        .orderBy("qid", "rnk")
    },

    "q_bm25_stream" -> { (s, dir) =>
      // STREAMING maintenance of the text index (emb_ann_ivf_stream's
      // move for BM25): document micro-batches fold through
      // applyIndexBatch — scrub-by-id then append under a batch-id
      // commit gate, so the re-delivered batch here repairs rather than
      // duplicates postings. Final search ≡ a fresh build ⇒ the direct
      // lane's oracle verbatim.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val work = java.nio.file.Files
        .createTempDirectory("graft-bm25-stream").toString + "/idx"
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      def rows(m: Long) = docs.where(col("doc_id") % 3 === m)
        .as[(Long, String)].collect().toSeq
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val q = mem.toDF.toDF("doc_id", "text")
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          Retrieval.applyIndexBatch(s, work, b, id)
          ()
        }
        .option("checkpointLocation", s"$work/../ckpt").start()
      try {
        mem.addData(rows(0)); q.processAllAvailable()
        mem.addData(rows(1)); q.processAllAvailable()
        // at-least-once: re-deliver batch 1's rows under a NEW batch id
        mem.addData(rows(1)); q.processAllAvailable()
        mem.addData(rows(2)); q.processAllAvailable()
      } finally q.stop()
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.bm25TopKIndexed(s, work, queries, 5)
        .orderBy("qid", "rnk")
    },

    "q_bm25f" -> { (s, dir) =>
      // field-weighted retrieval: docs split into title (first 8 words,
      // weight 3) and body (the rest, weight 1) — a title hit outranks
      // the same hit in the body. Integer field weights keep wtf/wdl
      // exact BIGINTs; scoring/ties are the bm25 lane's verbatim.
      val base = tbl(s, dir, "documents").select("doc_id", "text")
      val fdocs = base.select(col("doc_id"),
        expr("concat_ws(' ', slice(split(text, ' '), 1, 8))").as("title"),
        expr("concat_ws(' ', slice(split(text, ' '), 9, 1000000))")
          .as("body"))
      val queries = base.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.bm25fTopK(fdocs, broadcast(queries), 5,
          Seq("title" -> 3L, "body" -> 1L))
        .orderBy("qid", "rnk")
    },

    "q_bm25f_indexed" -> { (s, dir) =>
      // BM25F served from the persisted index via the virtual-doc
      // identity (bm25f ≡ bm25 over fields repeated by weight — pinned
      // in OperatorsSpec): index the title×3 + body virtual text once,
      // then every search is the bucket-pruned bm25TopKIndexed lane.
      // wtf/wdl/df/avgdl all coincide, so q_bm25f's oracle is shared
      // verbatim.
      val base = tbl(s, dir, "documents").select("doc_id", "text")
      val title = "concat_ws(' ', slice(split(text, ' '), 1, 8))"
      val body = "concat_ws(' ', slice(split(text, ' '), 9, 1000000))"
      val virtual = base.select(col("doc_id"),
        expr(s"concat_ws(' ', $title, $title, $title, $body)").as("text"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-bm25f-idx").toString + "/idx"
      Retrieval.buildIndex(virtual, work)
      val queries = base.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.bm25TopKIndexed(s, work, queries, 5)
        .orderBy("qid", "rnk")
    },

    "q_bm25_audit" -> { (s, dir) =>
      // relevance-drift audit on a fresh consistent index: the sampled
      // direct-vs-indexed MRR row must come back perfect — (n_q, n_q,
      // 10000, sidecar diffs 0, false) — which only happens if the whole
      // chain agrees (sampling rule, both scoring lanes, doclens stats,
      // rank ties) AND the stats sidecar matches a live doclens recount
      // (the r14 runtime twin of the OperatorsSpec sidecar≡recount pin).
      // The analytic oracle recomputes n_q from the stride rule; the
      // gutted-bucket + drifted-sidecar lanes are pinned in OperatorsSpec.
      val work = bm25BaseIndex(s, dir)
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      Retrieval.auditIndex(s, work, docs, k = 5, sampleBudget = 20)
    },

    "mm_equalize" -> { (s, dir) =>
      // histogram equalization under the exact gate: per doc, a 24×24
      // grayscale with the SKEWED closed-form distribution
      // v_i = (doc_id·3 + (i·i) mod 97) mod 200 round-trips the
      // lossless PNG lane and remaps through the integer CDF formula;
      // the oracle rebuilds the per-doc CDF in SQL (window running
      // count over the distinct values) and re-derives every remapped
      // pixel from doc_id arithmetic.
      import s.implicits._
      val ids = tbl(s, dir, "documents").where(col("doc_id") < 64)
        .select(col("doc_id").cast("long"))
      val media = ids.as[Long].mapPartitions(_.map { id =>
          (id, graft.operators.Multimodal.grayscalePng(24,
            (x, y) => {
              val i = (y * 24 + x).toLong
              ((id * 3 + (i * i) % 97) % 200).toInt
            }))
        }).toDF("media_id", "content")
      graft.operators.Multimodal.equalizeStats(media)
        .select(col("media_id").as("doc_id"), col("n_px"),
          col("sum_eq"), col("min_eq"), col("max_eq"))
        .orderBy("doc_id")
    },

    "mm_stft_frames" -> { (s, dir) =>
      // the STFT skeleton under the exact gate: analytic sawtooth WAVs
      // (sample i = (i·step) mod 65536 in offset-binary units) frame at
      // 256/hop-128 (overlapping frames — the hop arithmetic is the
      // point) and each frame's pure-integer Σu² energy is recomputed
      // closed-form by the oracle. Container parse, exact Int16
      // recovery, frame bounds and the reduction must all agree.
      import s.implicits._
      val ids = tbl(s, dir, "documents").where(col("doc_id") < 48)
        .select(col("doc_id").cast("long"))
      val media = ids.as[Long].mapPartitions(_.map { id =>
          (id, graft.operators.Multimodal
            .sawWav(257L + (id % 7) * 31L, 1000, 8000))
        }).toDF("media_id", "content")
      graft.operators.Multimodal.frameEnergyStats(media, 256, 128)
        .select(col("media_id").as("doc_id"), col("frame_idx"),
          col("n"), col("energy"))
        .orderBy("doc_id", "frame_idx")
    },

    "mm_g711_roundtrip" -> { (s, dir) =>
      // the ENCODER under the gate: sawtooth Int16 PCM compresses
      // through linearToUlaw and expands back, and the exact integer
      // quantization-error profile must match an oracle that replays
      // BOTH halves closed-form — the segment search is
      // seg = max(0, floor(log2(pcm + bias)) − 7) (log2 is exact at the
      // power-of-two segment boundaries on both engines), mantissa and
      // companding are pure integer shifts.
      import s.implicits._
      val ids = tbl(s, dir, "documents").where(col("doc_id") < 64)
        .select(col("doc_id").cast("long"))
      val media = ids.as[Long].mapPartitions(_.map { id =>
          (id, graft.operators.Multimodal
            .sawWav(257L + (id % 7) * 31L, 600, 8000))
        }).toDF("media_id", "content")
      graft.operators.Multimodal.g711RoundTripStats(media)
        .select(col("media_id").as("doc_id"), col("n_samples"),
          col("sum_err"), col("max_abs_err"), col("sse"))
        .orderBy("doc_id")
    },

    "mm_g711" -> { (s, dir) =>
      // the telephony companding codecs under the exact gate: per doc,
      // the SAME closed-form byte stream b_i = (doc_id·7 + i·11) % 256
      // rides a μ-law (tag 7) container for even docs and an A-law
      // (tag 6) container for odd docs; the decoder expands through the
      // CCITT formulas and reports exact integer stats. The oracle is a
      // pure per-sample expression (no recursion — companding is
      // memoryless), CASEd on the doc's lane.
      import s.implicits._
      val ids = tbl(s, dir, "documents").where(col("doc_id") < 64)
        .select(col("doc_id").cast("long"))
      val media = ids.as[Long].mapPartitions(_.map { id =>
          val codes = Array.tabulate(600)(i => ((id * 7 + i * 11) % 256).toInt)
          (id, graft.operators.Multimodal.g711Wav(codes, 8000,
            aLaw = id % 2 == 1))
        }).toDF("media_id", "content")
      graft.operators.Multimodal.g711Stats(media)
        .select(col("media_id").as("doc_id"), col("n_samples"),
          col("sum_s"), col("min_s"), col("max_s"))
        .orderBy("doc_id")
    },

    "text_kmv_distinct" -> { (s, dir) =>
      // KMV cardinality sketch next to its exact twin: per source, the
      // 16th-smallest md5-lane hash of the distinct vocabulary and the
      // floored (k−1)·2⁶⁰/h_k estimate (k = 16 < the ~31-token fixture
      // vocabulary, so the ESTIMATOR lane fires, not the small-set rule) — deterministic cross-engine
      // (exact-double constant, identical bigint→double rounding).
      graft.operators.TextStats.kmvDistinct(
          tbl(s, dir, "documents").select("source", "text"), 16)
        .orderBy("source")
    },

    "text_kmv_stream" -> { (s, dir) =>
      // the LIVE KMV sketch under a seeded SHUFFLED replay with a
      // re-delivered head slice (take-k-smallest is a commutative
      // monoid — the strongest invariance class, the psi-drift
      // precedent; duplicates cannot move the k-set). State is O(k)
      // per source. Final snapshots elect min(struct) per group — the
      // sketch only improves — and equal the batch estimator verbatim.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.Streaming.TokenRow]
      val name = s"kmv_replay_${System.nanoTime()}"
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = graft.streaming.Streaming.kmvDistinct(mem.toDS(), 16)
          .toDF().writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          val rows = tbl(s, dir, "documents")
            .select(col("source"),
              explode(split(col("text"), " ")).as("tok"))
            .where(col("tok") =!= "").distinct()
            .collect()
            .map(r => graft.streaming.Streaming.TokenRow(
              r.getString(0), r.getString(1)))
          val rnd = new scala.util.Random(17)
          val shuffled = rnd.shuffle(rows.toSeq)
          (shuffled.grouped(shuffled.length / 3 + 1).toSeq :+
            shuffled.take(300)) // cross-batch duplicate re-delivery
            .foreach { b => mem.addData(b); q.processAllAvailable() }
        } finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table(name).groupBy("g")
        .agg(min(struct(col("kth_hash"), col("est_floor"))).as("s"))
        .select(col("g").as("source"), col("s.kth_hash").as("kth_hash"),
          col("s.est_floor").as("est_floor"))
        .orderBy("source")
    },

    "text_vocab_overlap" -> { (s, dir) =>
      // cross-source vocabulary overlap — the data-mixing signal next
      // to text_kl_by_source's distributional drift: pairwise DISTINCT-
      // vocabulary Jaccard between sources in exact integer ppm.
      // Dimension-scale everywhere: one distinct (source, tok) table,
      // per-source sizes broadcast, the intersection a self-join on tok
      // over the distinct table (vocab × small source fan-out, never
      // doc-pair work).
      val vocab = tbl(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "").distinct()
        .localCheckpoint(true) // sizes AND both sides of the pair join
      val sizes = vocab.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = vocab.as("a").join(vocab.as("b"),
          col("a.tok") === col("b.tok") &&
            col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
      inter
        .join(broadcast(sizes.select(col("source").as("src_a"),
          col("n").as("n_a"))), "src_a")
        .join(broadcast(sizes.select(col("source").as("src_b"),
          col("n").as("n_b"))), "src_b")
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          col("n_shared"),
          expr("n_shared * 1000000L div (n_a + n_b - n_shared)")
            .as("jaccard_ppm"))
        .orderBy("src_a", "src_b")
    },

    "mm_adpcm" -> { (s, dir) =>
      // a REAL compressed-audio codec under the exact gate: per doc, an
      // IMA-ADPCM (WAV tag 0x11) container packs 800 closed-form 4-bit
      // codes n_i = (doc_id·5 + i·3) % 16, round-trips through the
      // RIFF block walk + table-driven decoder, and reports exact
      // integer sample stats. The oracle REPLAYS the entire decode
      // recurrence (step/index tables as list literals, clamps,
      // floor-shifts) as a recursive CTE — the row only matches if the
      // container layout, nibble order, and every table lookup agree.
      import s.implicits._
      val ids = tbl(s, dir, "documents").where(col("doc_id") < 64)
        .select(col("doc_id").cast("long"))
      val media = ids.as[Long].mapPartitions(_.map { id =>
          val nib = Array.tabulate(800)(i => ((id * 5 + i * 3) % 16).toInt)
          (id, graft.operators.Multimodal.imaAdpcmWav(nib, 8000))
        }).toDF("media_id", "content")
      graft.operators.Multimodal.adpcmStats(media)
        .select(col("media_id").as("doc_id"), col("n_samples"),
          col("sum_s"), col("min_s"), col("max_s"))
        .orderBy("doc_id")
    },

    "mm_psnr" -> { (s, dir) =>
      // full-reference image-quality audit under the exact gate: per
      // doc, a 24×24 grayscale ramp A (values in [4, 243] — headroom so
      // the perturbed pair never clips) and B = A + ((doc_id + i) % 7)
      // − 3 round-trip through the lossless PNG lane, then integer
      // SSE / max-abs-err / floor-dB PSNR. The oracle recomputes every
      // residual from doc_id arithmetic — the row only matches if both
      // encodes, both decodes, pixel alignment and the PSNR fold agree.
      import s.implicits._
      val ids = tbl(s, dir, "documents").where(col("doc_id") < 120)
        .select(col("doc_id").cast("long"))
      val pairs = ids.as[Long].mapPartitions(_.map { id =>
          def base(i: Int): Int = (4 + ((id * 13 + 7L * i) % 240)).toInt
          val a = graft.operators.Multimodal.grayscalePng(24,
            (x, y) => base(y * 24 + x))
          val b = graft.operators.Multimodal.grayscalePng(24,
            (x, y) => {
              val i = y * 24 + x
              base(i) + (((id + i) % 7) - 3).toInt
            })
          (id, a, b)
        }).toDF("media_id", "a", "b")
      graft.operators.Multimodal.imagePairStats(pairs)
        .select(col("media_id").as("doc_id"), col("n_px"), col("sse"),
          col("max_abs_err"), col("psnr_db_floor"))
        .orderBy("doc_id")
    },

    "mm_resample" -> { (s, dir) =>
      // rational-ratio PCM resampling (8 kHz → 3 kHz, factor 3/8) under
      // the exact gate: per-doc integer SAWTOOTH WAVs (every sample a
      // closed form of doc_id — the analytic-synthesis move) round-trip
      // through the RIFF container + parseWav, then linear-interpolate
      // on offset-binary Int16 units with floor division only. The
      // oracle recomputes every output sample from doc_id arithmetic —
      // the row matches only if container write, parse, exact sample
      // recovery, and interpolation all agree.
      import s.implicits._
      val ids = tbl(s, dir, "documents")
        .where(col("doc_id") < 200).select(col("doc_id").cast("long"))
      val media = ids.as[Long].mapPartitions(_.map { id =>
          (id, graft.operators.Multimodal
            .sawWav(257L + (id % 7) * 31L, 2000, 8000))
        }).toDF("media_id", "content")
      graft.operators.Multimodal.resamplePcmStats(media, l = 3, m = 8)
        .select(col("media_id").as("doc_id"), col("n_out"),
          col("sum_amp"), col("min_amp"), col("max_amp"))
        .orderBy("doc_id")
    },

    "emb_ann_ivf_trained" -> { (s, dir) =>
      // trained-index ANN under the EXACT gate: 2 Lloyd iterations in
      // the integer lane (floor(el·1e6) BIGINT recentering, truncating
      // integer division — Spark div ≡ DuckDB //) make every centroid a
      // deterministic function of exact integers, so the full train →
      // assign → probe → rerank chain reproduces bit-for-bit in SQL.
      // The float-mean trainer can't do this (avg order drifts); this
      // is the lane a production gate would pin its index builds on.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      Similarity.ivfTopKTrainedExact(e, k = 3, stride = 50, nprobe = 2,
          iters = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_ann_ivfpq" -> { (s, dir) =>
      // ANN scale path #3: IVF + product quantization — coarse cells
      // bound the candidates, PQ asymmetric distance (16 subspaces × a
      // dense stride-5 codebook) scores them from codes alone; the
      // billion-vector memory shape (Similarity.ivfpqTopK)
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      Similarity.ivfpqTopK(e, k = 3, stride = 50, nprobe = 2, m = 16)
        .withColumn("adist", round(col("adist"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_ann_ivfpq_indexed" -> { (s, dir) =>
      // the PERSISTED codes-only IVF-PQ index (the compressed disk
      // shape: ~m ints per vector + metadata sidecars), searched with
      // the corpus as queries — identical sampling, encode kernel, and
      // ADC arithmetic as the in-memory lane, so emb_ann_ivfpq's oracle
      // is shared verbatim; search I/O is the probed cell partitions
      // of codes only.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val work = ivfpqBaseIndex(s, dir)
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfPqIndexTopK(s, work, q, k = 3, nprobe = 2)
        .withColumn("adist", round(col("adist"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_ann_ivfpq_filtered" -> { (s, dir) =>
      // attribute-filtered search on the COMPRESSED index (r15):
      // codes-only rows carry no attributes by design, so the filter is
      // an allowed vec-id frame semi-joined BEFORE the ADC kernel — no
      // distance math on filtered-out codes; shares the read-only PQ
      // fixture and the ivfpq oracle with the candidate predicate.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val work = ivfpqBaseIndex(s, dir)
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      val allowed = e.where(col("vec_id") % 4 === 1).select("vec_id")
      Similarity.ivfPqIndexTopKFiltered(s, work, q, k = 3,
          broadcast(allowed), nprobe = 2)
        .withColumn("adist", round(col("adist"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_ann_ivf_postfiltered" -> { (s, dir) =>
      // the OTHER filtered-ANN strategy (r15): rank UNFILTERED to
      // k·oversample = 12 first, then filter and re-rank to 3 — right
      // when the predicate is near-unselective and pushing it buys
      // nothing; the recall trade is explicit (a query whose wide
      // window holds < 3 matching rows returns fewer). Own oracle: the
      // same two-stage rank in SQL.
      val work = ivfBaseIndex(s, dir)
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfIndexTopKFiltered(s, work, q, k = 3,
          pred = col("src") === 1, nprobe = 2, oversample = 4)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_ann_ivfpq_refined" -> { (s, dir) =>
      // the FAISS serving topology end-to-end: top-10 ADC candidates
      // from the codes-only PQ index, exact-cosine rerank from the
      // FLAT index's raw cells (both memoized read-only fixtures) —
      // rerank work ∝ queries × 10, never the corpus. The oracle runs
      // the full ADC chain to the SAME candidate cut, then the exact
      // rerank.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfPqIndexTopKRefined(s, ivfpqBaseIndex(s, dir),
          ivfBaseIndex(s, dir), q, k = 3, rerankR = 10, nprobe = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_ann_ivfpq_stream" -> { (s, dir) =>
      // STREAMING maintenance of the codes-only PQ index: frozen
      // quantizers up front, then foreachBatch → applyIvfPqBatch (batch
      // commit gate + crashed-dir repair + first-arrival-wins content
      // anti-join). Batch 1's rows are re-delivered under a NEW id to
      // prove the content gate. Final content ≡ corpus ⇒ shares
      // emb_ann_ivfpq's oracle verbatim.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivfpq-stream").toString + "/idx"
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      Similarity.writeIvfPqQuantizers(e, work, stride = 50, m = 16)
      def rows(m0: Long) = e.where(col("vec_id") % 3 === m0)
        .as[(Long, Seq[Double])].collect().toSeq
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Double])]
      val q = mem.toDF.toDF("vec_id", "emb")
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          Similarity.applyIvfPqBatch(s, work, b, id); ()
        }
        .option("checkpointLocation", s"$work/../ckpt").start()
      try {
        mem.addData(rows(0)); q.processAllAvailable()
        mem.addData(rows(1)); q.processAllAvailable()
        // at-least-once: re-deliver batch 1's rows under a NEW batch id
        // — the touched-cell anti-join drops every one by content
        mem.addData(rows(1)); q.processAllAvailable()
        mem.addData(rows(2)); q.processAllAvailable()
      } finally q.stop()
      val qs = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfPqIndexTopK(s, work, qs, k = 3, nprobe = 2)
        .withColumn("adist", round(col("adist"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_ann_ivfpq_appended" -> { (s, dir) =>
      // the frozen-quantizer APPEND lifecycle: quantizer sidecars train
      // on the full corpus once (writeIvfPqQuantizers — the production
      // split), then the cells fill through TWO appends (vec_id parity
      // halves) under the generation CAS. Content ≡ corpus and the
      // quantizers match the oracle's sampling, so the search shares
      // emb_ann_ivfpq's oracle verbatim — a lost or double-encoded
      // append hash-diverges.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivfpq-app").toString + "/idx"
      Similarity.writeIvfPqQuantizers(e, work, stride = 50, m = 16)
      Similarity.appendToIvfPqIndex(e.where(col("vec_id") % 2 === 0), work)
      Similarity.appendToIvfPqIndex(e.where(col("vec_id") % 2 === 1), work)
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfPqIndexTopK(s, work, q, k = 3, nprobe = 2)
        .withColumn("adist", round(col("adist"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_ann_ivfpq_deleted" -> { (s, dir) =>
      // deletion compliance for the codes-only index (the takedown pass
      // every 100 TB corpus eventually gets — r12's missing lane):
      // quantizers train on the real corpus (production split), the
      // cells fill with corpus + id-shifted decoys, then the staged
      // (batch, cell) COW delete purges the decoys. Surviving content ≡
      // corpus, so the search shares emb_ann_ivfpq's oracle verbatim —
      // leftover decoy codes OR an over-delete hash-diverges.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivfpq-del").toString + "/idx"
      Similarity.writeIvfPqQuantizers(e, work, stride = 50, m = 16)
      val decoys = e.where(col("vec_id") % 9 === 4)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("emb"))
      Similarity.appendToIvfPqIndex(e.unionByName(decoys), work)
      Similarity.deleteFromIvfPqIndexFrame(s, work, decoys.select("vec_id"))
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfPqIndexTopK(s, work, q, k = 3, nprobe = 2)
        .withColumn("adist", round(col("adist"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_ann_ivfpq_compacted" -> { (s, dir) =>
      // the batch-dir fold: three parity appends leave three
      // `pqcells/batch=N` dirs (a search pays a task per dir per probed
      // cell — the read-amplification ScaleSpec pins), compaction folds
      // them into the max label under the durable-marker protocol.
      // Content-preserving ⇒ emb_ann_ivfpq's oracle verbatim.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivfpq-cpt").toString + "/idx"
      Similarity.writeIvfPqQuantizers(e, work, stride = 50, m = 16)
      (0 to 2).foreach(i =>
        Similarity.appendToIvfPqIndex(e.where(col("vec_id") % 3 === i), work))
      Similarity.compactIvfPqIndex(s, work)
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfPqIndexTopK(s, work, q, k = 3, nprobe = 2)
        .withColumn("adist", round(col("adist"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_ann_ivfpq_maintained" -> { (s, dir) =>
      // the CLOSED drift loop for the codes-only index (emb_ann_ivf_
      // audited's shape on the PQ lane): the family bootstraps under
      // deliberately BIASED quantizers (coarse centroids AND codebooks
      // trained on one corner of the corpus — ADC quality on the full
      // corpus is immediately poor), micro-batches fold through
      // maintainIvfPqBatch with in-loop compaction, and the audit on the
      // final batch trips rebuild → quantizers retrain at the oracle's
      // strides on the corpus, cells re-encode, generation flips.
      // Content ≡ corpus and the retrained sampling ≡ the oracle's, so
      // the post-flip search shares emb_ann_ivfpq's oracle verbatim —
      // a silent non-firing audit leaves the biased quantizers and
      // hash-diverges.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val base = java.nio.file.Files
        .createTempDirectory("graft-ivfpq-mnt").toString + "/fam"
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      Similarity.writeIvfPqQuantizers(e.where(col("vec_id") < 40),
        s"$base/gen=0", stride = 8, m = 16, pqStride = 2)
      def rows(m0: Long) = e.where(col("vec_id") % 3 === m0)
        .as[(Long, Seq[Double])].collect().toSeq
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Double])]
      val q = mem.toDF.toDF("vec_id", "emb")
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          Similarity.maintainIvfPqBatch(s, base, b, id, e,
            compactEvery = 2, auditEvery = 3, k = 3, nprobe = 2,
            rebuildStride = 50, rebuildPqStride = 5, m = 16,
            minRecallBp = 8000)
          ()
        }
        .option("checkpointLocation", s"$base/../ckpt").start()
      try {
        mem.addData(rows(0)); q.processAllAvailable()
        mem.addData(rows(1)); q.processAllAvailable()
        mem.addData(rows(2)); q.processAllAvailable()
      } finally q.stop()
      val qs = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfPqIndexTopK(s, Similarity.ivfPqCurrentRoot(s, base),
          qs, k = 3, nprobe = 2)
        .withColumn("adist", round(col("adist"), 6))
        .orderBy("qid", "rnk")
    },

    "emb_ann_ivfpq_stats" -> { (s, dir) =>
      // per-cell observability for the codes-only index: counts are
      // home-cell assignment cardinalities (SQL-reproducible, the
      // emb_ann_ivf_stats rule); batch fan-out and file bytes stay
      // Spark-side (ops signals, not oracle material).
      val work = ivfpqBaseIndex(s, dir)
      Similarity.ivfPqIndexStats(s, work)
        .select(col("cell"), col("n_codes"))
        .orderBy("cell")
    },

    "emb_ann_ivfpq_audited" -> { (s, dir) =>
      // the ADC-drift audit as a FULLY-ORACLED row (stronger than the
      // flat lane's audited gate, which pins the audit only through its
      // rebuild side-effect): DuckDB recomputes the stride sample, the
      // whole ADC chain for the sampled queries, the exact-cosine lane,
      // and the integer recall/balance row. A gutted batch dir or a
      // half-published mutation shifts recall_bp and hash-diverges.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivfpq-aud").toString + "/idx"
      Similarity.writeIvfPqQuantizers(e, work, stride = 50, m = 16)
      Similarity.appendToIvfPqIndex(e, work)
      Similarity.auditIvfPqIndex(s, work, e, k = 3, nprobe = 2,
        sampleBudget = 20, minRecallBp = 3000)
    },

    "emb_ann_recall" -> { (s, dir) =>
      // the evaluation harness every ANN deployment needs: recall@3 of
      // the IVF path vs the exact top-3, per query, as exact integers
      // (overlap count + bp). Brute force restricted to 20 queries (the
      // exact lane is the expensive one — that's the point of ANN); the
      // IVF side is the same index build as emb_ann_ivf. Both top-3 sets
      // are fully rank-pinned, so the overlap is deterministic.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      val exact = Similarity.cosineTopK(e, broadcast(q), 3)
        .select("qid", "cid")
      val ivf = Similarity.ivfTopK(e, k = 3, stride = 50, nprobe = 2)
        .where(col("qid") < 20).select("qid", "cid")
      val hits = exact.join(ivf, Seq("qid", "cid"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_hits"))
      q.select("qid").join(hits, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("recall_bp", expr("(10000L * n_hits) div 3L"))
        .orderBy("qid")
    },

    "emb_centroids" -> { (s, dir) =>
      // per-label centroid (element-wise mean) via posexplode → one hash
      // aggregation on (label, dim) — the shuffle-parallel formulation; a
      // lambda fold over arrays would serialize each label onto one task
      // round(6) like every emb_* output: per-dim means cancel to ~1e-5
      // magnitudes, so raw last-ulp summation-order noise would sit too
      // close to an exact hash compare
      tbl(s, dir, "embeddings")
        .select(col("label"),
          posexplode(col("embedding").cast("array<double>")))
        .groupBy(col("label"), (col("pos") + 1).cast("long").as("dim"))
        .agg(round(avg("col"), 6).as("centroid"))
        .orderBy("label", "dim")
    },

    "emb_sq8_topk" -> { (s, dir) =>
      // int8 scalar quantization (FAISS-SQ8 style): per-dim (min, span)
      // from the one-pass DimStats profile, codes = min(255, floor((x −
      // min)·255/span)), top-k MIPS on the QUANTIZED codes — the 4×
      // storage lane. Integer-valued code dot ⇒ hash-exact cross-engine.
      graft.operators.Similarity
        .sq8TopK(tbl(s, dir, "embeddings"), queryId = 7L)
    },

    "emb_dim_stats" -> { (s, dir) =>
      // corpus-wide per-dimension stats via ONE mergeable typed
      // Aggregator (DimStats): the vector stays whole in the partial
      // buffer, so the shuffle is O(#partitions x d) — not the n x d
      // rows a posexplode/groupBy(dim) ships (that formulation is
      // emb_centroids', fine per-label; this is the global-profile
      // shape). BIGINT fixed-point sums make mean/std bit-identical
      // cross-engine with no rounding lane.
      graft.operators.DimStats
        .dimStats(tbl(s, dir, "embeddings"), "embedding")
        .orderBy("dim")
    },

    "emb_ood_score" -> { (s, dir) =>
      // embedding-space outlier flag: diagonal-Mahalanobis novelty
      // score against the DimStats corpus profile (exact fixed-point
      // μ/σ ⇒ bit-identical profile cross-engine; scoring is a
      // shuffle-free projection). Ordered by id, NOT by score — the
      // float sum is the one order-sensitive step and stays inside the
      // fp lane instead of becoming a row-order hazard.
      graft.operators.DimStats
        .oodScores(tbl(s, dir, "embeddings"), "embedding")
        .orderBy("vec_id")
    },

    "emb_pca_gram" -> { (s, dir) =>
      // the exact sufficient statistics behind PCA: one-pass mergeable
      // graft_gram_multi buffer (shuffle = one ~17 KB buffer per
      // partition, never rows), exploded to (i, j) upper-triangle cells
      // — integer-exact, so the oracle recomputes it cell-for-cell.
      graft.operators.Pca
        .gramUpper(tbl(s, dir, "embeddings"), "embedding", 64)
        .orderBy("i", "j")
    },

    "emb_mmr" -> { (s, dir) =>
      // diversified retrieval: exact-cosine top-30 candidates for the
      // vec_id=0 query (distributed TakeOrderedAndProject), then greedy
      // MMR (λ=0.7, k=10) driver-side over the metadata-scale candidate
      // block — picks are engine-reproducible because every dot folds
      // ascending (graft_dot ≡ list_dot_product) and the MMR combine is
      // one fixed-shape double expression.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.where(col("vec_id") === 0)
        .select(col("emb").as("qemb"))
      Similarity.mmrSelect(e.where(col("vec_id") =!= 0), q,
          candN = 30, k = 10, lambda = 0.7)
        .withColumn("rel", round(col("rel"), 6))
        .withColumn("mmr_score", round(col("mmr"), 6))
        .select("rnk", "vec_id", "rel", "mmr_score")
        .orderBy("rnk")
    },

    "emb_kcenter" -> { (s, dir) =>
      // coreset selection: 10 farthest-first picks over the FULL corpus
      // (never collected, unlike emb_mmr's bounded candidate block) —
      // the diversity sample + coverage-radius report a curation
      // pipeline runs before labeling. Radius only rounds in the OUTPUT
      // lane; selection compares the raw fold-exact doubles.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      Similarity.kcenterGreedy(e, k = 10)
        .withColumn("radius", round(col("radius"), 6))
        .orderBy("pick")
    },

    "emb_pca" -> { (s, dir) =>
      // corpus-map coordinates: top-2 principal components fitted from
      // the exact Gram statistics (driver-side 64x64 Jacobi eigensolve,
      // deterministic sweep order + sign convention), then a
      // shuffle-free projection. The fitted model is CAPTURED so the
      // oracle dump can recompute the projection from the same
      // eigenvector literals (see pcaOracle) — emb_pca sits under the
      // full hash gate since r10; determinism + residual properties
      // stay pinned in OperatorsSpec.
      val e = tbl(s, dir, "embeddings")
      val (_, comps, mean) = graft.operators.Pca.fit(e, "embedding", 64, 2)
      pcaFitted = Some((mean, comps))
      graft.operators.Pca
        .projectWith(e, "embedding", "vec_id", comps, mean)
        .orderBy("vec_id")
    },

    "emb_whiten" -> { (s, dir) =>
      // PCA WHITENING: coordinates scaled to unit variance along each
      // principal axis, w_j = (x−μ)·(v_j/√λ_j) — the normalization
      // retrieval/OOD pipelines apply before cosine so high-variance
      // axes stop dominating. The 1/√λ scaling folds into the
      // eigenvector literals DRIVER-side, so the projection stays the
      // same shuffle-free graft_dot chain as emb_pca and the oracle
      // splices the SCALED literals — zero new cross-engine machinery.
      val e = tbl(s, dir, "embeddings")
      val (eig, comps, mean) = graft.operators.Pca.fit(e, "embedding", 64, 2)
      val scaled = comps.zip(eig).map { case (w, l) =>
        require(l > 0, "whitening needs strictly positive eigenvalues")
        val sInv = 1.0 / math.sqrt(l)
        w.map(_ * sInv)
      }
      whitenFitted = Some((mean, scaled))
      graft.operators.Pca
        .projectWith(e, "embedding", "vec_id", scaled, mean)
        .select(col("vec_id"), col("pc1").as("w1"), col("pc2").as("w2"))
        .orderBy("vec_id")
    },

    "graph_bfs_hops" -> { (s, dir) =>
      // multi-source BFS over the co-purchase graph (same support-2
      // edge recipe as graph_triangles): hop distances from the
      // partkey%50==0 seed set, depth-capped at 3. Frontier-expansion
      // equi-joins — per round only frontier-adjacent edges move, never
      // a transitive closure; distances are exact integers (no
      // fixed-point lane needed, unlike pagerank's ranks).
      val edges = copurchaseEdges(s, dir)
      val seeds = edges.select(col("u").as("v"))
        .unionAll(edges.select(col("v")))
        .where(col("v") % 50 === 0).distinct()
      Graphs.bfsDistances(edges, seeds, maxHops = 3).orderBy("v")
    },

    "graph_sssp" -> { (s, dir) =>
      // WEIGHTED shortest paths on the co-purchase graph (the weighted
      // sibling of graph_bfs_hops): edge length 10⁶ div support — strong
      // links are short — 4 fixed Bellman–Ford rounds from the smallest
      // vertex. Integer lengths keep every relaxation exact; fixed
      // rounds make it a deterministic function of the edge set
      // (unrolled AS MATERIALIZED CTEs on the oracle side). O(E) per
      // round — relax-and-min, never path enumeration.
      val edges = copurchaseEdges(s, dir)
        .withColumn("w", expr("1000000 div support"))
        .localCheckpoint(true) // feeds seeds + 4 relaxation rounds
      val seeds = edges.agg(min("u").as("v"))
      Graphs.ssspDistances(edges, seeds, rounds = 4).orderBy("v")
    },

    "graph_jaccard_links" -> { (s, dir) =>
      // link prediction on the co-purchase graph (same support-2 edges):
      // neighbor-set Jaccard over unlinked 2-path pairs, top 20 — the
      // "customers who bought X also bought Y" candidate scorer. Exact
      // BIGINT counts + one IEEE division ⇒ raw-double ranking is safe
      // cross-engine (no rounding lane needed).
      val edges = copurchaseEdges(s, dir)
      Graphs.jaccardLinks(edges)
        .orderBy(col("jaccard").desc, col("a"), col("c")).limit(20)
    },

    "graph_ra_links" -> { (s, dir) =>
      // link prediction #2 on the same co-purchase graph: the
      // resource-allocation index (Σ 1/deg over common neighbors) —
      // degree-penalized where Jaccard is size-normalized, so hub
      // midpoints stop dominating. Scored entirely in the exact integer
      // lane (10⁹ div deg per midpoint, BIGINT sum): no ln, no float
      // summation order, same 2-path + left-anti plan as jaccardLinks.
      val edges = copurchaseEdges(s, dir)
      Graphs.resourceAllocationLinks(edges)
        .orderBy(col("ra_ppb").desc, col("a"), col("c")).limit(20)
    },

    "pipe_k_anonymity" -> { (s, dir) =>
      // privacy audit before a training-data release: quasi-identifiers
      // (nation, acctbal kilo-bucket), sensitive attribute mktsegment;
      // per equivalence class: size, l-diversity, suppressed (size < k).
      // One hash aggregation (Pipeline.kAnonymityReport) — audit cost is
      // a groupBy count at any corpus size.
      val c = tbl(s, dir, "customer")
        .withColumn("bal_kb", floor(col("c_acctbal") / 1000).cast("long"))
      graft.operators.Pipeline
        .kAnonymityReport(c, Seq("c_nationkey", "bal_kb"),
          sensitive = "c_mktsegment", k = 5)
        .orderBy("c_nationkey", "bal_kb")
    },

    "pipe_t_closeness" -> { (s, dir) =>
      // the distributional privacy audit k-anonymity misses: per
      // equivalence class (same QI as pipe_k_anonymity), the
      // total-variation distance between the class's sensitive-value
      // distribution and the corpus-wide one, in exact cross-multiplied
      // integers (tvd_ppm = 10⁶·Σ|c_v·N − g_v·n| div (2·n·N)). One
      // corpus scan; the class × value grid is metadata-scale.
      val c = tbl(s, dir, "customer")
        .withColumn("bal_kb", floor(col("c_acctbal") / 1000).cast("long"))
      graft.operators.Pipeline
        .tClosenessReport(c, Seq("c_nationkey", "bal_kb"),
          sensitive = "c_mktsegment")
        .orderBy("c_nationkey", "bal_kb")
    },

    "pipe_pii_scan" -> { (s, dir) =>
      // PII release audit over a corpus with DETERMINISTIC injected PII
      // (docs < 30 gain an email / phone / URL by doc_id % 3 — the
      // withInjectedVariants pattern: the recipe is mirrored in the
      // oracle, so the regex detectors are exercised on known-positive
      // rows instead of vacuously counting zeros).
      val base = tbl(s, dir, "documents").select("doc_id", "source", "text")
      val injected = base.withColumn("text",
        when(col("doc_id") < 30, concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact me at user"),
              col("doc_id").cast("string"), lit("@example.com today")))
          .when(col("doc_id") % 3 === 1,
            concat(lit(" call 555-"),
              (col("doc_id") + 1000).cast("string"), lit(" extension now")))
          .otherwise(concat(lit(" see https://example.org/page"),
            col("doc_id").cast("string"), lit(" info")))))
        .otherwise(col("text")))
      graft.operators.Pipeline.piiScan(injected).orderBy("source")
    },

    "q_fuzzy_match" -> { (s, dir) =>
      // typo-tolerant term lookup, the SymSpell shape: both vocabulary
      // and query tokens explode into their 1-DELETION neighborhoods
      // (term itself + term minus each char), candidates are an
      // equi-join on deletion keys — covering edit distance <= 1
      // COMPLETELY (equal / insert / delete / substitute all share a
      // deletion) at index cost O(vocab × len) instead of
      // O(vocab × queries) brute levenshtein — then exact-verified with
      // levenshtein (bit-identical integer DP on both engines). Queries
      // are deterministic misspellings: the 10 most frequent len>=5
      // tokens with their 3rd char dropped.
      val toks = tbl(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true) // feeds vocab AND the query ranking
      // r17: two-level top-k (the q_tfidf_top_terms discipline) — the
      // query rank is vocab-scale; bucket pre-rank keeps recall
      // structural and the final window sees <= 10·32 rows
      val qwb = Window.partitionBy("bkt")
        .orderBy(col("cnt").desc, col("tok"))
      val queries = toks.where(length(col("tok")) >= 5)
        .withColumn("bkt", pmod(xxhash64(col("tok")), lit(32)))
        .withColumn("brk", row_number().over(qwb))
        .where(col("brk") <= 10)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("cnt").desc, col("tok"))))
        .where(col("rk") <= 10)
        .select(concat(expr("substring(tok, 1, 2)"),
          expr("substring(tok, 4)")).as("qtok"))
      Retrieval.fuzzyTermLookup(toks.select(col("tok").as("term")), queries)
        .orderBy("qtok", "term")
    },

    "text_heavy_hitters" -> { (s, dir) =>
      // exact heavy hitters (count > total/64) through a Misra–Gries
      // candidate pass: per-partition MG summaries (shuffle-free, <= 128
      // candidates each) + an exact recount of the candidate union only —
      // recall structurally total by pigeonhole, output ≡ the oracle's
      // direct full-vocabulary groupBy at O(counters × partitions)
      // shuffle instead of O(vocab)
      graft.operators.TextStats
        .heavyHitters(tbl(s, dir, "documents"))
        .orderBy(desc("cnt"), col("tok"))
    },

    "text_oov_rate" -> { (s, dir) =>
      // tokenizer-coverage audit: per source, the fraction of token
      // occurrences outside the global top-1000 vocabulary (count desc,
      // token tiebreak), in exact ppm — the first number checked before
      // committing to a fixed vocab. The vocab ranking window runs on
      // the DISTINCT-token table (vocabulary-scale, q_ntile_cume-style);
      // the corpus joins against the broadcast vocab once.
      val t = tbl(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "")
        .localCheckpoint(true) // feeds the vocab ranking AND the probe
      // r17: two-level top-k (the text_zipf_fit discipline) — bucket
      // pre-rank with structural recall; the final window sees <= 32k
      // candidate rows instead of the vocabulary
      val vwb = Window.partitionBy("bkt")
        .orderBy(col("c").desc, col("tok"))
      val vocab = t.groupBy("tok").agg(count(lit(1)).as("c"))
        .withColumn("bkt", pmod(xxhash64(col("tok")), lit(32)))
        .withColumn("brk", row_number().over(vwb))
        .where(col("brk") <= 1000)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("c").desc, col("tok"))))
        .where(col("rk") <= 1000)
        .select(col("tok"), lit(1L).as("iv"))
      t.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("source").agg(count(lit(1)).as("n_toks"),
          sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_ppm", expr("(1000000 * n_oov) div n_toks"))
        .orderBy("source")
    },

    "text_collocations" -> { (s, dir) =>
      // collocation extraction (PMI family) in the EXACT integer lane:
      // instead of log p(xy)/(p(x)p(y)) — whose ln diverges by libm —
      // rank bigrams by integer LIFT ppm = (10⁶·c_xy·N) div (c_x·c_y),
      // a monotone transform of PMI, with min-support 5 and the
      // (lift, w1, w2) total order. One corpus scan explodes adjacent
      // pairs (the words array is materialized BEFORE the lambda — the
      // per-element re-split trap); counts are two hash aggs; the
      // unigram joins key on the word. BIGINT headroom: 10⁶·c_xy·N
      // caps the lane at ~10⁵ corpus tokens per 10⁷ bigram count —
      // fine to ~10⁹ tokens with c_xy ≤ 10⁴.
      val w = tbl(s, dir, "documents")
        .select(split(col("text"), " ").as("ws"))
      val bi = w.where(size(col("ws")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(ws) - 1),
            |  i -> struct(ws[i - 1] AS w1, ws[i] AS w2))""".stripMargin))
          .as("b"))
        .select("b.w1", "b.w2")
        .where(col("w1") =!= "" && col("w2") =!= "")
      val toks = w.select(explode(col("ws")).as("tok"))
        .where(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // keys BOTH unigram joins
      val ntot = toks.agg(sum("c").as("n_total"))
      bi.groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
        .where(col("cxy") >= 5)
        .join(toks.select(col("tok").as("w1"), col("c").as("c1")), "w1")
        .join(toks.select(col("tok").as("w2"), col("c").as("c2")), "w2")
        .crossJoin(broadcast(ntot))
        .withColumn("lift_ppm",
          expr("(1000000 * cxy * n_total) div (c1 * c2)"))
        .select("w1", "w2", "cxy", "lift_ppm")
        .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
        .limit(20)
    },

    "pipe_dataset_fingerprint" -> { (s, dir) =>
      // reproducibility audit: an ORDER-INVARIANT per-source dataset
      // fingerprint — xor plus a mod-10⁹ sum of 60-bit md5 row hashes
      // over (doc_id, text) — any changed/added/dropped row flips it,
      // and shuffle order cannot (commutative aggs). The xor lane alone
      // would miss a row duplicated an even number of times; the count
      // + modsum lanes close that. One scan, one hash agg — the
      // fingerprint costs a groupBy at any corpus size.
      tbl(s, dir, "documents")
        .withColumn("h", expr(
          """CAST(conv(substring(md5(CAST(concat(CAST(doc_id AS STRING),
            |  ':', text) AS BINARY)), 1, 15), 16, 10) AS BIGINT)"""
            .stripMargin))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          expr("bit_xor(h)").as("xor_fp"),
          sum(expr("h % 1000000000")).as("modsum_fp"))
        .orderBy("source")
    },

    "pipe_quantile_norm" -> { (s, dir) =>
      // cross-source distribution balancing: quantile-normalize each
      // source's doc-length distribution onto the global one (type-1
      // order statistics, integer rank arithmetic — see the operator
      // scaladoc for why there is deliberately NO global per-row
      // window).
      graft.operators.Pipeline.quantileNormalize(
          tbl(s, dir, "documents"), valueCol = "n_chars")
        .orderBy("doc_id")
    },

    "emb_rocchio" -> { (s, dir) =>
      // dense pseudo-relevance feedback (the q_bm25_prf twin for
      // embeddings): first-pass MIPS top-3 elects feedback vectors, the
      // refined query q' = q + 0.75·centroid(feedback) folds its
      // centroid in order-free BIGINT fixed point, and the second pass
      // re-ranks raw inner products — bit-exact cross-engine.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val qv = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.rocchioTopK(e, qv, 5).orderBy("qid", "rnk")
    },

    "emb_hard_negatives" -> { (s, dir) =>
      // triplet mining for contrastive training: per anchor (vec_id <
      // 20), the HARDEST NEGATIVE (most similar vector with a different
      // label) and HARDEST POSITIVE (least similar same-label vector) —
      // the two elections that decide whether a margin loss sees any
      // gradient. One broadcast-anchors × corpus scan, two
      // WindowGroupLimit rank-1 picks; sims rank raw (graft_dot ≡
      // list_dot_product), ties to the lower cid.
      val e = tbl(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"), col("label"))
      val q = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"),
          col("label").as("qlabel"))
      val scored = e.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("qid"))
        .withColumn("sim", expr("graft_dot(qemb, emb)") /
          (sqrt(expr("graft_dot(qemb, qemb)")) *
            sqrt(expr("graft_dot(emb, emb)"))))
        // drop the vectors BEFORE materializing: the checkpoint (which
        // feeds BOTH elections) carries 5 scalars per pair, not 128
        // doubles
        .select("qid", "qlabel", "vec_id", "label", "sim")
        .localCheckpoint(true)
      val hn = scored.where(col("label") =!= col("qlabel"))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("sim").desc, col("vec_id"))))
        .where(col("rn") === 1)
        .select(col("qid"), col("qlabel"), col("vec_id").as("hn_id"),
          round(col("sim"), 6).as("hn_sim"))
      val hp = scored.where(col("label") === col("qlabel"))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("sim"), col("vec_id"))))
        .where(col("rn") === 1)
        .select(col("qid"), col("vec_id").as("hp_id"),
          round(col("sim"), 6).as("hp_sim"))
      hn.join(hp, "qid").orderBy("qid")
    },

    "pipe_quota_split" -> { (s, dir) =>
      // EXACT stratified 80/10/10 split by largest-remainder quotas —
      // per source the allocation error vs true proportions is < 1 row
      // by construction (pipe_split_hash is only proportional in
      // expectation; binomial noise on a small stratum can starve a dev
      // set). Integer quota arithmetic + id-ordered assignment = a pure
      // function of the data, bit-identical cross-engine.
      graft.operators.Pipeline.quotaSplit(
          tbl(s, dir, "documents").select("doc_id", "source"),
          Seq("train" -> 80L, "dev" -> 10L, "test" -> 10L))
        .select("doc_id", "source", "split")
        .orderBy("doc_id")
    },

    "pipe_target_encode" -> { (s, dir) =>
      // leave-one-out smoothed target encoding (the leakage-safe form:
      // each row's own target is excluded from its category mean) —
      // enc = (Σcat − own + m·prior) div (n−1+m), m = 100, prior = the
      // global integer mean. Exact BIGINT cents everywhere; stats come
      // from one full-table agg, the per-row encode is a broadcast-join
      // projection. Output restricted to o_orderkey < 5000 to bound the
      // gate dump — the encode itself is a constant-cost projection per
      // row at any scale.
      val o = tbl(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority").as("cat"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val stats = o.groupBy("cat")
        .agg(sum("cents").as("csum"), count(lit(1)).as("n"))
      val g = o.agg(expr("sum(cents) div count(1)").as("prior_cents"))
      o.where(col("o_orderkey") < 5000)
        .join(broadcast(stats), "cat")
        .crossJoin(broadcast(g))
        .withColumn("enc_cents",
          expr("(csum - cents + 100 * prior_cents) div (n - 1 + 100)"))
        .select("o_orderkey", "cat", "enc_cents")
        .orderBy("o_orderkey")
    },

    "q_bucket_join" -> { (s, dir) =>
      // co-located join: both sides persisted BUCKETED on the join key
      // (bucketBy + sortBy at write time), then joined with the merge
      // hint — the executed plan reads Bucketed: true and has ZERO
      // exchange under the join (ScaleSpec pins it). The 100 TB
      // repeated-join story: pay the layout shuffle once when writing,
      // every downstream join on that key is shuffle-free.
      val suf = java.lang.Long.toHexString(System.nanoTime())
      val base = java.nio.file.Files.createTempDirectory("graft_bkt")
        .toString
      tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").option("path", s"$base/o")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable(s"graft_bo_$suf")
      tbl(s, dir, "customer").select("c_custkey", "c_mktsegment")
        .write.mode("overwrite").option("path", s"$base/c")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable(s"graft_bc_$suf")
      s.table(s"graft_bo_$suf").hint("merge")
        .join(s.table(s"graft_bc_$suf"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .as("cents"))
        .orderBy("c_mktsegment")
    },

    "ds_resample_linear" -> { (s, dir) =>
      // linear-interpolation RESAMPLING onto a regular 10-minute grid —
      // the upsampling sibling of ds_gapfill_hours' carry-forward:
      // per-stream grid explode inside the data extent, bracket every
      // grid instant with its neighbor points via two IGNORE NULLS
      // window passes over the points-union-grid frame (no self-join,
      // no per-instant range join), interpolate in closed form.
      val pts = events(s, dir).where(col("user_id") < 5)
        .select(concat_ws(":", col("user_id"), col("event_type"))
            .as("stream_id"),
          unix_timestamp(col("ts")).as("t"), col("value").as("v"))
      // collapse duplicate seconds by SUM (pointStreams' determinism
      // convention — a rounded mean can flip a 1e-6 boundary between
      // engines and quantize ulp noise into a hard diff; raw sums keep
      // the noise in the fp lane); checkpoint — grid derives FROM secs
      val secs = pts.groupBy("stream_id", "t")
        .agg(sum("v").as("v")).localCheckpoint(true)
      val ext = secs.groupBy("stream_id")
        .agg(min("t").as("t0"), max("t").as("t1"))
        .withColumn("g0", expr("((t0 + 599) div 600) * 600"))
        .withColumn("g1", expr("(t1 div 600) * 600"))
        .where(col("g0") <= col("g1"))
      val grid = ext.select(col("stream_id"),
        explode(sequence(col("g0"), col("g1"), lit(600L))).as("t"))
      // points sort BEFORE the grid instant at equal t (srt 0 < 1), so a
      // grid instant landing exactly on a point takes that point's value
      val u = secs.select(col("stream_id"), col("t"), col("v"),
          lit(0).as("srt"), col("t").as("pt"))
        .unionAll(grid.select(col("stream_id"), col("t"),
          lit(null).cast("double").as("v"), lit(1).as("srt"),
          lit(null).cast("long").as("pt")))
      // both window frames GROW (unbounded-preceding → current): Spark
      // evaluates growing frames incrementally O(n) per partition, but a
      // (current → unbounded-FOLLOWING) frame SHRINKS and is recomputed
      // per row — O(n²) per stream (measured: 12.6 CPU s vs 0.6 at
      // sf0.1). "next" is therefore a DESC-ordered growing frame.
      val wPrev = Window.partitionBy("stream_id").orderBy("t", "srt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy("stream_id")
        .orderBy(col("t").desc, col("srt").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      u.withColumn("prev_v", last("v", ignoreNulls = true).over(wPrev))
        .withColumn("prev_t", last("pt", ignoreNulls = true).over(wPrev))
        .withColumn("next_v", last("v", ignoreNulls = true).over(wNext))
        .withColumn("next_t", last("pt", ignoreNulls = true).over(wNext))
        .where(col("srt") === 1)
        .select(col("stream_id"), col("t"),
          when(col("prev_t") === col("t"), col("prev_v"))
            .otherwise(col("prev_v") + (col("next_v") - col("prev_v")) *
              ((col("t") - col("prev_t")).cast("double") /
                (col("next_t") - col("prev_t")).cast("double")))
            .as("v_interp"))
        .orderBy("stream_id", "t")
    },

    "emb_quantize" -> { (s, dir) =>
      // int8 symmetric quantization audit: per-vector scale, Σq and max
      // dequantization error — shuffle-free projection over the corpus
      graft.operators.Similarity.quantizeInt8(tbl(s, dir, "embeddings"))
        .orderBy("vec_id")
    },

    "q_null_filter_nations" -> { (s, dir) =>
      // IS NULL predicate over outer-join null extension (anti-join via
      // left join, the classic null-filter shape)
      tbl(s, dir, "nation").as("n")
        .join(tbl(s, dir, "supplier").as("su"),
          col("n.n_nationkey") === col("su.s_nationkey"), "left")
        .where(col("su.s_suppkey").isNull)
        .select(col("n.n_nationkey"), col("n.n_name"))
        .orderBy("n_nationkey")
    },

    "q_except_custkeys" -> { (s, dir) =>
      val o = tbl(s, dir, "orders")
      o.where(col("o_orderstatus") === "F").select("o_custkey")
        .except(o.where(col("o_orderstatus") === "O").select("o_custkey"))
        .orderBy("o_custkey")
    },

    "q_window_rankfuncs" -> { (s, dir) =>
      // the remaining analytic-window family: ntile, lead, first_value,
      // cume_dist — composite unique ORDER BY keys so every rank is total
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val w2 = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      tbl(s, dir, "orders").select(
          col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          ntile(4).over(w).cast("long").as("quartile"),
          lead(col("o_orderdate"), 1).over(w2).as("next_order"),
          first(col("o_totalprice")).over(w).as("min_price"),
          cume_dist().over(w).as("cd"))
        .orderBy("o_custkey", "o_orderkey")
    },

    "q_returned_items" -> { (s, dir) =>
      // TPC-H Q10 shape: returned-item revenue per customer for a quarter —
      // date filter pushed to the orders scan, lineitem filtered pre-join
      val o = tbl(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1995-10-01") &&
               col("o_orderdate") < lit("1996-01-01"))
      tbl(s, dir, "lineitem").where(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal")
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal")
        .orderBy("c_custkey")
    },

    "q_case_date_arith" -> { (s, dir) =>
      // CASE classification + date arithmetic (datediff/year/quarter)
      tbl(s, dir, "orders").select(
          col("o_orderkey"),
          datediff(lit("2002-01-01").cast("date"),
            col("o_orderdate").cast("date")).cast("long").as("age_days"),
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "expedite")
            .when(col("o_orderpriority") === "3-MEDIUM", "normal")
            .otherwise("low").as("class"),
          round(col("o_totalprice") * 0.1, 4).as("fee"),
          year(col("o_orderdate")).cast("long").as("yr"),
          quarter(col("o_orderdate")).cast("long").as("qtr"))
        .orderBy("o_orderkey")
    },

    "q_right_join_nations" -> { (s, dir) =>
      // RIGHT OUTER: every nation survives, customer aggregates null-fill
      // to zero — completes the join-type matrix (inner/left/full/semi/
      // anti/asof are covered elsewhere)
      tbl(s, dir, "customer").groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"))
        .join(tbl(s, dir, "nation").select("n_nationkey", "n_name"),
          col("c_nationkey") === col("n_nationkey"), "right")
        .select(col("n_nationkey"), col("n_name"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"))
        .orderBy("n_nationkey")
    },

    "pipe_sample_stratified" -> { (s, dir) =>
      // deterministic stratified sampling: per-source rates (here: even
      // sources keep ~25%, odd ~75%) via the same md5 bucket as the
      // train/test split — zero shuffle, reproducible, auditable
      val b = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
      val keep = when(substring(col("source"), 4, 10).cast("long") % 2 === 0,
        b < "40").otherwise(b < "c0")
      tbl(s, dir, "documents").where(keep)
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    },

    "q_exists_late_ship" -> { (s, dir) =>
      // TPC-H Q4 shape: EXISTS-correlated subquery with a non-equi
      // condition — planned as a left-semi join on the key with the date
      // predicate folded into the join condition
      val o = tbl(s, dir, "orders")
      val l = tbl(s, dir, "lineitem")
      o.join(l,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },

    "q_having_in_bigqty" -> { (s, dir) =>
      // TPC-H Q18 shape: IN over an aggregated HAVING subquery — the
      // subquery reduces to (key) pairs, then a semi join; no correlated
      // re-execution
      val big = tbl(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum("l_quantity").as("qty"))
        .where(col("qty") > 120)
        .select(col("l_orderkey").as("o_orderkey"))
      tbl(s, dir, "orders")
        .join(big, Seq("o_orderkey"), "left_semi")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    "graph_snapshot_stats" -> { (s, dir) =>
      // graph value type (SURVEY §1.4) end-to-end: per (user, day) the
      // event sequence becomes a topology snapshot {v:[{i}], e:[{f,t}]}
      // serialized as the stream's JSON value, then parsed back through
      // Graphs.snapshotStats. The oracle computes the same stats
      // relationally (vertices = distinct types, edges = transitions).
      Graphs.snapshotStats(graphSnapshots(s, dir))
        .select(col("user_id"), col("day"),
          col("n_vertices").cast("long").as("n_vertices"),
          col("n_edges").cast("long").as("n_edges"), col("mean_degree"))
        .orderBy("user_id", "day")
    },

    "graph_churn" -> { (s, dir) =>
      // temporal graph analytics: per-user edge churn between consecutive
      // day snapshots (first snapshot counts all edges as added)
      Graphs.churn(graphSnapshots(s, dir), Seq("user_id"), "day")
        .select("user_id", "day", "n_added", "n_removed")
        .orderBy("user_id", "day")
    },

    "graph_edge_degree" -> { (s, dir) =>
      // explode the stored snapshots back into relational edges and rank
      // event-type transition sources by out-degree
      Graphs.edges(graphSnapshots(s, dir))
        .groupBy(col("edge_from"))
        .agg(count(lit(1)).as("out_degree"),
          countDistinct("edge_to").as("n_targets"))
        .orderBy("edge_from")
    },

    "graph_pagerank" -> { (s, dir) =>
      // link analysis over the event-type transition graph: damped
      // weighted PageRank by INTEGER-exact power iteration (BIGINT
      // fixed-point, floor division — Graphs.pageRank) so the oracle
      // reproduces every step bit-for-bit; float ranks would diverge in
      // summation order across engines
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir).where(col("user_id") < 8)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id", "day").orderBy("event_id")
      val edges = ev.withColumn("prev", lag("event_type", 1).over(w))
        .where(col("prev").isNotNull)
        .groupBy(col("prev").as("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("w"))
      Graphs.pageRank(edges, iters = 3).orderBy("v")
    },

    "graph_hits" -> { (s, dir) =>
      // hubs & authorities over the same event-type transition graph —
      // the directed-asymmetry question PageRank can't answer (a type
      // that FOLLOWS many types vs one many types LEAD TO). Two rounds
      // of the integer-exact mutual recursion (BIGINT floor-div
      // renormalization per side) so the oracle replays every round.
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir).where(col("user_id") < 8)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id", "day").orderBy("event_id")
      val edges = ev.withColumn("prev", lag("event_type", 1).over(w))
        .where(col("prev").isNotNull)
        .groupBy(col("prev").as("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("w"))
      Graphs.hits(edges, iters = 2).orderBy("v")
    },

    "graph_ppr" -> { (s, dir) =>
      // personalized PageRank from the 'signup' seed over the same
      // event-type transition graph: "relevance to the signup flow" —
      // the seed-restarted random walk. Integer-exact power iteration
      // (BIGINT fixed point, floor division, teleport mass on the seed
      // set only) so the oracle replays all 3 rounds bit-for-bit.
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir).where(col("user_id") < 8)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id", "day").orderBy("event_id")
      val edges = ev.withColumn("prev", lag("event_type", 1).over(w))
        .where(col("prev").isNotNull)
        .groupBy(col("prev").as("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("w"))
      val seeds = s.createDataFrame(Seq(Tuple1("signup"))).toDF("v")
      Graphs.personalizedPageRank(edges, seeds, iters = 3).orderBy("v")
    },

    "graph_closeness" -> { (s, dir) =>
      // landmark closeness over the co-purchase graph (same support-2
      // edges): hop distances from the partkey%50==0 landmark set via
      // ONE label-carrying multi-source BFS (state (v, lm, dist) — job
      // count independent of |L|), folded per vertex into n_reached /
      // sum_dist / the integer harmonic-permille sum. All-integer row.
      val edges = copurchaseEdges(s, dir)
      val landmarks = edges.select(col("u").as("v"))
        .unionAll(edges.select(col("v")))
        .where(col("v") % 50 === 0).distinct()
      Graphs.landmarkCloseness(edges, landmarks, maxHops = 3)
        .orderBy("v")
    },

    "graph_betweenness" -> { (s, dir) =>
      // landmark betweenness (truncated Brandes) on the co-purchase
      // graph: σ path counts forward, dependencies backward in
      // fixed-point ppm with floor division only — the δ recurrence
      // replays level-for-level in the oracle's unrolled CTEs. The
      // "broker" products no degree rank can see. depth 3, same
      // partkey%50==0 landmark set as graph_closeness.
      val edges = copurchaseEdges(s, dir)
      val landmarks = edges.select(col("u").as("v"))
        .unionAll(edges.select(col("v")))
        .where(col("v") % 50 === 0).distinct()
      Graphs.betweenness(edges, landmarks, depth = 3).orderBy("v")
    },

    "graph_walks" -> { (s, dir) =>
      // derandomized random-walk corpus over the co-purchase graph
      // (the DeepWalk/node2vec sampling step as a deterministic md5
      // election — same 15-hex-char BIGINT lane as the dedup hashes):
      // 3 hops from every partkey%50==0 start; each hop is one
      // frontier join + one (h, v) struct-min election.
      val edges = copurchaseEdges(s, dir)
      val starts = edges.select(col("u").as("v"))
        .unionAll(edges.select(col("v")))
        .where(col("v") % 50 === 0).distinct()
      Graphs.hashWalks(edges, starts, steps = 3)
        .orderBy("start", "step")
    },

    "graph_triangles" -> { (s, dir) =>
      // co-purchase affinity triangles: parts sharing an order become an
      // edge at support>=2 (sparsifies 1.2M -> 3.6k edges at sf0.1), then
      // exact per-vertex triangle counts via the degree-ordered two-join
      // (out-degree bounded O(sqrt E) — the orientation that survives
      // power-law hubs). Top-30 corners, total (n_tri desc, vertex) order.
      // the memoized fixture is already checkpointed, so triangleCounts'
      // 3 consumers (degree agg + both endpoint joins) read the
      // materialized frame — the 16.9 CPU s lineage re-run this barrier
      // originally fixed can't recur
      val edges = copurchaseEdges(s, dir)
      Graphs.triangleCounts(edges)
        .orderBy(col("n_tri").desc, col("vertex"))
        .limit(30)
    },

    "graph_kcore" -> { (s, dir) =>
      // k-core peeling profile of the co-purchase graph: 4 fixed peel
      // rounds at k=6 — the standard "dense-core extraction" pass before
      // community/embedding work. Fixed rounds (not run-to-fixpoint) keep
      // the output a deterministic unrollable function of the input; a
      // converged round shows n_removed = 0. k=6 bites at every testdata
      // SF (the support-2 graph's degree profile shifts with SF: median
      // 23 at sf0.001, 3 at sf0.01, 1 at sf0.1). All-integer row, exact.
      val edges = copurchaseEdges(s, dir)
      Graphs.kCorePeel(edges, k = 6, rounds = 4).orderBy("round")
    },

    "graph_richclub" -> { (s, dir) =>
      // rich-club coefficient φ(k) = 2·E_k / (N_k·(N_k−1)) in exact
      // integer ppm for k ∈ {2, 4, 8} — do high-degree parts
      // preferentially co-occur with each other? (the top-of-
      // distribution complement of graph_assortativity). One degree
      // pass, one edge×degree join checkpointed to feed the per-k
      // aggregations, all-integer elections.
      import s.implicits._
      val edges = copurchaseEdges(s, dir)
      val deg = edges.select(explode(array(col("u"), col("v"))).as("vtx"))
        .groupBy("vtx").agg(count(lit(1)).as("deg"))
        .localCheckpoint(true) // feeds n_k AND both endpoint joins
      val ek = edges
        .join(deg.select(col("vtx").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("vtx").as("v"), col("deg").as("dv")), "v")
        .select("du", "dv")
        .localCheckpoint(true)
      val ks = Seq(2L, 4L, 8L).toDF("k")
      val nk = deg.crossJoin(broadcast(ks)).where(col("deg") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("n_k"))
      val ec = ek.crossJoin(broadcast(ks))
        .where(col("du") > col("k") && col("dv") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("e_k"))
      nk.join(ec, Seq("k"), "left")
        .select(col("k"), col("n_k"),
          coalesce(col("e_k"), lit(0L)).as("e_k"),
          expr("CASE WHEN n_k >= 2 THEN 2 * coalesce(e_k, 0L) * 1000000L" +
            " div (n_k * (n_k - 1)) ELSE 0L END").as("phi_ppm"))
        .orderBy("k")
    },

    "graph_degree_dist" -> { (s, dir) =>
      // power-of-two degree histogram of the co-purchase graph — the
      // skew diagnostic you run BEFORE choosing join strategies (a heavy
      // tail here is what forces the degree-ordered orientation in
      // graph_triangles). Bucket = bit-length of the degree
      // (length(bin(deg)) ≡ floor(log2)+1, exact integers both engines —
      // no float log anywhere). One degree hash-agg + one 9-row agg.
      val edges = copurchaseEdges(s, dir)
      // explode both endpoints in ONE pass — a union of edges.select(u)
      // and edges.select(v) would plan the edge build TWICE (Union =
      // two full subtrees; measured +40% CPU at sf0.1)
      val deg = edges.select(explode(array(col("u"), col("v"))).as("vtx"))
        .groupBy("vtx").agg(count(lit(1)).as("deg"))
      deg.groupBy(length(bin(col("deg"))).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_vertices"), min("deg").as("min_deg"),
          max("deg").as("max_deg"))
        .orderBy("bucket")
    },

    "graph_lpa_communities" -> { (s, dir) =>
      // community detection on the co-purchase graph: 2 fixed rounds of
      // synchronous label propagation (most-frequent neighbor label,
      // ties to the smallest — the packed-BIGINT election). Fixed rounds
      // keep the result an unrollable deterministic function of the
      // edge set; output is the community-size table.
      val edges = copurchaseEdges(s, dir)
      Graphs.labelPropagation(edges, rounds = 2)
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy("community")
    },

    "graph_lpa_modularity" -> { (s, dir) =>
      // partition-quality audit for the LPA communities: per community,
      // intra-community edge count e_c, total degree d_c, and the EXACT
      // modularity numerator 4·m·e_c − d_c² (global Q = Σ/(4m²) — an
      // exact BIGINT fraction, no float division anywhere; headroom:
      // m ≤ 10⁶ edges ⇒ |terms| ≤ 4·10¹²). Edge list and label table
      // are checkpointed once for their 3 consumers each.
      val edges = copurchaseEdges(s, dir)
      val lab = Graphs.labelPropagation(edges, rounds = 2)
      val intra = edges
        .join(lab.select(col("vtx").as("u"), col("label").as("lu")), "u")
        .join(lab.select(col("vtx").as("v"), col("label").as("lv")), "v")
        .where(col("lu") === col("lv"))
        .groupBy(col("lu").as("community")).agg(count(lit(1)).as("e_intra"))
      val degs = edges.select(explode(array(col("u"), col("v"))).as("vtx"))
        .join(lab, "vtx")
        .groupBy(col("label").as("community")).agg(count(lit(1)).as("d_total"))
      val mem = lab.groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_members"))
      val m = edges.agg(count(lit(1)).as("m"))
      mem.join(intra, Seq("community"), "left").na.fill(0L, Seq("e_intra"))
        .join(degs, "community")
        .crossJoin(broadcast(m))
        .withColumn("q_num", expr("4 * m * e_intra - d_total * d_total"))
        .select("community", "n_members", "e_intra", "d_total", "q_num")
        .orderBy("community")
    },

    "q_rfm_segments" -> { (s, dir) =>
      // RFM customer segmentation over purchase events: recency in days
      // vs the corpus's last purchase date, frequency count, monetary
      // exact cents; each metric quintiled by ntile(5) over a TOTAL
      // order (metric, user_id) so bucket assignment is deterministic
      // and engine-identical. The three global ntile windows are
      // single-partition by design — user-dimension scale, the
      // q_ntile_cume precedent.
      val ev = events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("d"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val agg = ev.groupBy("user_id").agg(max("d").as("last_d"),
        count(lit(1)).as("f_cnt"), sum("cents").as("m_cents"))
      val ref = ev.agg(max("d").as("ref_d"))
      agg.crossJoin(broadcast(ref))
        .withColumn("r_days", datediff(col("ref_d"), col("last_d")).cast("long"))
        .withColumn("r_b", ntile(5).over(
          Window.orderBy(col("r_days").desc, col("user_id"))).cast("long"))
        .withColumn("f_b", ntile(5).over(
          Window.orderBy(col("f_cnt"), col("user_id"))).cast("long"))
        .withColumn("m_b", ntile(5).over(
          Window.orderBy(col("m_cents"), col("user_id"))).cast("long"))
        .withColumn("segment", col("r_b") * 100 + col("f_b") * 10 + col("m_b"))
        .select("user_id", "r_days", "f_cnt", "m_cents", "r_b", "f_b",
          "m_b", "segment")
        .orderBy("user_id")
    },

    "text_ngram_novelty" -> { (s, dir) =>
      // per-doc n-gram novelty (curriculum/dup-pressure signal): the
      // fraction of a doc's distinct word-3-grams whose global FIRST
      // occurrence (min doc_id) is this doc. Grams shuffle as 60-bit
      // md5-prefix BIGINTs (the oracle-reproducible hash lane), never
      // strings; the words array is materialized ONCE and indexed (the
      // higher-order-lambda O(n²) trap). One explode + two keyed aggs +
      // one equi-join — corpus-linear.
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("w", expr("filter(split(text, ' '), x -> x != '')"))
      // the 16-byte-per-gram (doc_id, gh) table feeds two consumers
      // (first-occurrence agg + attribution join) — checkpoint it so the
      // corpus is scanned and md5'd ONCE, not once per consumer
      val grams = d.where(size(col("w")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(w) - 3), " +
            "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("g"))
        .select(col("doc_id"),
          expr("CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT)")
            .as("gh"))
        .distinct()
        .localCheckpoint(true)
      val first = grams.groupBy("gh").agg(min("doc_id").as("first_doc"))
      grams.join(first, "gh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty_bp", expr("(10000 * n_novel) div n_grams"))
        .orderBy("doc_id")
    },

    "text_novelty_stream" -> { (s, dir) =>
      // STREAMING n-gram novelty under the oracle: the documents corpus
      // replayed doc_id-ordered through Streaming.ngramNoveltyStream in
      // three micro-batches. First-arrival-wins + ordered arrival ⇒ the
      // gram attribution equals global min(doc_id), so this shares
      // text_ngram_novelty's oracle SQL verbatim.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val work = java.nio.file.Files
        .createTempDirectory("graft-novelty-q").toString
      val rows = tbl(s, dir, "documents").select("doc_id", "text")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val src = mem.toDF.toDF("doc_id", "text")
        val q = graft.streaming.Streaming
          .ngramNoveltyStream(src, s"$work/state", s"$work/out")
          .option("checkpointLocation", s"$work/ckpt").start()
        try {
          val (b1, rest) = rows.splitAt(rows.length / 3)
          val (b2, b3) = rest.splitAt(rest.length / 2)
          Seq(b1, b2, b3).foreach { bd =>
            mem.addData(bd.toSeq); q.processAllAvailable()
          }
        } finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.read.parquet(s"$work/out")
        .select("doc_id", "n_grams", "n_novel", "novelty_bp")
        .orderBy("doc_id")
    },

    "text_lang_fertility" -> { (s, dir) =>
      // per-language token-density profile (tokenizer-budget planning):
      // docs, whitespace tokens, chars, and exact-integer bp ratios.
      // size(split(text,' ')) is declarative — the
      // ReduceSplitSizeToNTokens rule strength-reduces it to the
      // graft_ntokens byte scan, no token array materialized.
      tbl(s, dir, "documents")
        .select(col("lang"),
          expr("CAST(size(split(text, ' ')) AS BIGINT)").as("ntok"),
          col("n_chars"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"),
          sum("n_chars").as("n_chars_total"))
        .withColumn("tok_per_doc_bp",
          expr("(10000 * n_tokens) div n_docs"))
        .withColumn("tok_per_100chars_bp",
          expr("(1000000 * n_tokens) div n_chars_total"))
        .orderBy("lang")
    },

    "emb_cluster_purity" -> { (s, dir) =>
      // cluster-quality audit: per coarse IVF cell, the majority LABEL
      // and its share in exact bp — the purity check that decides
      // whether cells are usable as pseudo-labels. Majority election is
      // the packed (count, label) BIGINT max (labels < 10⁶); assignment
      // is the zero-shuffle codegen argmax projection shared with
      // SemDeDup/prototypes.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"),
          col("label").cast("long").as("label"))
      val cents = Similarity.strideCentroids(e.select("vec_id", "emb"), 50)
      val asg = Similarity.assignCells(e.select("vec_id", "emb"), cents)
        .select("vec_id", "cell")
        .join(e.select("vec_id", "label"), "vec_id")
      val g = asg.groupBy("cell", "label").agg(count(lit(1)).as("cnt"))
      g.withColumn("pack",
          col("cnt") * 1000000L + (lit(999999L) - col("label")))
        .groupBy("cell")
        .agg(sum("cnt").as("n_members"), max("pack").as("p"))
        .select(col("cell"), col("n_members"),
          (lit(999999L) - col("p") % 1000000L).as("top_label"),
          expr("p div 1000000").as("n_top"))
        .withColumn("purity_bp", expr("(10000 * n_top) div n_members"))
        .orderBy("cell")
    },

    "graph_assortativity" -> { (s, dir) =>
      // degree-assortativity SUFFICIENT STATISTICS of the co-purchase
      // graph, all exact BIGINTs (Pearson r over edge-endpoint degrees
      // derives as (m·s_prod − (s_sum/2)²·…)/… downstream — the float
      // step stays out of the gate): m, Σd_u·d_v, Σ(d_u+d_v),
      // Σ(d_u²+d_v²). One degree agg + two broadcast-joins + one row.
      val edges = copurchaseEdges(s, dir)
      val deg = edges.select(explode(array(col("u"), col("v"))).as("vtx"))
        .groupBy("vtx").agg(count(lit(1)).as("deg"))
      edges
        .join(broadcast(deg.select(col("vtx").as("u"), col("deg").as("du"))), "u")
        .join(broadcast(deg.select(col("vtx").as("v"), col("deg").as("dv"))), "v")
        .agg(count(lit(1)).as("m"),
          sum(col("du") * col("dv")).as("s_prod"),
          sum(col("du") + col("dv")).as("s_sum"),
          sum(col("du") * col("du") + col("dv") * col("dv")).as("s_sq"))
    },

    "emb_matryoshka_recall" -> { (s, dir) =>
      // Matryoshka-style prefix-dimension retrieval audit: top-3 by the
      // 16-dim PREFIX cosine vs top-3 by the full 64-dim cosine, overlap
      // per query as exact integers — the evaluation that decides
      // whether truncated embeddings are servable. Sliced arrays are
      // localCheckpoint'd BEFORE the broadcast NLJ (CollapseProject
      // would rebuild every slice per joined row).
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      val full = Similarity.cosineTopK(e, broadcast(q), 3).select("qid", "cid")
      val ep = e.select(col("vec_id"), expr("slice(emb, 1, 16)").as("emb"))
        .localCheckpoint(true)
      val qp = ep.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      val pref = Similarity.cosineTopK(ep, broadcast(qp), 3).select("qid", "cid")
      val hits = full.join(pref, Seq("qid", "cid"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_overlap"))
      q.select("qid").join(hits, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
        .withColumn("overlap_bp", expr("(10000L * n_overlap) div 3L"))
        .orderBy("qid")
    },

    "er_fuzzy_parts" -> { (s, dir) =>
      // fuzzy entity resolution on the part-name VALUE space: block on
      // the product noun (last token), length-band prefilter, then
      // levenshtein <= 2 — "cold widget"~"old widget" style variants
      // match, cross-noun pairs are never even candidates. Record counts
      // join back per matched value (Resolve.fuzzyValuePairs).
      val parts = tbl(s, dir, "part").select("p_partkey", "p_name")
      val vals = parts.withColumn("blk",
        element_at(split(col("p_name"), " "), -1))
      val pairs = graft.operators.Resolve
        .fuzzyValuePairs(vals, "p_name", "blk", maxDist = 2)
        .withColumn("dist", col("dist").cast("long"))
      val cnt = parts.groupBy("p_name").agg(count(lit(1)).as("n"))
      pairs
        .join(cnt.select(col("p_name").as("val_a"), col("n").as("n_a")), "val_a")
        .join(cnt.select(col("p_name").as("val_b"), col("n").as("n_b")), "val_b")
        .select("val_a", "val_b", "dist", "n_a", "n_b")
        .orderBy("val_a", "val_b")
    },

    "er_entity_clusters" -> { (s, dir) =>
      // record-level entity resolution end-to-end: the er_fuzzy_parts
      // pair graph collapsed to entities (connected components on the
      // VALUE space, entity label = min member value) and joined back to
      // records; per multi-variant entity: record count, variant count,
      // min record key. Oracle replays the components as 8 unrolled
      // min-label rounds (diameter of typo-variant chains is far below
      // that; converged rounds are no-ops).
      val parts = tbl(s, dir, "part").select("p_partkey", "p_name")
      val vals = parts.withColumn("blk",
        element_at(split(col("p_name"), " "), -1))
      graft.operators.Resolve
        .resolveEntities(vals, "p_name", "blk", maxDist = 2)
        .groupBy("entity_id")
        .agg(count(lit(1)).as("n_records"),
          countDistinct("p_name").as("n_variants"),
          min("p_partkey").as("min_key"))
        .where(col("n_variants") > 1)
        .orderBy("entity_id")
    },

    "er_golden_record" -> { (s, dir) =>
      // survivorship — the merge step after er_entity_clusters: per
      // resolved entity elect ONE golden record by (longest variant
      // name, then smallest record key) via the packed-BIGINT election
      // (len·10⁹ + (10⁹−1−key); headroom: names ≤ ~60 chars, keys ≪
      // 10⁹), and report the mapping every downstream join uses.
      val parts = tbl(s, dir, "part").select("p_partkey", "p_name")
      val vals = parts.withColumn("blk",
        element_at(split(col("p_name"), " "), -1))
      graft.operators.Resolve
        .resolveEntities(vals, "p_name", "blk", maxDist = 2)
        .groupBy("entity_id")
        .agg(count(lit(1)).as("n_records"),
          max(expr("CAST(length(p_name) AS BIGINT) * 1000000000L + " +
            "(999999999L - p_partkey)")).as("pack"))
        .select(col("entity_id"), col("n_records"),
          expr("999999999L - pack % 1000000000L").as("golden_key"),
          expr("pack div 1000000000L").as("golden_len"))
        .orderBy("entity_id")
    },

    "pipe_bootstrap" -> { (s, dir) =>
      // deterministic POISSON bootstrap — the distributed-scale
      // resampling formulation (each row independently appears
      // Poisson(1) times per replica, so no global row index, no draw
      // join, no shuffle beyond the 10-row final agg): per (doc,
      // replica) the md5 of "r:doc_id" gives 60 uniform bits, inverted
      // through the Poisson(1) CDF as shared integer thresholds
      // (floor(CDF·2⁶⁰) literals) — any engine reproduces the exact
      // same resample counts. Replica fan-out is a map-side explode;
      // per-replica sums stay BIGINT exact.
      val t = Seq(424136118829305344L, 848272237658610688L,
        1060340297073263360L, 1131029650211480960L, 1148701988496035328L,
        1152236456152946176L, 1152825534095764608L)
      tbl(s, dir, "documents").select("doc_id", "n_chars")
        .select(col("doc_id"), col("n_chars"),
          explode(expr("sequence(0L, 9L)")).as("r"))
        .withColumn("u", expr(
          "cast(conv(substring(md5(concat(r, ':', doc_id)), 1, 15), 16, 10) as long)"))
        .withColumn("c", expr(
          s"CASE WHEN u < ${t(0)}L THEN 0L WHEN u < ${t(1)}L THEN 1L " +
          s"WHEN u < ${t(2)}L THEN 2L WHEN u < ${t(3)}L THEN 3L " +
          s"WHEN u < ${t(4)}L THEN 4L WHEN u < ${t(5)}L THEN 5L " +
          s"WHEN u < ${t(6)}L THEN 6L ELSE 7L END"))
        .groupBy("r")
        .agg(sum("c").as("n_draws"),
          sum(col("c") * col("n_chars")).as("sum_chars"))
        .withColumn("mean_chars_x100", expr("(100L * sum_chars) div n_draws"))
        .orderBy("r")
    },

    "pipe_dataset_card" -> { (s, dir) =>
      // one-stop corpus "dataset card": the headline numbers a corpus
      // release ships with, as (metric, value BIGINT) rows — docs,
      // token/char volume, source/lang diversity, exact-dup pressure,
      // length extremes. Two passes total: one scan-side agg (token
      // counts ride the graft_ntokens strength reduction) + one dedup
      // hash agg; every value is an exact integer.
      graft.functions.GraftFunctions.register(s)
      val docs = tbl(s, dir, "documents")
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        sum("n_chars").as("n_chars_total"),
        countDistinct("source").as("n_sources"),
        countDistinct("lang").as("n_langs"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))
      val dup = Dedup.exact(docs)
        .agg(coalesce(sum(when(col("dup_count") > 1,
            col("dup_count") - 1)), lit(0L)).as("n_exact_dups"))
      val card = base.crossJoin(dup)
      card.selectExpr("stack(8, " +
          "'n_docs', n_docs, 'n_tokens', n_tokens, " +
          "'n_chars_total', n_chars_total, 'n_sources', n_sources, " +
          "'n_langs', n_langs, 'min_chars', min_chars, " +
          "'max_chars', max_chars, 'n_exact_dups', n_exact_dups) " +
          "as (metric, value)")
        .orderBy("metric")
    },

    "pipe_feature_bins" -> { (s, dir) =>
      // per-source equi-width feature discretization (8 bins over the
      // source's own [min, max]) — the binning step before mixture /
      // curriculum decisions. Bin index is pure integer arithmetic
      // (((x − lo) · 8) div (hi − lo + 1), always < 8 since x ≤ hi), so
      // the histogram is exact cross-engine. One keyed bounds agg
      // broadcast back + one hash agg; the fact side never shuffles
      // twice.
      val docs = tbl(s, dir, "documents").select("doc_id", "source", "n_chars")
      val bounds = docs.groupBy("source")
        .agg(min("n_chars").as("lo"), max("n_chars").as("hi"))
      docs.join(broadcast(bounds), "source")
        .withColumn("bin",
          least(lit(7L), expr("((n_chars - lo) * 8) div (hi - lo + 1)")))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n"), min("n_chars").as("bin_min"),
          max("n_chars").as("bin_max"))
        .orderBy("source", "bin")
    },

    "pipe_sample_weighted" -> { (s, dir) =>
      // deterministic PPS sample: priority = md5-uniform div weight —
      // integer-only weighted sampling (no libm) that any engine
      // reproduces exactly; global top-k compiles to
      // TakeOrderedAndProject, never a full corpus sort
      graft.operators.Pipeline.sampleWeighted(
          tbl(s, dir, "documents").select("doc_id", "source", "n_chars"),
          k = 40, seed = "ws1", weightCol = "n_chars")
        .orderBy("priority", "doc_id")
    },

    "pipe_winsorize" -> { (s, dir) =>
      // per-source outlier clamping (feature winsorization): n_chars
      // clamped to the source's own [p05, p95] rounded to integer bounds
      // so every sum stays exact BIGINT; one percentile agg + one keyed
      // join (Pipeline.winsorize)
      graft.operators.Pipeline.winsorize(
          tbl(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "n_chars", "source")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_chars") < col("lo_b"), 1L).otherwise(0L)).as("n_lo"),
          sum(when(col("n_chars") > col("hi_b"), 1L).otherwise(0L)).as("n_hi"),
          sum("n_chars").as("sum_raw"),
          sum("clamped").as("sum_clamped"))
        .orderBy("source")
    },

    "emb_linear_probe" -> { (s, dir) =>
      // linear-probe training as an ORACLE-CHECKABLE step: the one
      // distributed pass emits the exact fixed-point sufficient
      // statistics (upper-tri Gram + moments + n, Probe.gramStats) —
      // BIGINT sums, associative under any partition order, so DuckDB
      // pins a model-training pass bit-for-bit; only the 64×64 ridge
      // solve is driver-side (metadata-scale), pinned by OperatorsSpec
      // ground-truth-recovery instead.
      graft.operators.Probe.gramStats(
          tbl(s, dir, "embeddings").select("embedding", "label"),
          "embedding", (col("label") === 0).cast("long"), dims = 64)
        .orderBy("idx")
    },

    "pipe_dsir" -> { (s, dir) =>
      // DSIR data selection (hashed-ngram importance weights, target =
      // English docs): fixed-point ratio weights over 512 md5 buckets,
      // broadcast weight table, top-60 most target-like docs. Integer
      // arithmetic end-to-end so the selected SET is engine-independent
      // (Pipeline.dsirScores).
      graft.operators.Pipeline.dsirScores(
          tbl(s, dir, "documents").select("doc_id", "lang", "text"),
          target = col("lang") === "en")
        .orderBy(col("dsir_score").desc, col("doc_id"))
        .limit(60)
    },

    "pipe_split_leakage" -> { (s, dir) =>
      // leakage-safe splits: the split unit is the near-dup CLUSTER
      // (minhash pair graph → CC representative), so a near-duplicate
      // pair can never straddle train/eval — the contamination a
      // doc-keyed hashSplit can't prevent. Oracle recomputes the exact
      // all-pairs Jaccard clusters relationally.
      val corpus = withInjectedVariants(
        tbl(s, dir, "documents").select("doc_id", "text"))
      graft.operators.Pipeline.leakageSafeSplit(corpus,
          Dedup.nearDuplicates(corpus, threshold = 0.3))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("group_id").as("n_groups"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("split")
    },

    "mm_frames" -> { (s, dir) =>
      // frame-sampling + resize plumbing over the media table — per-video
      // frame counts and sampled byte volume after a metadata resize
      // (md5-free byte-slicing stub, real flatMap shape; oracled in SQL
      // from the same closed-form slice arithmetic)
      import s.implicits._
      val media = graft.operators.Multimodal.mediaFromDocuments(
        tbl(s, dir, "documents").where(col("doc_id") < 200))
      val resized = graft.operators.Multimodal.resize(media, 640, 360)
      graft.operators.Multimodal.sampleFrames(resized, everyMs = 2000)
        .toDF.groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"),
          sum(length(col("content"))).as("sampled_bytes"))
        .orderBy("media_id")
    },

    "mm_tone_detect" -> { (s, dir) =>
      // END-TO-END REAL audio DSP under the exact gate: synthesize a
      // per-doc sine WAV (frequency = 300 + (doc_id % 8)·200 Hz, real
      // RIFF bytes), round-trip it through the production parseWav, and
      // detect the dominant tone with Goertzel over the 8 candidates.
      // The oracle predicts the tone ANALYTICALLY from doc_id — the row
      // only matches if synthesis + container parse + detector all work.
      import s.implicits._
      val ids = tbl(s, dir, "documents")
        .where(col("doc_id") < 200).select(col("doc_id").cast("long"))
      val media = ids.as[Long].mapPartitions(_.map { id =>
          (id, graft.operators.Multimodal
            .sineWav(300.0 + (id % 8) * 200.0, 2000, 8000))
        }).toDF("media_id", "content")
      graft.operators.Multimodal
        .dominantTone(media, (0 to 7).map(i => 300.0 + i * 200.0))
        .select(col("media_id").as("doc_id"),
          col("dom_freq").cast("long").as("dom_freq"))
        .orderBy("doc_id")
    },

    "mm_vad_segments" -> { (s, dir) =>
      // VOICE-ACTIVITY segmentation under the exact gate: per doc,
      // synthesize a 6-segment WAV whose segment k is SILENT iff bit k
      // of doc_id is set (freq 0 = flat zeros; else a 500 Hz tone), run
      // the production parse → windowed integer-energy VAD (200-sample
      // windows = 4 per segment), and report voiced runs. The oracle
      // predicts everything ANALYTICALLY from doc_id's 6-bit mask — a
      // green row needs synthesis, RIFF parse, exact Int16 recovery,
      // and the run-length logic all correct.
      import s.implicits._
      val ids = tbl(s, dir, "documents")
        .where(col("doc_id") < 150).select(col("doc_id").cast("long"))
      val media = ids.as[Long].mapPartitions(_.map { id =>
          val freqs = (0 until 6).map(k =>
            if (((id >> k) & 1L) == 1L) 0.0 else 500.0)
          (id, graft.operators.Multimodal.toneSequenceWav(freqs, 800, 8000))
        }).toDF("media_id", "content")
      graft.operators.Multimodal
        .vadSegments(media, windowSamples = 200, meanSqThreshold = 1000000L)
        .select(col("media_id").as("doc_id"), col("n_segments"),
          col("n_voiced"), col("first_voiced"))
        .orderBy("doc_id")
    },

    "pipe_dedup_eval" -> { (s, dir) =>
      // the dedup EVAL harness (emb_ann_recall's near-dup sibling):
      // precision/recall of the MinHash-LSH detector against the
      // injected ground truth, restricted to pairs involving a variant
      // id (the labeled subset — corpus-native near-dups would otherwise
      // pollute "false" positives). Exact integer ppm metrics; the
      // detector's recall totality on these corpora is the
      // OperatorsSpec-pinned property that keeps this oracle exact.
      val corpus = withInjectedVariants(
        tbl(s, dir, "documents").select("doc_id", "text"))
      Dedup.nearDuplicates(corpus, threshold = 0.3)
        .where(col("doc_b") >= 1000000L)
        .withColumn("is_tp",
          col("doc_b") === col("doc_a") + 1000000L && col("doc_a") < 20)
        .agg(count(lit(1)).as("n_pred"),
          sum(when(col("is_tp"), 1L).otherwise(0L)).as("tp"))
        .withColumn("n_true", lit(20L))
        .withColumn("fp", col("n_pred") - col("tp"))
        .withColumn("fn", col("n_true") - col("tp"))
        .withColumn("precision_ppm", expr("(1000000 * tp) div n_pred"))
        .withColumn("recall_ppm", expr("(1000000 * tp) div n_true"))
        .select("n_true", "n_pred", "tp", "fp", "fn",
          "precision_ppm", "recall_ppm")
    },

    "mm_patch_grid" -> { (s, dir) =>
      // REAL image patch extraction under the exact gate: synthesize a
      // 32×32 gradient PNG per doc (pixel(x,y) = (doc_id + 7x + 13y) %
      // 256, lossless RGB), decode through the production ImageIO path,
      // and emit the 4×4 patch grid's integer mean-luma tensor. The
      // oracle recomputes every patch mean from the gradient formula —
      // a green row needs encode, decode, patch indexing, and the
      // integer-luma arithmetic all exact.
      import s.implicits._
      val ids = tbl(s, dir, "documents")
        .where(col("doc_id") < 100).select(col("doc_id").cast("long"))
      val meta = graft.operators.Multimodal
        .MediaMeta("image", 32, 32, 0, 0L, "png")
      val media = ids.as[Long].map { id =>
        graft.operators.Multimodal.MediaRow(id,
          graft.operators.Multimodal.grayscalePng(32,
            (x, y) => ((id + 7L * x + 13L * y) % 256L).toInt), meta)
      }
      graft.operators.Multimodal.patchLumaGrid(media, grid = 4)
        .select(col("media_id").as("doc_id"), col("px"), col("py"),
          col("luma_pm"))
        .orderBy("doc_id", "py", "px")
    },

    "pipe_span_corrupt" -> { (s, dir) =>
      // T5-style denoising input builder: deterministic md5 span mask
      // (span k of doc d corrupts iff hash(d:k) % 5 == 0), corrupted
      // spans collapse to one <X> sentinel, targets carry the masked
      // tokens — a pure function of (doc_id, position), so epochs,
      // retries, and engines agree on every mask. One posexplode + one
      // keyed agg; re-assembly sorts inside the aggregated array.
      graft.operators.Pipeline.spanCorrupt(tbl(s, dir, "documents"))
        .orderBy("doc_id")
    },

    "mm_resize_img" -> { (s, dir) =>
      // REAL resize under the exact gate: the mm_patch_grid gradient
      // corpus, NN-resized 32→16 through the production decode →
      // integer-index resize → lossless re-encode path, then the
      // production 4×4 patch grid on the RESIZED rows. NN at 2:1 maps
      // output (x,y) to source (2x,2y), so every patch mean recomputes
      // analytically from the gradient at doubled coordinates — a green
      // row needs both codec trips and the index arithmetic exact.
      import s.implicits._
      val ids = tbl(s, dir, "documents")
        .where(col("doc_id") < 100).select(col("doc_id").cast("long"))
      val meta = graft.operators.Multimodal
        .MediaMeta("image", 32, 32, 0, 0L, "png")
      val media = ids.as[Long].map { id =>
        graft.operators.Multimodal.MediaRow(id,
          graft.operators.Multimodal.grayscalePng(32,
            (x, y) => ((id + 7L * x + 13L * y) % 256L).toInt), meta)
      }
      val resized = graft.operators.Multimodal.resizeNN(media, 16, 16)
      graft.operators.Multimodal.patchLumaGrid(resized, grid = 4)
        .select(col("media_id").as("doc_id"), col("px"), col("py"),
          col("luma_pm"))
        .orderBy("doc_id", "py", "px")
    },

    "mm_augment" -> { (s, dir) =>
      // REAL augmentation under the exact gate: identity + rot90 +
      // flipH of the gradient corpus (doc_id < 50), each re-encoded
      // losslessly and pushed through the production patch grid; the
      // oracle recomputes every patch from the permuted gradient
      // formulas (rot90: in(y, 31−x); flipH: in(31−x, y)). Variant ids
      // pack as doc_id·10 + k.
      import s.implicits._
      val ids = tbl(s, dir, "documents")
        .where(col("doc_id") < 50).select(col("doc_id").cast("long"))
      val meta = graft.operators.Multimodal
        .MediaMeta("image", 32, 32, 0, 0L, "png")
      val media = ids.as[Long].map { id =>
        graft.operators.Multimodal.MediaRow(id,
          graft.operators.Multimodal.grayscalePng(32,
            (x, y) => ((id + 7L * x + 13L * y) % 256L).toInt), meta)
      }
      val aug = graft.operators.Multimodal.augmentGeom(media)
      graft.operators.Multimodal.patchLumaGrid(aug, grid = 4)
        .select(col("media_id").as("variant_id"), col("px"), col("py"),
          col("luma_pm"))
        .orderBy("variant_id", "py", "px")
    },

    "mm_img_hist" -> { (s, dir) =>
      // REAL image exposure histogram under the exact gate: the same
      // 32×32 gradient PNGs as mm_patch_grid, decoded through the
      // production ImageIO path, binned into 8 equal luma cells (bin =
      // luma_pm·8 div 256000 ≡ v div 32 on grayscale — pure integer).
      // The oracle recomputes every pixel from the gradient formula, so
      // a green row needs encode, decode, the luma lane, and the bin
      // arithmetic all exact. The curation use: all-dark / blown-out /
      // low-dynamic-range frame filtering.
      import s.implicits._
      val ids = tbl(s, dir, "documents")
        .where(col("doc_id") < 100).select(col("doc_id").cast("long"))
      val meta = graft.operators.Multimodal
        .MediaMeta("image", 32, 32, 0, 0L, "png")
      val media = ids.as[Long].map { id =>
        graft.operators.Multimodal.MediaRow(id,
          graft.operators.Multimodal.grayscalePng(32,
            (x, y) => ((id + 7L * x + 13L * y) % 256L).toInt), meta)
      }
      graft.operators.Multimodal.lumaHistogram(media, bins = 8)
        .select(col("media_id").as("doc_id"), col("bin"), col("n_px"))
        .orderBy("doc_id", "bin")
    },

    "pipe_bounded_contrib" -> { (s, dir) =>
      // user-level contribution bounding — the pre-noise half of any
      // user-level DP release: keep each user's FIRST 10 events (by
      // time, event_id tiebreak — deterministic cap), clamp the value
      // to [0, 20000] integer cents, then aggregate per event type.
      // The clamp + cap bound each user's influence on every output
      // cell; one window + one agg.
      val ev = events(s, dir).select(col("user_id"),
          col("event_type"), unix_timestamp(col("ts")).as("t"),
          col("event_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .withColumn("rn", row_number().over(Window.partitionBy("user_id")
          .orderBy(col("t"), col("event_id"))))
        .where(col("rn") <= 10)
        .withColumn("clamped", expr("greatest(0L, least(20000L, cents))"))
      ev.groupBy("event_type")
        .agg(count(lit(1)).as("n_contrib"),
          sum("clamped").as("sum_clamped_cents"))
        .orderBy("event_type")
    },

    "mm_audio_fingerprint" -> { (s, dir) =>
      // END-TO-END AUDIO WATERMARK under the exact gate: per doc,
      // synthesize a 4-segment tone sequence encoding doc_id's base-8
      // digits (segment k's frequency = 300 + digit_k·200 Hz, real RIFF
      // bytes), then run the production parse → mono → frame-wise
      // Goertzel fingerprint. The packed base-8 fingerprint literally
      // DECODES the id: it equals doc_id % 4096, which is the oracle's
      // pure-arithmetic prediction — a green row needs synthesis,
      // container parse, segmentation, and all four per-frame detections
      // right (one flipped digit shifts the fingerprint).
      import s.implicits._
      val ids = tbl(s, dir, "documents")
        .where(col("doc_id") < 150).select(col("doc_id").cast("long"))
      val media = ids.as[Long].mapPartitions(_.map { id =>
          val freqs = (0 until 4).map(k =>
            300.0 + ((id >> (3 * k)) & 7L) * 200.0)
          (id, graft.operators.Multimodal
            .toneSequenceWav(freqs, 1000, 8000))
        }).toDF("media_id", "content")
      graft.operators.Multimodal
        .toneFingerprint(media, (0 to 7).map(i => 300.0 + i * 200.0), 4)
        .select(col("media_id").as("doc_id"), col("fingerprint"))
        .orderBy("doc_id")
    },

    "mm_scene_cut" -> { (s, dir) =>
      // END-TO-END REAL video under the exact gate: per doc, mux 8 real
      // JPEG frames into an MJPEG-in-AVI container with ONE hard cut at
      // frame p = 1 + doc_id % 7 (gray 64 before, 192 after), then run
      // the production parse → decode → luma → cut detector. The oracle
      // predicts the cut index ANALYTICALLY from doc_id — a green row
      // needs muxer, chunk walker, JPEG decode, and detector all right.
      import s.implicits._
      import graft.operators.Multimodal
      val ids = tbl(s, dir, "documents").where(col("doc_id") < 120)
        .select(col("doc_id").cast("long")).as[Long]
      val media = ids.mapPartitions(_.map { id =>
        val p = 1 + (id % 7).toInt
        val frames = (0 until 8)
          .map(j => Multimodal.solidJpeg(if (j < p) 64 else 192))
        Multimodal.MediaRow(id, Multimodal.muxMjpegAvi(frames),
          Multimodal.MediaMeta("video", 16, 16, 0, 8000L, "mjpeg"))
      })
      Multimodal.sceneCuts(media, threshold = 64).toDF
        .select(col("media_id").as("doc_id"),
          col("cut_idx").cast("long").as("cut_idx"))
        .orderBy("doc_id")
    },

    "mm_phash_dedup" -> { (s, dir) =>
      // perceptual image near-dup: 64-bit average-hash over decoded
      // pixels, 4×16-bit banded equi-join + exact hamming (pigeonhole-
      // total recall at maxHamming 3). Real raster bytes hash the true
      // 8×8 luma grid (spec-pinned on BMP fixtures); the gate's
      // text-derived bytes take the md5-chain stub lane the oracle
      // recomputes in SQL.
      // identical-byte clones of the first 10 docs at +4000000: stub
      // md5 hashes collide only on identical content, so these pin the
      // hamming-0 path (organic md5 near-collisions don't exist)
      val base = tbl(s, dir, "documents").where(col("doc_id") < 300)
      val clones = base.where(col("doc_id") < 10)
        .withColumn("doc_id", col("doc_id") + 4000000)
      val media = graft.operators.Multimodal.mediaFromDocuments(
        base.unionByName(clones))
      graft.operators.Multimodal.phashNearDuplicates(media, maxHamming = 3)
        .orderBy("media_a", "media_b")
    },

    "ds_downtime" -> { (s, dir) =>
      // per-stream OUTAGE summary — the SRE view beside ds_staleness'
      // freshness view: count/extent of silence gaps > 1 h between
      // consecutive points. Pure integer seconds (exact cross-engine);
      // one lag window + one keyed agg, both partitioned by stream_id —
      // the same shuffle serves both, streams shard across executors.
      val w = Window.partitionBy("stream_id").orderBy("sec")
      pointStreams(s, dir)
        .withColumn("sec", unix_timestamp(col("t")))
        .withColumn("gap", col("sec") - lag("sec", 1).over(w))
        .groupBy("stream_id")
        .agg(
          sum(when(col("gap") > 3600, 1L).otherwise(0L)).as("n_outages"),
          coalesce(max(when(col("gap") > 3600, col("gap"))), lit(0L))
            .as("max_outage_sec"),
          coalesce(sum(when(col("gap") > 3600, col("gap"))), lit(0L))
            .as("downtime_sec"))
        .orderBy("stream_id")
    },

    "pipe_ks_drift" -> { (s, dir) =>
      // per-source distribution-drift audit: EXACT two-sample
      // Kolmogorov–Smirnov statistic of each source's doc-length
      // distribution vs the rest of the corpus (one-vs-rest), the
      // nonparametric complement of text_kl_by_source's token-level KL.
      // The KS supremum runs on integer counts only — D's numerator is
      // max |c1·n2 − c2·n1| over the combined support, reported in exact
      // basis points ((10000·num) div (n1·n2)) — bit-identical on any
      // engine, no float CDFs anywhere. Scale shape: the evaluation
      // grid is (distinct length × source) — metadata-scale — built
      // from one count agg and a broadcast cross join; raw docs scan
      // once. The global-cumulative window is single-partition over
      // distinct lengths only (bounded, q_ntile_cume-style).
      // The (source, n_chars) histogram is the ONE corpus scan; every
      // other relation (per-source totals, global cumulative, grand
      // total) derives from that metadata-scale table, localCheckpoint'd
      // so the shared subtree is not re-planned (and the docs not
      // re-scanned) once per use.
      val d = tbl(s, dir, "documents").select("source", "n_chars")
      val cnt = d.groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val ns = cnt.groupBy("source").agg(sum("c").as("n1"))
      val allCum = cnt.groupBy("n_chars").agg(sum("c").as("ca"))
        .withColumn("c_all", sum("ca").over(Window.orderBy("n_chars")))
        .select("n_chars", "c_all")
      val grid = ns.crossJoin(broadcast(allCum))
        .join(cnt, Seq("source", "n_chars"), "left")
        .na.fill(0L, Seq("c"))
      val w = Window.partitionBy("source").orderBy("n_chars")
      grid.withColumn("c1", sum("c").over(w))
        .crossJoin(broadcast(cnt.agg(sum("c").as("n_total"))))
        .withColumn("c2", col("c_all") - col("c1"))
        .withColumn("n2", col("n_total") - col("n1"))
        .withColumn("dev", abs(col("c1") * col("n2") - col("c2") * col("n1")))
        .groupBy("source", "n1", "n2")
        .agg(max("dev").as("ks_num"))
        .withColumn("ks_bp", expr("(10000 * ks_num) div (n1 * n2)"))
        .select("source", "n1", "ks_num", "ks_bp")
        .orderBy("source")
    },

    "pipe_mw_drift" -> { (s, dir) =>
      // rank-based drift audit: one-vs-rest Mann–Whitney U of each
      // source's doc-length distribution — KS (pipe_ks_drift) feels the
      // largest LOCAL CDF gap, MW the overall stochastic ordering (a
      // source can pass KS yet sit systematically long). Exact integer
      // lane throughout: tie handling uses DOUBLED midranks (2·midrank =
      // 2·cum_below + count_at + 1, always an integer), 2·R1 sums those
      // over the source's histogram, 2·U1 = 2·R1 − 2·n1(n1+1)/2, and the
      // effect size is AUC = U1/(n1·n2) reported as floored ppm — no
      // float ranks, bit-identical on any engine. (BIGINT headroom:
      // 10⁶·2·n1·n2 caps the lane at ~2M docs per side; past that the
      // ppm numerator moves to DECIMAL.) Same scale shape as
      // pipe_ks_drift: ONE corpus scan into the (source, n_chars)
      // histogram, all ranking on the metadata-scale distinct-length
      // table (the global cumulative window is bounded by the length
      // support, q_ntile_cume-style).
      val d = tbl(s, dir, "documents").select("source", "n_chars")
      val cnt = d.groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val ns = cnt.groupBy("source").agg(sum("c").as("n1"))
      val dr = cnt.groupBy("n_chars").agg(sum("c").as("ca"))
        .withColumn("cum", sum("ca").over(Window.orderBy("n_chars")))
        .withColumn("dr", expr("2 * (cum - ca) + ca + 1"))
        .select("n_chars", "dr")
      val tot = cnt.agg(sum("c").as("n_total"))
      cnt.join(broadcast(dr), "n_chars")
        .groupBy("source").agg(sum(expr("c * dr")).as("two_r1"))
        .join(ns, "source")
        .crossJoin(broadcast(tot))
        .withColumn("two_u1", expr("two_r1 - n1 * (n1 + 1)"))
        .withColumn("auc_ppm",
          expr("(1000000 * two_u1) div (2 * n1 * (n_total - n1))"))
        .select("source", "n1", "two_u1", "auc_ppm")
        .orderBy("source")
    },

    "q_percentile_disc" -> { (s, dir) =>
      // exact DISCRETE percentiles (type-1 order statistics) per group:
      // the element at rank ceil(p·n) — an actual data value, so
      // arbitrary p is cross-engine-safe where interpolated quantiles
      // are not (the CLAUDE invariant: only p50 midpoints of BIGINTs
      // are ulp-safe). r16: the raw-row row_number().over(partitionBy(
      // flag)) lane shuffled the whole fact table into 3 partitions
      // (parallelism capped at the group count — the r15 weak); now the
      // distinct-value CDF rank lane (Percentiles.exactDiscrete, the
      // q_percentiles discipline): one partial-aggregated corpus
      // shuffle, sort window over the DISTINCT table only, target
      // ranks ceil(p·n) = (num·n + den − 1) div den on a broadcast.
      val li = tbl(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      Percentiles.exactDiscrete(li, "flag", "cents",
          Seq((1, 4, "p25_cents"), (1, 2, "p50_cents"), (9, 10, "p90_cents")))
        .orderBy("flag")
    },

    "q_weighted_median" -> { (s, dir) =>
      // weighted order statistics per group: the lower/upper WEIGHTED
      // median of price-cents with quantity weights — the smallest value
      // whose cumulative weight reaches half the group total. All
      // integer: cents and qty are exact BIGINTs, the crossing test is
      // `2·cumw >= totw` (never 0.5·totw). r16: the raw-row cumulative
      // RANGE window (a per-group whole-partition pass over fact rows —
      // the q_percentile_disc weak class) is now the distinct-value
      // lane (Percentiles.weightedMedian): weights fold map-side into
      // per-(flag, cents) sums, the cumulative window spans per-group
      // DISTINCT cardinality, totals ride a broadcast. Identical
      // row-for-row — the distinct-table cumw at value v IS the RANGE
      // frame's shared-peer cumw.
      val li = tbl(s, dir, "lineitem").select(
        col("l_returnflag").as("flag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("qty"))
      Percentiles.weightedMedian(li, "flag", "cents", "qty",
          "total_weight", "wmed_lo_cents", "wmed_hi_cents")
        .orderBy("flag")
    },

    "pipe_curriculum" -> { (s, dir) =>
      // staged curriculum ordering for training: per-language difficulty
      // quartile (short docs first) = stage, deterministic md5 shuffle
      // WITHIN each stage — easy→hard phases whose internal order is
      // reproducible across runs and engines. Stage comes from the
      // per-language rank (4·(rn−1)) div n — pure integers, no ntile
      // float boundaries; the shuffle key is the 60-bit md5 lane
      // (conv(substring(md5,1,15)) ≡ DuckDB ('0x'||…)::BIGINT).
      // r16: both ranks are TWO-LEVEL (guide §8 hash-range split) —
      // the r15 windows partitioned by lang alone ranked every doc in
      // #languages partitions (the q_percentile_disc weak class).
      // rn decomposes as (docs with smaller n_chars, from the
      // distinct-value CDF) + row_number within (lang, n_chars);
      // pos as (per-bucket offsets over bkt = shuf div 2⁵²,
      // order-preserving since bkt is a monotone prefix of shuf) +
      // row_number within (lang, stage, bkt). Offset tables are
      // dimension-scale broadcasts; results are rank-identical because
      // each split key is a prefix of the original sort key.
      val d = tbl(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val n = d.groupBy("lang").agg(count(lit(1)).as("n"))
      val wc = Window.partitionBy("lang").orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val below = d.groupBy("lang", "n_chars").agg(count(lit(1)).as("k"))
        .withColumn("below", sum("k").over(wc) - col("k"))
        .select("lang", "n_chars", "below")
      // r17 (verdict item 6): the within-(lang, n_chars) row_number was
      // still a VALUE split — one hot partition if doc lengths tie
      // heavily (truncation-capped corpora). Split ties by an
      // order-preserving doc_id range (dbkt = doc_id div ceil((max_id
      // + 1)/256), 256 ranges over the ACTUAL id domain): per-bucket
      // row_number + a broadcast offset of smaller buckets inside the
      // tie group recomposes the identical rank, because dbkt is a
      // monotone prefix of the doc_id sort key — the same discipline
      // as the bkt rank below. ScaleSpec pins bit-equality + the plan.
      // The range width rides the plan as a one-row broadcast (no Spark
      // action while the plan is built; an empty corpus has max = null,
      // which coalesces to width 1).
      val dDiv = d.agg(expr("greatest(1L, coalesce(max(doc_id), 0L) div 256 + 1)")
        .as("ddiv"))
      val dd = d.crossJoin(broadcast(dDiv))
        .withColumn("dbkt", expr("doc_id div ddiv")).drop("ddiv")
      val wdc = Window.partitionBy("lang", "n_chars").orderBy("dbkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dBelow = dd.groupBy("lang", "n_chars", "dbkt")
        .agg(count(lit(1)).as("dk"))
        .withColumn("dbelow", sum("dk").over(wdc) - col("dk"))
        .select("lang", "n_chars", "dbkt", "dbelow")
      val staged = dd
        .withColumn("dwrn", row_number().over(
          Window.partitionBy("lang", "n_chars", "dbkt").orderBy("doc_id")))
        .join(broadcast(dBelow), Seq("lang", "n_chars", "dbkt"))
        .withColumn("wrn", col("dbelow") + col("dwrn"))
        .join(broadcast(below), Seq("lang", "n_chars"))
        .join(broadcast(n), Seq("lang"))
        .withColumn("rn", col("below") + col("wrn"))
        .withColumn("stage", expr("(4 * (rn - 1)) div n"))
        .withColumn("shuf", expr(
          "CAST(conv(substring(md5(concat('cur:', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"))
        .withColumn("bkt", expr("shuf div 4503599627370496")) // 2^52
        .localCheckpoint(true) // feeds the offset counts AND the rank
      val wb = Window.partitionBy("lang", "stage").orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val below2 = staged.groupBy("lang", "stage", "bkt")
        .agg(count(lit(1)).as("k2"))
        .withColumn("below2", sum("k2").over(wb) - col("k2"))
        .select("lang", "stage", "bkt", "below2")
      staged
        .withColumn("wp", row_number().over(
          Window.partitionBy("lang", "stage", "bkt").orderBy("shuf", "doc_id")))
        .join(broadcast(below2), Seq("lang", "stage", "bkt"))
        .withColumn("pos", (col("below2") + col("wp")).cast("long"))
        .select("lang", "stage", "pos", "doc_id")
        .orderBy("lang", "stage", "pos")
    },

    "ds_motifs" -> { (s, dir) =>
      // SAX-style motif discovery over event streams: hourly activity
      // counts per event type are symbolized into per-type quartile
      // symbols 0..3 by RANK (never float breakpoints — (4·(rn−1)) div
      // nh), then contiguous 3-hour windows pack into a base-4 motif id
      // (s₁·16 + s₂·4 + s₃), and the top-5 recurring motifs per type
      // are reported. Gaps in the hour sequence never fabricate motifs:
      // both lagged hours must be exactly hr−2/hr−1. One events scan →
      // a metadata-scale (type × hour) table; every window partitions
      // by event type.
      val hc = events(s, dir)
        .select(col("event_type").as("etype"),
          expr("unix_timestamp(ts) div 3600").as("hr"))
        .groupBy("etype", "hr").agg(count(lit(1)).as("cnt"))
      val n = hc.groupBy("etype").agg(count(lit(1)).as("nh"))
      val hw = Window.partitionBy("etype").orderBy("hr")
      val sym = hc
        .withColumn("rn", row_number().over(
          Window.partitionBy("etype").orderBy("cnt", "hr")))
        .join(broadcast(n), Seq("etype"))
        .withColumn("sym", expr("(4 * (rn - 1)) div nh"))
      val motifs = sym
        .withColumn("s1", lag("sym", 2).over(hw))
        .withColumn("s2", lag("sym", 1).over(hw))
        .withColumn("h1", lag("hr", 2).over(hw))
        .withColumn("h2", lag("hr", 1).over(hw))
        .where(col("h1") === col("hr") - 2 && col("h2") === col("hr") - 1)
        .withColumn("motif", col("s1") * 16 + col("s2") * 4 + col("sym"))
      motifs.groupBy("etype", "motif").agg(count(lit(1)).as("n_occ"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("etype")
            .orderBy(col("n_occ").desc, col("motif"))).cast("long"))
        .where(col("rk") <= 5)
        .select("etype", "rk", "motif", "n_occ")
        .orderBy("etype", "rk")
    },

    "q_assoc_rules" -> { (s, dir) =>
      // market-basket association rules over co-purchased parts:
      // directed rules a→b with support (co-basket count, from the
      // basket-collect cooccurrence shape — ONE collect_set shuffle +
      // map-side pair explode, never a basket self-join), confidence
      // = support/n(a) and lift = support·N/(n(a)·n(b)), both in exact
      // integer ppm (1e6-scaled floor division — no float ratios cross
      // engines). Item base counts and the basket total come from the
      // same distinct (basket, item) projection; the pair subtree is
      // the MEMOIZED co-purchase edge fixture (r16 — same
      // cooccurrenceEdges(lineitem, orderkey, partkey, minSupport=2)
      // call the graph family shares; this query rebuilt an identical
      // private copy, ~5 CPU s of duplicate fixture at sf0.1), already
      // checkpointed so the two rule directions don't re-plan it (the
      // Union-replans-the-subtree trap). Overflow headroom:
      // 1e6·support·N ≤ ~1e15 at sf0.1 « 2⁶³.
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val pairs = copurchaseEdges(s, dir)
      val base = li.distinct()
      val itemN = base.groupBy("pk").agg(count(lit(1)).as("n_item"))
      val totB = base.select("ok").distinct()
        .agg(count(lit(1)).as("n_baskets"))
      val rules = pairs.select(col("u").as("a"), col("v").as("b"),
          col("support"))
        .unionAll(pairs.select(col("v").as("a"), col("u").as("b"),
          col("support")))
      rules
        .join(itemN.select(col("pk").as("a"), col("n_item").as("n_a")),
          Seq("a"))
        .join(itemN.select(col("pk").as("b"), col("n_item").as("n_b")),
          Seq("b"))
        .crossJoin(broadcast(totB))
        .withColumn("conf_ppm", expr("(1000000 * support) div n_a"))
        .withColumn("lift_ppm",
          expr("(1000000 * support * n_baskets) div (n_a * n_b)"))
        .select("a", "b", "support", "n_a", "n_b", "conf_ppm", "lift_ppm")
        .orderBy("a", "b")
    },

    "q_cohort_ltv" -> { (s, dir) =>
      // cohort lifetime-value curves: users cohorted by FIRST-event
      // epoch-week, purchase revenue accumulated per cohort over
      // week-age, reported as exact cumulative cents and floor-divided
      // cents-per-user. Week index = epoch-seconds div 604800 on both
      // engines (never date_trunc — the events span ~1 month, so weekly
      // cohorts give a real curve where monthly would give one row).
      // Cohort sizes ride a broadcast; the running sum's window is
      // (cohort × age) — metadata scale.
      val ev = events(s, dir).select(col("user_id"),
        expr("unix_timestamp(ts) div 604800").as("wk"),
        col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val first = ev.groupBy("user_id").agg(min("wk").as("w0"))
      val sizes = first.groupBy("w0").agg(count(lit(1)).as("n_users"))
      val rev = ev.where(col("event_type") === "purchase")
        .join(first, Seq("user_id"))
        .withColumn("age", col("wk") - col("w0"))
        .groupBy("w0", "age").agg(sum("cents").as("week_cents"))
      rev
        .withColumn("cum_cents", sum("week_cents").over(
          Window.partitionBy("w0").orderBy("age")
            .rangeBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(broadcast(sizes), Seq("w0"))
        .withColumn("ltv_cents", expr("cum_cents div n_users"))
        .select(col("w0").as("cohort_week"), col("age"), col("n_users"),
          col("cum_cents"), col("ltv_cents"))
        .orderBy("cohort_week", "age")
    },

    "text_rake_keywords" -> { (s, dir) =>
      // RAKE keyword extraction: candidate phrases are maximal runs of
      // non-stopwords (the pos − row_number island trick, per doc),
      // word degree = Σ length of phrases it appears in, word score =
      // degree/frequency in exact integer ppm, global top-25 (TakeOrdered
      // — never a full sort). The phrase-length window partitions by
      // (doc, island) — island-sized buffers; positions index the
      // FILTERED word array on both engines so empty tokens never shift
      // the island structure.
      val stops = Seq("the", "a", "fast", "slow", "big", "small")
      val words = tbl(s, dir, "documents")
        .select(col("doc_id"),
          expr("filter(split(text, ' '), x -> x <> '')").as("w"))
        .select(col("doc_id"), posexplode(col("w")).as(Seq("p", "word")))
      val ns = words.where(!col("word").isInCollection(stops))
        .withColumn("grp", col("p") - row_number().over(
          Window.partitionBy("doc_id").orderBy("p")))
      ns.withColumn("len", count(lit(1)).over(
          Window.partitionBy("doc_id", "grp")))
        .groupBy("word")
        .agg(count(lit(1)).as("freq"), sum("len").as("deg"))
        .withColumn("score_ppm", expr("(1000000 * deg) div freq"))
        .select("word", "freq", "deg", "score_ppm")
        .orderBy(col("score_ppm").desc, col("freq").desc, col("word"))
        .limit(25)
    },

    "q_attribution" -> { (s, dir) =>
      // last-touch marketing attribution: each purchase is credited to
      // the most recent PRECEDING click/view by the same user within a
      // 30-min lookback; older or absent touches credit 'none'. The
      // candidate touch rides as ONE packed BIGINT (sec·4 + type code)
      // through last(IGNORE NULLS) over a ROWS frame ending 1 PRECEDING
      // — exact integers end-to-end, and the (sec, event_id) order
      // makes "most recent" deterministic under same-second ties.
      // Revenue stays exact via floor(value·100) cents. One window
      // shuffle on user_id + a 3-row agg.
      val ev = events(s, dir).select(
        col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val packed = when(col("event_type") === "click", col("sec") * 4 + 1)
        .when(col("event_type") === "view", col("sec") * 4 + 2)
      ev.withColumn("touch", last(packed, ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .withColumn("attr",
          when(col("touch").isNull ||
            col("sec") - expr("touch div 4") > 1800, lit("none"))
          .when(expr("touch % 4") === 1, lit("click"))
          .otherwise(lit("view")))
        .groupBy("attr")
        .agg(count(lit(1)).as("n_purchases"),
          sum("cents").as("revenue_cents"))
        .orderBy("attr")
    })

  /** BM25 brute-force recomputation, shared VERBATIM by q_bm25_topk
    * (direct inverted stream) and q_bm25_indexed (materialized
    * bucket-pruned index) — the index changes I/O, never scores.
    */
  /** emb_kcenter oracle: 10 unrolled farthest-first picks. Every step CTE
    * is AS MATERIALIZED (the emb_mmr rule — DuckDB re-inlines plain CTE
    * chains exponentially); the d² formula and the CARRIED self-product
    * `cp` mirror Similarity.kcenterGreedy double-for-double.
    */
  private val kcenterOracleSql: String = {
    val k = 10
    val steps = (2 to k).map { i =>
      val pick =
        s"""c$i AS MATERIALIZED (SELECT vec_id, emb, cp, md FROM m${i - 1}
           |  ORDER BY md DESC, vec_id LIMIT 1)""".stripMargin
      if (i == k) pick
      else pick + ",\n" +
        s"""m$i AS MATERIALIZED (SELECT m.vec_id, m.emb, m.cp,
           |    least(m.md,
           |      (m.cp - 2 * list_dot_product(m.emb, c$i.emb)) + c$i.cp)
           |      AS md
           |  FROM m${i - 1} m CROSS JOIN c$i)""".stripMargin
    }.mkString(",\n")
    val picks = (2 to k)
      .map(i => s"SELECT vec_id, $i AS pick, md AS radius FROM c$i")
      .mkString("\n  UNION ALL ")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, emb,
       |    list_dot_product(emb, emb) AS cp
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |    FROM embeddings)),
       |c1 AS MATERIALIZED (SELECT vec_id, emb, cp FROM e
       |  ORDER BY vec_id LIMIT 1),
       |m1 AS MATERIALIZED (SELECT e.vec_id, e.emb, e.cp,
       |    (e.cp - 2 * list_dot_product(e.emb, c1.emb)) + c1.cp AS md
       |  FROM e CROSS JOIN c1),
       |$steps,
       |picks AS (SELECT vec_id, 1 AS pick, 0.0 AS radius FROM c1
       |  UNION ALL $picks)
       |SELECT vec_id, CAST(pick AS BIGINT) AS pick,
       |  round(radius, 6) AS radius
       |FROM picks ORDER BY pick""".stripMargin
  }

  /** shared by emb_ann_ivf_trained and emb_ann_ivf_rebuilt — a rebuild
    * retrains the SAME exact-integer Lloyd recipe from the index's own
    * content (= the corpus), so the searches coincide */
  // same fingerprint CTEs as dedup_winnow; eval fps come UNPRUNED from
  // the per-doc fingerprint function (fingerprints depend only on a
  // doc's own text, so filtering the full-corpus table ≡ computing on
  // the eval set alone), corpus side df-pruned. Shared by the batch
  // lane and its streaming twin.
  private val contamWinnowOracleSql: String =
    """WITH w AS MATERIALIZED (SELECT doc_id,
      |    string_split(text, ' ') AS words FROM documents),
      |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |    CAST(len(words) - 3 AS BIGINT) AS ng,
      |    ('0x' || substring(md5(
      |      array_to_string(words[i + 1 : i + 4], ' ')), 1, 15))::BIGINT
      |      AS hv
      |  FROM (SELECT doc_id, words,
      |      unnest(range(0, len(words) - 3)) AS i FROM w)),
      |m AS (SELECT doc_id, ng, pos, min(hv) OVER (PARTITION BY doc_id
      |    ORDER BY pos ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
      |  FROM g),
      |f AS (SELECT DISTINCT doc_id, fp FROM m WHERE pos <= ng - 8),
      |d AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 20),
      |r AS (SELECT f.doc_id, f.fp FROM f JOIN d USING (fp)),
      |e AS (SELECT doc_id AS eval_id, fp FROM f WHERE doc_id < 5)
      |SELECT r.doc_id, CAST(count(*) AS BIGINT) AS n_shared_fps,
      |  CAST(count(DISTINCT e.eval_id) AS BIGINT) AS n_eval_docs
      |FROM r JOIN e USING (fp) WHERE r.doc_id <> e.eval_id
      |GROUP BY r.doc_id HAVING count(*) >= 1
      |ORDER BY n_shared_fps DESC, doc_id""".stripMargin

  // exact integer seconds; gaps from the per-(stream, second) deduped
  // points, outage threshold 1 h. Shared by the batch summary and its
  // streaming outage-event twin.
  // shared by drv_derivative / drv_counter_reset and their streaming
  // replay gates (identical per-row emissions under ordered delivery)
  private val derivativeOracleSql: String =
    s"""WITH $srcSql, $pointSql,
      |d AS (SELECT stream_id, t, v,
      |    lag(v) OVER (PARTITION BY stream_id ORDER BY t) AS pv,
      |    lag(t) OVER (PARTITION BY stream_id ORDER BY t) AS pt
      |  FROM pts)
      |SELECT stream_id, t, (v - pv) / (epoch(t) - epoch(pt)) AS v
      |FROM d WHERE pv IS NOT NULL AND epoch(t) != epoch(pt)
      |ORDER BY stream_id, t""".stripMargin

  // the batch V4 reset-suppression core (union + running reset max +
  // ignore-nulls lag over (t, reset-first, v) order) — shared by the
  // ordered two-input replay AND the bounded-skew one
  private lazy val counterDerivV4StreamOracleSql: String =
    s"""WITH $srcSql, $pointSql, $counterSql,
      |rs AS (SELECT stream_id, t FROM ctr
      |  WHERE CAST(floor(v) AS BIGINT) % 10 = 3),
      |u AS (SELECT stream_id, t, v, FALSE AS is_reset FROM ctr
      |  UNION ALL
      |  SELECT stream_id, t, NULL AS v, TRUE AS is_reset FROM rs),
      |d AS (SELECT stream_id, t, v, is_reset,
      |    max(CASE WHEN is_reset THEN t END) OVER
      |      (PARTITION BY stream_id ORDER BY t, is_reset DESC, v
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS last_reset_t,
      |    last_value(v IGNORE NULLS) OVER
      |      (PARTITION BY stream_id ORDER BY t, is_reset DESC, v
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
      |    last_value(CASE WHEN NOT is_reset THEN t END IGNORE NULLS) OVER
      |      (PARTITION BY stream_id ORDER BY t, is_reset DESC, v
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt
      |  FROM u)
      |SELECT stream_id, t,
      |  (CASE WHEN v >= pv THEN v - pv ELSE 1000 - pv + v END)
      |    / (epoch(t) - epoch(pt)) AS v
      |FROM d
      |WHERE NOT is_reset AND pv IS NOT NULL AND epoch(t) != epoch(pt)
      |  AND (last_reset_t IS NULL OR last_reset_t <= pt)
      |ORDER BY stream_id, t""".stripMargin

  private val counterResetOracleSql: String =
    s"""WITH $srcSql, $pointSql, $counterSql,
      |d AS (SELECT stream_id, t, v,
      |    lag(v) OVER (PARTITION BY stream_id ORDER BY t) AS pv
      |  FROM ctr)
      |SELECT stream_id, t, CAST(1.0 AS DOUBLE) AS v
      |FROM d WHERE pv IS NOT NULL AND v < pv
      |ORDER BY stream_id, t""".stripMargin

  // shared by drv_ewma (batch) and drv_ewma_stream (the O(1)-state
  // streaming smoother): identical fold ⇒ bit-equal doubles, one
  // list_reduce replay
  private val ewmaOracleSql: String =
    s"""WITH $srcSql, $pointSql,
      |p AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec, v
      |  FROM pts),
      |l AS (SELECT stream_id, list(v ORDER BY sec) AS vs
      |  FROM p GROUP BY stream_id)
      |SELECT stream_id,
      |  round(list_reduce(vs, (acc, x) -> 0.3 * x + 0.7 * acc), 4)
      |    AS ewma_last
      |FROM l ORDER BY stream_id""".stripMargin

  // shared by ds_autocorr (batch) and ds_stream_acf (the O(maxLag)-state
  // maintenance twin): exact BIGINT fixed-point sufficient statistics
  // (floor(v*1000)); the ACF double derives from the integers in the
  // identical expression shape, so no fp lane is needed
  private val acfOracleSql: String =
    s"""WITH $srcSql, $pointSql,
      |q AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec,
      |    CAST(floor(v * 1000.0) AS BIGINT) AS q FROM pts),
      |l AS (SELECT stream_id, q,
      |    lead(q, 1) OVER w AS l1, lead(q, 2) OVER w AS l2,
      |    lead(q, 3) OVER w AS l3
      |  FROM q WINDOW w AS (PARTITION BY stream_id ORDER BY sec)),
      |u AS (
      |  SELECT stream_id, CAST(1 AS INT) AS lag, q, l1 AS lq
      |  FROM l WHERE l1 IS NOT NULL
      |  UNION ALL SELECT stream_id, CAST(2 AS INT), q, l2
      |  FROM l WHERE l2 IS NOT NULL
      |  UNION ALL SELECT stream_id, CAST(3 AS INT), q, l3
      |  FROM l WHERE l3 IS NOT NULL),
      |a AS (SELECT stream_id, lag,
      |    CAST(count(*) AS BIGINT) AS n_pairs,
      |    CAST(sum(q * lq) AS BIGINT) AS c_fp,
      |    CAST(sum(q) AS BIGINT) AS sa_fp,
      |    CAST(sum(lq) AS BIGINT) AS sb_fp,
      |    CAST(sum(q * q) AS BIGINT) AS sqa_fp,
      |    CAST(sum(lq * lq) AS BIGINT) AS sqb_fp
      |  FROM u GROUP BY stream_id, lag)
      |SELECT stream_id, lag, n_pairs, c_fp, sa_fp, sb_fp, sqa_fp,
      |  sqb_fp,
      |  CASE WHEN (CAST(n_pairs AS DOUBLE) * CAST(sqa_fp AS DOUBLE)
      |        - CAST(sa_fp AS DOUBLE) * CAST(sa_fp AS DOUBLE)) > 0
      |    AND (CAST(n_pairs AS DOUBLE) * CAST(sqb_fp AS DOUBLE)
      |        - CAST(sb_fp AS DOUBLE) * CAST(sb_fp AS DOUBLE)) > 0
      |  THEN round((CAST(n_pairs AS DOUBLE) * CAST(c_fp AS DOUBLE)
      |        - CAST(sa_fp AS DOUBLE) * CAST(sb_fp AS DOUBLE))
      |    / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sqa_fp AS DOUBLE)
      |        - CAST(sa_fp AS DOUBLE) * CAST(sa_fp AS DOUBLE))
      |      * (CAST(n_pairs AS DOUBLE) * CAST(sqb_fp AS DOUBLE)
      |        - CAST(sb_fp AS DOUBLE) * CAST(sb_fp AS DOUBLE))), 6)
      |  END AS acf
      |FROM a ORDER BY stream_id, lag""".stripMargin

  // the blocked fuzzy-pair + 8-round min-label resolution shared
  // by er_entity_clusters and er_golden_record (components by
  // unrolled MATERIALIZED CTEs; self-loop row covers own+neighbor
  // labels; rec = every part row tagged with its entity label)
  private val erResolvePrefixSql: String =
      """WITH v AS (SELECT DISTINCT p_name AS val,
        |    string_split(p_name, ' ')[-1] AS blk FROM part),
        |pairs AS MATERIALIZED (SELECT a.val AS val_a, b.val AS val_b
        |  FROM v a JOIN v b ON a.blk = b.blk AND a.val < b.val
        |    AND abs(length(a.val) - length(b.val)) <= 2
        |  WHERE levenshtein(a.val, b.val) <= 2),
        |mv AS MATERIALIZED (SELECT DISTINCT val FROM (
        |  SELECT val_a AS val FROM pairs
        |  UNION ALL SELECT val_b FROM pairs)),
        |und AS MATERIALIZED (
        |  SELECT val_a AS vv, val_b AS nb FROM pairs
        |  UNION ALL SELECT val_b, val_a FROM pairs
        |  UNION ALL SELECT val, val FROM mv),
        |l0 AS MATERIALIZED (SELECT val, val AS lbl FROM mv),
        |l1 AS MATERIALIZED (SELECT u.vv AS val, min(x.lbl) AS lbl
        |  FROM und u JOIN l0 x ON x.val = u.nb GROUP BY u.vv),
        |l2 AS MATERIALIZED (SELECT u.vv AS val, min(x.lbl) AS lbl
        |  FROM und u JOIN l1 x ON x.val = u.nb GROUP BY u.vv),
        |l3 AS MATERIALIZED (SELECT u.vv AS val, min(x.lbl) AS lbl
        |  FROM und u JOIN l2 x ON x.val = u.nb GROUP BY u.vv),
        |l4 AS MATERIALIZED (SELECT u.vv AS val, min(x.lbl) AS lbl
        |  FROM und u JOIN l3 x ON x.val = u.nb GROUP BY u.vv),
        |l5 AS MATERIALIZED (SELECT u.vv AS val, min(x.lbl) AS lbl
        |  FROM und u JOIN l4 x ON x.val = u.nb GROUP BY u.vv),
        |l6 AS MATERIALIZED (SELECT u.vv AS val, min(x.lbl) AS lbl
        |  FROM und u JOIN l5 x ON x.val = u.nb GROUP BY u.vv),
        |l7 AS MATERIALIZED (SELECT u.vv AS val, min(x.lbl) AS lbl
        |  FROM und u JOIN l6 x ON x.val = u.nb GROUP BY u.vv),
        |l8 AS MATERIALIZED (SELECT u.vv AS val, min(x.lbl) AS lbl
        |  FROM und u JOIN l7 x ON x.val = u.nb GROUP BY u.vv),
        |rec AS (SELECT p.p_partkey, p.p_name,
        |    coalesce(e.lbl, p.p_name) AS entity_id
        |  FROM part p LEFT JOIN l8 e ON e.val = p.p_name)
        |""".stripMargin

  // shared by emb_ann_ivfpq (in-memory) and emb_ann_ivfpq_indexed
  // (the persisted codes-only index): identical sampling, encode kernel,
  // and ADC arithmetic
  private val ivfpqOracleSql: String =
      // IVFPQ mirror: coarse cells/probes exactly as emb_ann_ivf; PQ
      // codebook = the stride-5 sample's 4-dim slices; subspace L2²
      // = (dot(a,a) - 2*dot(a,b)) + dot(b,b); adist = fixed left-assoc
      // chain of the 16 single-valued conditional sums
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id % 50 = 0),
        |pqc AS (SELECT vec_id AS cent_id, emb AS cemb FROM e
        |  WHERE vec_id % 5 = 0 AND vec_id < 640),
        |s AS (SELECT e.vec_id, e.emb, c.cent_id,
        |    list_dot_product(e.emb, c.cemb)
        |      / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim
        |  FROM e, c),
        |r AS (SELECT vec_id, emb, cent_id, csim,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crnk
        |  FROM s),
        |cells AS (SELECT vec_id, cent_id AS cell FROM r WHERE crnk = 1),
        |probes AS (SELECT vec_id AS qid, cent_id AS cell FROM r WHERE crnk <= 2),
        |sub AS (SELECT unnest(range(0, 16)) AS s),
        |cb AS (SELECT pqc.cent_id, sub.s,
        |    pqc.cemb[sub.s * 4 + 1 : sub.s * 4 + 4] AS csub FROM pqc CROSS JOIN sub),
        |vsub AS (SELECT e.vec_id, sub.s,
        |    e.emb[sub.s * 4 + 1 : sub.s * 4 + 4] AS vs FROM e CROSS JOIN sub),
        |dist AS (SELECT v.vec_id, v.s, cb.cent_id,
        |    (list_dot_product(v.vs, v.vs) - 2 * list_dot_product(v.vs, cb.csub))
        |      + list_dot_product(cb.csub, cb.csub) AS d2
        |  FROM vsub v JOIN cb ON cb.s = v.s),
        |codes AS (SELECT vec_id AS cid, s, cent_id FROM (
        |    SELECT vec_id, s, cent_id,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cent_id) AS rn
        |    FROM dist) WHERE rn = 1),
        |cand AS (SELECT p.qid, cl.vec_id AS cid
        |  FROM probes p JOIN cells cl USING (cell) WHERE cl.vec_id <> p.qid),
        |adc AS (SELECT cand.qid, cand.cid, co.s, d.d2
        |  FROM cand JOIN codes co ON co.cid = cand.cid
        |  JOIN dist d ON d.vec_id = cand.qid AND d.s = co.s AND d.cent_id = co.cent_id),
        |ad AS (SELECT qid, cid,
        |    ((((((((((((((sum(CASE WHEN s = 0 THEN d2 END) + sum(CASE WHEN s = 1 THEN d2 END))
        |      + sum(CASE WHEN s = 2 THEN d2 END)) + sum(CASE WHEN s = 3 THEN d2 END))
        |      + sum(CASE WHEN s = 4 THEN d2 END)) + sum(CASE WHEN s = 5 THEN d2 END))
        |      + sum(CASE WHEN s = 6 THEN d2 END)) + sum(CASE WHEN s = 7 THEN d2 END))
        |      + sum(CASE WHEN s = 8 THEN d2 END)) + sum(CASE WHEN s = 9 THEN d2 END))
        |      + sum(CASE WHEN s = 10 THEN d2 END)) + sum(CASE WHEN s = 11 THEN d2 END))
        |      + sum(CASE WHEN s = 12 THEN d2 END)) + sum(CASE WHEN s = 13 THEN d2 END))
        |      + sum(CASE WHEN s = 14 THEN d2 END)) + sum(CASE WHEN s = 15 THEN d2 END) AS adist
        |  FROM adc GROUP BY qid, cid),
        |t AS (SELECT qid, cid, adist,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS BIGINT) AS rnk
        |  FROM ad)
        |SELECT qid, cid, rnk, round(adist, 6) AS adist FROM t WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin

  // the refined two-stage lane: the FULL ivfpq ADC chain cut at the
  // rerank budget (rnk <= 10), then the exact-cosine rerank over just
  // those candidates
  private val ivfpqRefinedOracleSql: String = {
    val finalSelect =
      "SELECT qid, cid, rnk, round(adist, 6) AS adist FROM t WHERE rnk <= 3\nORDER BY qid, rnk"
    require(ivfpqOracleSql.endsWith(finalSelect),
      "ivfpq oracle tail drifted — update the refined extension")
    ivfpqOracleSql.stripSuffix(finalSelect).stripSuffix("\n") + ",\n" +
      """c10 AS (SELECT qid, cid FROM t WHERE rnk <= 10),
        |rr AS (SELECT c10.qid, c10.cid,
        |    list_dot_product(q.emb, d.emb)
        |      / (sqrt(list_dot_product(q.emb, q.emb))
        |         * sqrt(list_dot_product(d.emb, d.emb))) AS sim
        |  FROM c10 JOIN e q ON q.vec_id = c10.qid
        |  JOIN e d ON d.vec_id = c10.cid),
        |f AS (SELECT qid, cid, sim,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY sim DESC, cid) AS BIGINT) AS rnk
        |  FROM rr)
        |SELECT qid, cid, rnk, round(sim, 6) AS sim FROM f WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin
  }

  // the PQ drift audit, end-to-end in SQL: the full ADC chain cut to the
  // stride-sampled queries, the exact-cosine lane for the same sample,
  // and the audit's integer recall/balance row (floor division ≡ Spark
  // Long division; sum cast off HUGEINT). max_batches pins the
  // single-append fixture literally.
  private val ivfpqAuditOracleSql: String = {
    val finalSelect =
      "SELECT qid, cid, rnk, round(adist, 6) AS adist FROM t WHERE rnk <= 3\nORDER BY qid, rnk"
    require(ivfpqOracleSql.endsWith(finalSelect),
      "ivfpq oracle tail drifted — update the audit extension")
    ivfpqOracleSql.stripSuffix(finalSelect).stripSuffix("\n") + ",\n" +
      """stc AS (SELECT (count(*) + 19) // 20 AS st FROM e),
        |qs AS (SELECT vec_id AS qid, emb AS qemb FROM e
        |  WHERE vec_id % (SELECT st FROM stc) = 0),
        |apx AS (SELECT t.qid, t.cid FROM t JOIN qs ON qs.qid = t.qid
        |  WHERE t.rnk <= 3),
        |xp AS (SELECT qs.qid, e.vec_id AS cid,
        |    list_dot_product(qs.qemb, e.emb)
        |      / (sqrt(list_dot_product(qs.qemb, qs.qemb))
        |         * sqrt(list_dot_product(e.emb, e.emb))) AS sim
        |  FROM qs, e WHERE e.vec_id <> qs.qid),
        |exact AS (SELECT qid, cid FROM (SELECT qid, cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rnk
        |  FROM xp) WHERE rnk <= 3),
        |hits AS (SELECT CAST(count(*) AS BIGINT) AS h FROM exact
        |  JOIN apx ON apx.qid = exact.qid AND apx.cid = exact.cid),
        |exn AS (SELECT CAST(count(*) AS BIGINT) AS xn FROM exact),
        |nq AS (SELECT CAST(count(*) AS BIGINT) AS n_q FROM qs),
        |cc AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |    CAST(sum(n) AS BIGINT) AS n_codes, CAST(max(n) AS BIGINT) AS mx
        |  FROM (SELECT cell, count(*) AS n FROM cells GROUP BY cell))
        |SELECT cc.n_cells, cc.n_codes, CAST(1 AS BIGINT) AS max_batches,
        |  (1000000 * cc.mx) // cc.n_codes AS max_cell_ppm,
        |  nq.n_q AS sampled_n,
        |  CASE WHEN exn.xn = 0 THEN 10000
        |    ELSE (10000 * hits.h) // exn.xn END AS recall_bp,
        |  (CASE WHEN exn.xn = 0 THEN 10000
        |    ELSE (10000 * hits.h) // exn.xn END) < 3000
        |    OR ((1000000 * cc.mx) // cc.n_codes) > 500000 AS rebuild
        |FROM cc, nq, hits, exn""".stripMargin
  }

  // shared by pipe_psi_drift (batch) and pipe_psi_drift_stream (the
  // live count-fold monitor)
  private val psiDriftOracleSql: String =
      // same integer bins/counts; the PSI double mirrors term-for-term
      """WITH d AS (SELECT source,
        |    least(n_chars // 200, 9) AS bin FROM documents),
        |bs AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS c_sb
        |  FROM d GROUP BY 1, 2),
        |bb AS (SELECT bin, CAST(count(*) AS BIGINT) AS c_b
        |  FROM d GROUP BY 1),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
        |  FROM d GROUP BY 1),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |grid AS (SELECT bs.source, bs.c_sb, bb.c_b - bs.c_sb AS c_rest,
        |    ns.n_s, nt.n - ns.n_s AS n_rest
        |  FROM bs JOIN bb USING (bin) JOIN ns USING (source)
        |  CROSS JOIN nt
        |  WHERE bs.c_sb > 0 AND bb.c_b - bs.c_sb > 0)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_bins_used,
        |  round(sum((CAST(c_sb AS DOUBLE) / n_s
        |      - CAST(c_rest AS DOUBLE) / n_rest)
        |    * ln((CAST(c_sb AS DOUBLE) / n_s)
        |        / (CAST(c_rest AS DOUBLE) / n_rest))), 4) AS psi
        |FROM grid GROUP BY source ORDER BY source""".stripMargin

  // shared by pipe_e2e_curation (batch) and pipe_e2e_curation_stream
  // (the stateful funnel twin)
  private val curationOracleSql: String =
      // same stage recipe end-to-end; every branch casts so DuckDB's
      // HUGEINT sums can't drift the union's column type
      """WITH c0 AS (SELECT doc_id, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 97 <> 0),
        |cor AS (SELECT doc_id, text, lang, source, n_chars FROM c0
        |  UNION ALL
        |  SELECT doc_id + 2000000, text, lang, source, n_chars
        |  FROM c0 WHERE doc_id < 25),
        |ct AS (SELECT *, CAST(len(string_split(text, ' ')) AS BIGINT)
        |    AS n_toks FROM cor),
        |s1 AS (SELECT * FROM ct WHERE lang IN ('en', 'de', 'fr')),
        |s2 AS (SELECT * FROM s1 WHERE n_chars >= 150 AND n_toks >= 20),
        |s3 AS (SELECT * FROM s2 QUALIFY
        |  row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
        |tg AS (SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM s3)),
        |bg AS (SELECT DISTINCT unnest(list_distinct(
        |    list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS g
        |  FROM (SELECT string_split(text, ' ') AS tk FROM documents
        |        WHERE doc_id % 97 = 0)),
        |contam AS (SELECT tg.doc_id FROM tg JOIN bg USING (g)
        |  GROUP BY tg.doc_id HAVING count(*) >= 3),
        |s4 AS (SELECT * FROM s3
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
        |s5 AS (SELECT * FROM s4 QUALIFY
        |  row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 12)
        |SELECT stage, n_docs, n_tokens FROM (
        |  SELECT 's0_all' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(coalesce(sum(n_toks), 0) AS BIGINT) AS n_tokens FROM ct
        |  UNION ALL SELECT 's1_lang', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM s1
        |  UNION ALL SELECT 's2_quality', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM s2
        |  UNION ALL SELECT 's3_dedup', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM s3
        |  UNION ALL SELECT 's4_decontam', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM s4
        |  UNION ALL SELECT 's5_cap', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM s5)
        |ORDER BY stage""".stripMargin

  // shared by q_phrase_search (direct token-position adjacency) and
  // q_phrase_search_indexed (positional postings conjunction)
  private val phraseOracleSql: String =
      // 1-based list indexing; range(1, len) is end-exclusive, so i+1
      // stays in bounds — same overlapping-adjacency count
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |h AS (SELECT doc_id, CAST(len(list_filter(range(1, len(w)),
        |    i -> w[i] = 'sort' AND w[i + 1] = 'merge')) AS BIGINT) AS hits
        |  FROM d)
        |SELECT doc_id, hits FROM h WHERE hits > 0
        |ORDER BY hits DESC, doc_id LIMIT 20""".stripMargin

  // shared by q_hybrid_rrf (direct lanes) and q_hybrid_rrf_indexed
  // (persisted bm25 postings + flat IVF cells at full probe — exact)
  private val hybridRrfOracleSql: String =
      """WITH d AS (SELECT doc_id, text FROM documents),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d),
        |t AS (SELECT * FROM toks WHERE tok <> ''),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        |st AS (SELECT (SELECT count(*) FROM d) AS n,
        |    (SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
        |      / (SELECT count(*) FROM d) AS avgdl),
        |q AS (SELECT doc_id AS qid,
        |    unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM d WHERE doc_id < 5),
        |qq AS (SELECT * FROM q WHERE tok <> ''),
        |scored AS (SELECT qq.qid, tf.doc_id,
        |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |  FROM qq JOIN tf ON qq.tok = tf.tok JOIN df ON qq.tok = df.tok
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
        |  GROUP BY qq.qid, tf.doc_id),
        |b20 AS (SELECT qid, doc_id, rnk FROM (
        |  SELECT qid, doc_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk FROM scored)
        |  WHERE rnk <= 20),
        |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |qv AS (SELECT vec_id AS qid, emb AS qemb FROM emb WHERE vec_id < 5),
        |cs AS (SELECT qv.qid, e.vec_id AS doc_id,
        |    list_dot_product(qv.qemb, e.emb)
        |      / (sqrt(list_dot_product(qv.qemb, qv.qemb))
        |         * sqrt(list_dot_product(e.emb, e.emb))) AS sim
        |  FROM qv, emb e WHERE e.vec_id <> qv.qid),
        |c20 AS (SELECT qid, doc_id, rnk FROM (
        |  SELECT qid, doc_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY sim DESC, doc_id) AS rnk FROM cs)
        |  WHERE rnk <= 20),
        |f AS (SELECT coalesce(b.qid, c.qid) AS qid,
        |    coalesce(b.doc_id, c.doc_id) AS doc_id,
        |    coalesce(1.0 / (60 + b.rnk), 0) + coalesce(1.0 / (60 + c.rnk), 0)
        |      AS rrf
        |  FROM b20 b FULL OUTER JOIN c20 c
        |    ON b.qid = c.qid AND b.doc_id = c.doc_id),
        |r AS (SELECT qid, doc_id, rrf, row_number() OVER (
        |    PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rnk FROM f)
        |SELECT qid, doc_id, rrf, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin

  // shared by q_bm25f (direct) and q_bm25f_indexed (persisted index
  // over the weighted-repeat virtual doc)
  private val bm25fOracleSql: String =
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |ft AS (SELECT doc_id, unnest(ws[1:8]) AS tok,
        |    CAST(3 AS BIGINT) AS fw FROM d
        |  UNION ALL SELECT doc_id, unnest(ws[9:]) AS tok,
        |    CAST(1 AS BIGINT) AS fw FROM d),
        |t AS (SELECT * FROM ft WHERE tok <> ''),
        |wtf AS (SELECT doc_id, tok, CAST(sum(fw) AS BIGINT) AS wtf
        |  FROM t GROUP BY doc_id, tok),
        |wdl AS (SELECT doc_id, CAST(sum(fw) AS BIGINT) AS wdl
        |  FROM t GROUP BY doc_id),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        |st AS (SELECT (SELECT count(*) FROM d) AS n,
        |    (SELECT CAST(sum(wdl) AS DOUBLE) FROM wdl)
        |      / (SELECT count(*) FROM d) AS avgwdl),
        |q AS (SELECT doc_id AS qid,
        |    unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents WHERE doc_id < 5),
        |qq AS (SELECT * FROM q WHERE tok <> ''),
        |scored AS (SELECT qq.qid, wtf.doc_id,
        |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |      * (wtf.wtf * 2.2)
        |      / (wtf.wtf + 1.2 * (0.25 + 0.75 * wdl.wdl / st.avgwdl))), 6)
        |      AS score
        |  FROM qq JOIN wtf ON qq.tok = wtf.tok JOIN df ON qq.tok = df.tok
        |  JOIN wdl ON wtf.doc_id = wdl.doc_id CROSS JOIN st
        |  GROUP BY qq.qid, wtf.doc_id),
        |r AS (SELECT qid, doc_id, score, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk FROM scored)
        |SELECT qid, doc_id, score, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  // shared by drv_holt_winters (batch) and drv_holt_winters_stream:
  // the drv_holt recursion with the seasonal ring carried as a LIST
  // column (probed bit-exact; only struct list_reduce has the DuckDB
  // aliasing bug). Phase of 1-based point i is (i−1) % 4; 1-based list
  // slicing/indexing throughout.
  private val holtWintersOracleSql: String =
    s"""WITH RECURSIVE $srcSql, $pointSql,
      |p AS (SELECT stream_id, v, row_number() OVER (
      |    PARTITION BY stream_id
      |    ORDER BY CAST(floor(epoch(t)) AS BIGINT)) AS i
      |  FROM pts),
      |n AS (SELECT stream_id, count(*) AS nn FROM p GROUP BY stream_id),
      |hw AS (
      |  SELECT stream_id, i, CAST(v AS DOUBLE) AS l,
      |    CAST(0 AS DOUBLE) AS b,
      |    [CAST(0 AS DOUBLE), 0, 0, 0] AS sl
      |  FROM p WHERE i = 1
      |  UNION ALL
      |  SELECT s.stream_id, s.i,
      |    0.3 * (s.v - h.sl[(s.i - 1) % 4 + 1]) + 0.7 * (h.l + h.b),
      |    0.2 * ((0.3 * (s.v - h.sl[(s.i - 1) % 4 + 1])
      |      + 0.7 * (h.l + h.b)) - h.l) + 0.8 * h.b,
      |    list_concat(list_concat(
      |      h.sl[1:((s.i - 1) % 4)],
      |      [0.4 * (s.v - (0.3 * (s.v - h.sl[(s.i - 1) % 4 + 1])
      |        + 0.7 * (h.l + h.b))) + 0.6 * h.sl[(s.i - 1) % 4 + 1]]),
      |      h.sl[((s.i - 1) % 4 + 2):4])
      |  FROM hw h JOIN p s
      |    ON s.stream_id = h.stream_id AND s.i = h.i + 1),
      |f AS (SELECT h.stream_id, h.l, h.b, h.sl[(n.nn % 4) + 1] AS snext
      |  FROM hw h JOIN n ON n.stream_id = h.stream_id AND h.i = n.nn)
      |SELECT stream_id, round(l, 4) AS level, round(b, 4) AS trend,
      |  round(l + b + snext, 4) AS forecast_1
      |FROM f ORDER BY stream_id""".stripMargin

  // shared by drv_holt (batch) and drv_holt_stream (the O(1)-state
  // streaming twin): identical fold arithmetic makes the doubles
  // bit-equal, so both gate rows replay the same recursive CTE
  private val holtOracleSql: String =
    s"""WITH RECURSIVE $srcSql, $pointSql,
      |p AS (SELECT stream_id, v, row_number() OVER (
      |    PARTITION BY stream_id
      |    ORDER BY CAST(floor(epoch(t)) AS BIGINT)) AS i
      |  FROM pts),
      |n AS (SELECT stream_id, count(*) AS nn FROM p GROUP BY stream_id),
      |hol AS (
      |  SELECT stream_id, i, CAST(v AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
      |  FROM p WHERE i = 1
      |  UNION ALL
      |  SELECT s.stream_id, s.i,
      |    0.3 * s.v + 0.7 * (h.l + h.b),
      |    0.2 * ((0.3 * s.v + 0.7 * (h.l + h.b)) - h.l) + 0.8 * h.b
      |  FROM hol h JOIN p s
      |    ON s.stream_id = h.stream_id AND s.i = h.i + 1),
      |f AS (SELECT hol.stream_id, arg_max(l, i) AS l, arg_max(b, i) AS b
      |  FROM hol GROUP BY hol.stream_id)
      |SELECT stream_id, round(l, 4) AS level, round(b, 4) AS trend,
      |  round(l + b, 4) AS forecast_1
      |FROM f ORDER BY stream_id""".stripMargin

  private val downtimeOracleSql: String =
    s"""WITH $srcSql, $pointSql,
      |g AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec,
      |    lag(CAST(floor(epoch(t)) AS BIGINT))
      |      OVER (PARTITION BY stream_id ORDER BY t) AS prev
      |  FROM pts)
      |SELECT stream_id,
      |  CAST(coalesce(sum(CASE WHEN sec - prev > 3600 THEN 1 END), 0)
      |    AS BIGINT) AS n_outages,
      |  CAST(coalesce(max(CASE WHEN sec - prev > 3600 THEN sec - prev END), 0)
      |    AS BIGINT) AS max_outage_sec,
      |  CAST(coalesce(sum(CASE WHEN sec - prev > 3600 THEN sec - prev END), 0)
      |    AS BIGINT) AS downtime_sec
      |FROM g GROUP BY stream_id ORDER BY stream_id""".stripMargin

  private val ivfTrainedOracleSql: String =
    // 2 unrolled Lloyd rounds: assignment ties break to the lowest
    // cent_id (≡ Spark's first-max over ascending ids), recentering
    // in BIGINT fixed point with truncating //, centroids rebuilt as
    // q/1e6 doubles; empty cells keep the previous centroid
    """WITH e AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c0 AS MATERIALIZED (
        |  SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id % 50 = 0),
        |s1 AS MATERIALIZED (SELECT e.vec_id, c.cent_id,
        |    list_dot_product(e.emb, c.cemb)
        |      / (sqrt(list_dot_product(e.emb, e.emb))
        |         * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim
        |  FROM e, c0 c),
        |a1 AS MATERIALIZED (SELECT vec_id, cent_id AS cell FROM (
        |    SELECT vec_id, cent_id, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
        |    FROM s1) WHERE rn = 1),
        |x1 AS MATERIALIZED (SELECT a1.cell,
        |    CAST(generate_subscripts(e.emb, 1) AS BIGINT) AS dim,
        |    unnest(e.emb) AS v
        |  FROM e JOIN a1 USING (vec_id)),
        |m1 AS MATERIALIZED (SELECT cell, dim,
        |    CAST(sum(CAST(floor(v * 1000000.0) AS BIGINT)) AS BIGINT)
        |    // CAST(count(*) AS BIGINT) AS qm
        |  FROM x1 GROUP BY cell, dim),
        |t1 AS MATERIALIZED (SELECT cell AS cent_id,
        |    list(CAST(qm AS DOUBLE) / 1000000.0 ORDER BY dim) AS cemb
        |  FROM m1 GROUP BY cell),
        |c1 AS MATERIALIZED (SELECT c0.cent_id,
        |    COALESCE(t1.cemb, c0.cemb) AS cemb
        |  FROM c0 LEFT JOIN t1 USING (cent_id)),
        |s2 AS MATERIALIZED (SELECT e.vec_id, c.cent_id,
        |    list_dot_product(e.emb, c.cemb)
        |      / (sqrt(list_dot_product(e.emb, e.emb))
        |         * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim
        |  FROM e, c1 c),
        |a2 AS MATERIALIZED (SELECT vec_id, cent_id AS cell FROM (
        |    SELECT vec_id, cent_id, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
        |    FROM s2) WHERE rn = 1),
        |x2 AS MATERIALIZED (SELECT a2.cell,
        |    CAST(generate_subscripts(e.emb, 1) AS BIGINT) AS dim,
        |    unnest(e.emb) AS v
        |  FROM e JOIN a2 USING (vec_id)),
        |m2 AS MATERIALIZED (SELECT cell, dim,
        |    CAST(sum(CAST(floor(v * 1000000.0) AS BIGINT)) AS BIGINT)
        |    // CAST(count(*) AS BIGINT) AS qm
        |  FROM x2 GROUP BY cell, dim),
        |t2 AS MATERIALIZED (SELECT cell AS cent_id,
        |    list(CAST(qm AS DOUBLE) / 1000000.0 ORDER BY dim) AS cemb
        |  FROM m2 GROUP BY cell),
        |c2 AS MATERIALIZED (SELECT c1.cent_id,
        |    COALESCE(t2.cemb, c1.cemb) AS cemb
        |  FROM c1 LEFT JOIN t2 USING (cent_id)),
        |s3 AS MATERIALIZED (SELECT e.vec_id, e.emb, c.cent_id,
        |    list_dot_product(e.emb, c.cemb)
        |      / (sqrt(list_dot_product(e.emb, e.emb))
        |         * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim
        |  FROM e, c2 c),
        |r3 AS MATERIALIZED (SELECT vec_id, emb, cent_id, csim,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY csim DESC, cent_id) AS crnk
        |  FROM s3),
        |cells AS (SELECT vec_id, emb, cent_id AS cell FROM r3 WHERE crnk = 1),
        |probes AS (SELECT vec_id AS qid, emb AS qemb, cent_id AS cell
        |  FROM r3 WHERE crnk <= 2),
        |p AS (SELECT qid, cells.vec_id AS cid,
        |    list_dot_product(qemb, emb)
        |      / (sqrt(list_dot_product(qemb, qemb))
        |         * sqrt(list_dot_product(emb, emb))) AS sim
        |  FROM probes JOIN cells USING (cell) WHERE cells.vec_id <> qid),
        |t AS (SELECT qid, cid, sim,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY sim DESC, cid) AS BIGINT) AS rnk
        |  FROM p)
        |SELECT qid, cid, rnk, round(sim, 6) AS sim FROM t WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin

  /** shared by dedup_clusters and dedup_clusters_incr — the incremental
    * label-space fold reproduces the from-scratch labeling exactly */
  private val ccClustersOracleSql: String =
    """WITH RECURSIVE base AS (SELECT doc_id, text FROM documents),
        |vars AS (SELECT doc_id + 1000000 AS doc_id,
        |    concat('zz yy ', array_to_string(string_split(text, ' ')[3:], ' ')) AS text
        |  FROM base WHERE doc_id < 20),
        |docs AS (SELECT * FROM base UNION ALL SELECT * FROM vars),
        |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM docs),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(words) - 3, 0) + 2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS s FROM w),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s))
        |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.3),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(u, v) AS (SELECT u, v FROM edges
        |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
        |SELECT u AS doc_id, least(u, min(v)) AS rep_id
        |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin

  /** shared by emb_ann_ivf and emb_ann_ivf_indexed — the persisted index
    * computes the identical search through `root/cells` partition dirs */
  private val ivfOracleSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |c AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id % 50 = 0),
      |s AS (SELECT e.vec_id, e.emb, c.cent_id,
      |    list_dot_product(e.emb, c.cemb)
      |      / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim
      |  FROM e, c),
      |r AS (SELECT vec_id, emb, cent_id, csim,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crnk
      |  FROM s),
      |cells AS (SELECT vec_id, emb, cent_id AS cell FROM r WHERE crnk = 1),
      |probes AS (SELECT vec_id AS qid, emb AS qemb, cent_id AS cell FROM r WHERE crnk <= 2),
      |p AS (SELECT qid, cells.vec_id AS cid,
      |    list_dot_product(qemb, emb)
      |      / (sqrt(list_dot_product(qemb, qemb)) * sqrt(list_dot_product(emb, emb))) AS sim
      |  FROM probes JOIN cells USING (cell) WHERE cells.vec_id <> qid),
      |t AS (SELECT qid, cid, sim,
      |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rnk
      |  FROM p)
      |SELECT qid, cid, rnk, round(sim, 6) AS sim FROM t WHERE rnk <= 3
      |ORDER BY qid, rnk""".stripMargin

  // the POST-filter two-stage oracle: the ivf replay's unfiltered rank
  // cut at k·oversample = 12, then the attribute filter and the re-rank
  // to 3 — the explicit-recall-trade strategy, distinct from the
  // pre-filter lane's oracle
  private val ivfPostFilteredOracleSql: String = {
    val finalSelect =
      """SELECT qid, cid, rnk, round(sim, 6) AS sim FROM t WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin
    require(ivfOracleSql.endsWith(finalSelect), "ivf oracle drifted")
    ivfOracleSql.stripSuffix(finalSelect).stripSuffix("\n") + ",\n" +
      """pf AS (SELECT qid, cid, sim FROM t WHERE rnk <= 12 AND cid % 4 = 1),
        |t2 AS (SELECT qid, cid, sim,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY sim DESC, cid) AS BIGINT) AS rnk
        |  FROM pf)
        |SELECT qid, cid, rnk, round(sim, 6) AS sim FROM t2 WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin
  }

  // the ivfpq replay with the allowed-set predicate on the CANDIDATE
  // side only (codes carry no attributes; the engine semi-joins an
  // allowed vec-id frame before the ADC kernel)
  private val ivfpqFilteredOracleSql: String = {
    val candFrom =
      "FROM probes p JOIN cells cl USING (cell) WHERE cl.vec_id <> p.qid),"
    require(ivfpqOracleSql.contains(candFrom), "ivfpq oracle drifted")
    ivfpqOracleSql.replace(candFrom,
      "FROM probes p JOIN cells cl USING (cell)\n" +
        "  WHERE cl.vec_id <> p.qid AND cl.vec_id % 4 = 1),")
  }

  private val bm25TopkOracleSql: String =
    """WITH d AS (SELECT doc_id, text FROM documents),
      |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d),
      |t AS (SELECT * FROM toks WHERE tok <> ''),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
      |st AS (SELECT (SELECT count(*) FROM d) AS n,
      |    (SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
      |      / (SELECT count(*) FROM d) AS avgdl),
      |q AS (SELECT doc_id AS qid,
      |    unnest(list_distinct(string_split(text, ' '))) AS tok
      |  FROM d WHERE doc_id < 5),
      |qq AS (SELECT * FROM q WHERE tok <> ''),
      |scored AS (SELECT qq.qid, tf.doc_id,
      |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
      |      * (tf.tf * 2.2)
      |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
      |  FROM qq JOIN tf ON qq.tok = tf.tok JOIN df ON qq.tok = df.tok
      |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
      |  GROUP BY qq.qid, tf.doc_id),
      |r AS (SELECT qid, doc_id, score, row_number() OVER (
      |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk FROM scored)
      |SELECT qid, doc_id, score, CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  // Dirichlet query-likelihood: matched-terms sum + length norm with
  // the EXACT expression parenthesization of Retrieval.lmScore; shared
  // by q_lm_dirichlet (direct) and q_lm_dirichlet_indexed (identical
  // scores off the postings + cf-per-bucket + sidecar |C|)
  private val lmDirichletOracleSql: String =
    """WITH d AS (SELECT doc_id, text FROM documents),
      |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d),
      |t AS (SELECT * FROM toks WHERE tok <> ''),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
      |cf AS (SELECT tok, count(*) AS cf FROM t GROUP BY tok),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS c FROM t),
      |q0 AS (SELECT doc_id AS qid, unnest(string_split(text, ' ')) AS tok
      |  FROM d WHERE doc_id < 5),
      |q1 AS (SELECT * FROM q0 WHERE tok <> ''),
      |qt AS (SELECT qid, tok, count(*) AS qtf FROM q1 GROUP BY qid, tok),
      |ql AS (SELECT qid, count(*) AS qlen FROM q1 GROUP BY qid),
      |m AS (SELECT qt.qid, tf.doc_id,
      |    sum(qt.qtf * ln(1.0 + (CAST(tf.tf AS DOUBLE) * st.c)
      |      / (2000.0 * cf.cf))) AS s
      |  FROM qt JOIN tf ON qt.tok = tf.tok JOIN cf ON qt.tok = cf.tok
      |  CROSS JOIN st
      |  GROUP BY qt.qid, tf.doc_id),
      |scored AS (SELECT m.qid, m.doc_id,
      |    round(m.s + ql.qlen * ln(2000.0 / (dl.dl + 2000.0)), 6) AS score
      |  FROM m JOIN dl ON m.doc_id = dl.doc_id JOIN ql ON m.qid = ql.qid),
      |r AS (SELECT qid, doc_id, score, row_number() OVER (
      |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk FROM scored)
      |SELECT qid, doc_id, score, CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  // top-1 via the bm25 chain, then the all-integer window election
  // (positions assigned BEFORE the empty-token filter on both sides).
  // Shared by q_bm25_snippets (direct) and q_bm25_snippets_indexed (the
  // positional-index lane — same positions, same election, by
  // construction).
  private val bm25SnippetsOracleSql: String =
    """WITH d AS (SELECT doc_id, text FROM documents),
      |t0 AS (SELECT doc_id,
      |    unnest(string_split(text, ' ')) AS tok,
      |    CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT)
      |      AS pos FROM d),
      |t AS (SELECT * FROM t0 WHERE tok <> ''),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
      |st AS (SELECT (SELECT count(*) FROM d) AS n,
      |    (SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
      |      / (SELECT count(*) FROM d) AS avgdl),
      |q AS (SELECT doc_id AS qid,
      |    unnest(list_distinct(string_split(text, ' '))) AS tok
      |  FROM d WHERE doc_id < 5),
      |qq AS (SELECT * FROM q WHERE tok <> ''),
      |scored AS (SELECT qq.qid, tf.doc_id,
      |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
      |      * (tf.tf * 2.2)
      |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
      |  FROM qq JOIN tf ON qq.tok = tf.tok JOIN df ON qq.tok = df.tok
      |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
      |  GROUP BY qq.qid, tf.doc_id),
      |top1 AS (SELECT qid, doc_id FROM (SELECT qid, doc_id, row_number()
      |    OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
      |  FROM scored) WHERE rnk = 1),
      |m AS (SELECT top1.qid, t.doc_id, t.pos
      |  FROM top1 JOIN t ON t.doc_id = top1.doc_id
      |  JOIN qq ON qq.qid = top1.qid AND qq.tok = t.tok),
      |wins AS (SELECT a.qid, a.doc_id, a.pos AS snip_start,
      |    CAST(count(*) AS BIGINT) AS n_hits
      |  FROM m a JOIN m b ON b.qid = a.qid AND b.doc_id = a.doc_id
      |    AND b.pos >= a.pos AND b.pos < a.pos + 8
      |  GROUP BY a.qid, a.doc_id, a.pos)
      |SELECT qid, doc_id, snip_start, n_hits FROM (SELECT *, row_number()
      |    OVER (PARTITION BY qid, doc_id
      |      ORDER BY n_hits DESC, snip_start) AS rn
      |  FROM wins) WHERE rn = 1 ORDER BY qid""".stripMargin

  // the PRF loop end-to-end: bm25TopkOracleSql's scoring body twice,
  // with the integer (ftf desc, tok asc) expansion election between
  private val bm25PrfOracleSql: String =
    """WITH d AS (SELECT doc_id, text FROM documents),
      |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d),
      |t AS (SELECT * FROM toks WHERE tok <> ''),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
      |st AS (SELECT (SELECT count(*) FROM d) AS n,
      |    (SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
      |      / (SELECT count(*) FROM d) AS avgdl),
      |q0 AS (SELECT doc_id AS qid,
      |    unnest(list_distinct(string_split(text, ' '))) AS tok
      |  FROM d WHERE doc_id < 5),
      |qq0 AS (SELECT * FROM q0 WHERE tok <> ''),
      |s0 AS (SELECT qq0.qid, tf.doc_id,
      |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
      |      * (tf.tf * 2.2)
      |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
      |  FROM qq0 JOIN tf ON qq0.tok = tf.tok JOIN df ON qq0.tok = df.tok
      |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
      |  GROUP BY qq0.qid, tf.doc_id),
      |fb AS (SELECT qid, doc_id FROM (SELECT qid, doc_id, row_number()
      |    OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
      |  FROM s0) WHERE rnk <= 3),
      |ftf AS (SELECT fb.qid, t.tok, CAST(count(*) AS BIGINT) AS ftf
      |  FROM fb JOIN t ON t.doc_id = fb.doc_id GROUP BY fb.qid, t.tok),
      |exp AS (SELECT qid, tok FROM (SELECT f.qid, f.tok, row_number()
      |    OVER (PARTITION BY f.qid ORDER BY f.ftf DESC, f.tok) AS rn
      |  FROM ftf f ANTI JOIN qq0 ON qq0.qid = f.qid AND qq0.tok = f.tok)
      |  WHERE rn <= 2),
      |qq1 AS (SELECT DISTINCT qid, tok FROM
      |  (SELECT qid, tok FROM qq0 UNION ALL SELECT qid, tok FROM exp)),
      |s1 AS (SELECT qq1.qid, tf.doc_id,
      |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
      |      * (tf.tf * 2.2)
      |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
      |  FROM qq1 JOIN tf ON qq1.tok = tf.tok JOIN df ON qq1.tok = df.tok
      |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
      |  GROUP BY qq1.qid, tf.doc_id),
      |r AS (SELECT qid, doc_id, score, row_number() OVER (
      |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk FROM s1)
      |SELECT qid, doc_id, score, CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  /** SemDeDup brute-force recomputation, shared VERBATIM by the
    * emb_semdedup (batch) and emb_semdedup_stream (ordered-replay
    * first-decision table ≡ batch) gate queries.
    */
  // shared by q_mv_incremental and its streaming twin q_mv_stream: final
  // v2 state closed-form from the timeTravelTable change recipe (%21=1
  // takes the v2 update, which overwrites v1's +1000; %7=2 deleted;
  // %7=3 cloned as inserts), aggregated per k%16 bucket
  private val mvOracleSql: String =
    """WITH base AS (SELECT o_orderkey AS k,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |final AS (
      |  SELECT k, CASE WHEN k % 21 = 1 THEN cents + 6000
      |      WHEN k % 7 = 1 THEN cents + 1000 ELSE cents END AS cents
      |    FROM base WHERE k % 7 <> 2
      |  UNION ALL
      |  SELECT k + 100000000, 4242 FROM base WHERE k % 7 = 3)
      |SELECT k % 16 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM final GROUP BY 1 ORDER BY bucket""".stripMargin

  private val semDedupOracleSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |v AS (SELECT vec_id + 100000 AS vec_id,
      |    list_concat([emb[1] + 0.05], emb[2:64]) AS emb FROM e WHERE vec_id < 20),
      |a AS (SELECT * FROM e UNION ALL SELECT * FROM v),
      |cents AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id % 50 = 0),
      |asg AS (SELECT vec_id, emb, cell FROM (
      |    SELECT x.vec_id, x.emb, c.cent_id AS cell,
      |      row_number() OVER (PARTITION BY x.vec_id
      |        ORDER BY list_dot_product(x.emb, c.cemb)
      |          / (sqrt(list_dot_product(x.emb, x.emb))
      |             * sqrt(list_dot_product(c.cemb, c.cemb))) DESC,
      |        c.cent_id) AS rn
      |    FROM a x, cents c) WHERE rn = 1),
      |pairs AS (SELECT y.vec_id, x.vec_id AS o_id,
      |    list_dot_product(x.emb, y.emb)
      |      / (sqrt(list_dot_product(x.emb, x.emb))
      |         * sqrt(list_dot_product(y.emb, y.emb))) AS sim
      |  FROM asg x, asg y WHERE x.cell = y.cell AND x.vec_id < y.vec_id),
      |d AS (SELECT vec_id, min(o_id) AS dup_of,
      |    round(arg_min(sim, o_id), 6) AS sim
      |  FROM pairs WHERE sim >= 0.95 GROUP BY vec_id)
      |SELECT g.vec_id, g.cell, d.dup_of, d.sim
      |FROM asg g LEFT JOIN d ON g.vec_id = d.vec_id
      |ORDER BY g.vec_id""".stripMargin

  // cell assignment replayed like semDedupOracleSql (first-max ≡
  // ORDER BY csim DESC, cent_id), then exact integer cohesion sums
  private val clusterStatsOracleSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings),
      |cents AS (SELECT vec_id AS cent_id, emb AS cemb FROM e
      |  WHERE vec_id % 50 = 0),
      |asg AS (SELECT vec_id, cell, csim FROM (
      |    SELECT x.vec_id, c.cent_id AS cell,
      |      list_dot_product(x.emb, c.cemb)
      |        / (sqrt(list_dot_product(x.emb, x.emb))
      |           * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim,
      |      row_number() OVER (PARTITION BY x.vec_id
      |        ORDER BY list_dot_product(x.emb, c.cemb)
      |          / (sqrt(list_dot_product(x.emb, x.emb))
      |             * sqrt(list_dot_product(c.cemb, c.cemb))) DESC,
      |        c.cent_id) AS rn
      |    FROM e x, cents c) WHERE rn = 1)
      |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
      |  CAST(sum(CAST(floor(csim * 1000000) AS BIGINT)) AS BIGINT)
      |    AS cohesion_fp,
      |  min(csim) AS min_csim
      |FROM asg GROUP BY cell ORDER BY cell""".stripMargin

  /** Exponentially time-decayed popularity, shared VERBATIM by the batch
    * q_decay_popularity and streaming q_decay_popularity_stream (trailing
    * per-day count state, final global horizon cut) gate queries.
    * CAST(ts AS DATE) on the NTZ micros lane ≡ Spark to_date under the
    * UTC session; 2^(30−age) via BIGINT shift, no float pow. */
  private val decayPopularityOracleSql: String =
    """WITH e AS (SELECT CAST(ts AS DATE) AS d, event_type FROM events),
      |m AS (SELECT max(d) AS maxd FROM e),
      |x AS (SELECT event_type,
      |    date_diff('day', d, maxd) AS age FROM e, m
      |  WHERE date_diff('day', d, maxd) <= 30)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(1 AS BIGINT) << CAST(30 - age AS INTEGER))
      |    AS BIGINT) AS decay_score
      |FROM x GROUP BY event_type
      |ORDER BY decay_score DESC, event_type""".stripMargin

  /** Per-doc n-gram novelty recomputation, shared VERBATIM by the batch
    * text_ngram_novelty and streaming text_novelty_stream (ordered-replay
    * first-arrival attribution ≡ global min doc_id) gate queries. Same
    * 60-bit md5-prefix gram hashes; DuckDB list indexing is 1-based and
    * unnest(range(...)) is the scalar-list lateral workaround.
    */
  private val ngramNoveltyOracleSql: String =
    """WITH d AS (SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents),
      |ix AS (SELECT doc_id, w,
      |    unnest(range(0, len(w) - 2)) AS i
      |  FROM d WHERE len(w) >= 3),
      |g AS (SELECT DISTINCT doc_id,
      |    CAST(('0x' || substring(
      |      md5(w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]), 1, 15))
      |      AS BIGINT) AS gh
      |  FROM ix),
      |f AS (SELECT gh, min(doc_id) AS first_doc FROM g GROUP BY gh),
      |n AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |    CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_novel
      |  FROM g JOIN f USING (gh) GROUP BY g.doc_id)
      |SELECT doc_id, n_grams, n_novel,
      |  (10000 * n_novel) // n_grams AS novelty_bp
      |FROM n ORDER BY doc_id""".stripMargin

  def oracleSql: Map[String, String] =
    distinctToMap("oracleSql", oracleSqlSeq ++ pcaOracle ++
      whitenOracle ++ bpeOracle)

  private def oracleSqlSeq: Seq[(String, String)] = Seq(

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(l_extendedprice) AS sum_base_price,
        |  sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
        |  avg(l_quantity) AS avg_qty,
        |  avg(l_discount) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // streaming count-fold == the batch grid exactly — oracle verbatim
    "pipe_psi_drift_stream" -> psiDriftOracleSql,

    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND o_orderkey = l_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM region, nation, customer, orders, lineitem, supplier
        |WHERE r_name = 'ASIA' AND r_regionkey = n_regionkey
        |  AND n_nationkey = c_nationkey AND c_custkey = o_custkey
        |  AND o_orderkey = l_orderkey AND l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    "q_pareto_front" ->
      // skyline membership is comparison-only on the raw doubles; the
      // running min walks the distinct-size table exactly as Spark does
      """WITH s AS (SELECT p_size, min(p_retailprice) AS mn
        |  FROM part GROUP BY p_size),
        |r AS (SELECT p_size, mn, min(mn) OVER (ORDER BY p_size DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mn_gt
        |  FROM s)
        |SELECT p.p_partkey, p.p_size, p.p_retailprice
        |FROM part p JOIN r USING (p_size)
        |WHERE p.p_retailprice = r.mn
        |  AND (r.mn_gt IS NULL OR r.mn_gt > p.p_retailprice)
        |ORDER BY p_size DESC, p_partkey""".stripMargin,

    "q_window_top_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3
        |ORDER BY o_custkey, rnk""".stripMargin,

    "q_rollup_lineitem" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_intersect_custkeys" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,

    "q_anti_no_big_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin,

    "q_semi_open_orders" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,

    "q_scalar_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  upper(substr(o_orderpriority, 1, 3)) AS pri,
        |  CASE WHEN o_orderstatus = 'F' THEN 'done' ELSE 'open' END AS status_class,
        |  CAST(floor(o_totalprice) AS BIGINT) AS price_floor
        |FROM orders
        |WHERE o_orderpriority LIKE '%URGENT'
        |  AND o_totalprice BETWEEN 1000 AND 200000
        |ORDER BY o_orderkey""".stripMargin,

    "q_in_between" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag IN ('A', 'R')
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin,

    "q_outer_join_nations" ->
      """WITH c AS (SELECT c_nationkey, count(*) AS n_cust FROM customer
        |           GROUP BY c_nationkey),
        |s AS (SELECT s_nationkey, count(*) AS n_supp FROM supplier
        |      GROUP BY s_nationkey)
        |SELECT coalesce(c_nationkey, s_nationkey) AS nk,
        |  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
        |ORDER BY nk""".stripMargin,

    "q_left_join_regions" ->
      """SELECT n_name, count(s_suppkey) AS n_supp
        |FROM nation LEFT JOIN supplier
        |  ON n_nationkey = s_nationkey AND s_acctbal > 0
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_asof_last_purchase" ->
      """WITH l AS (SELECT event_id, user_id, ts, value FROM events
        |           WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, max(value) AS pv FROM events
        |      WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id, l.ts, l.value, r.pv AS last_purchase
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
        |ORDER BY l.event_id""".stripMargin,

    "q_asof_tolerance" ->
      // ASOF LEFT JOIN exposes the matched right ts; the staleness bound
      // applies on floored epoch seconds (≡ Spark unix_timestamp)
      """WITH l AS (SELECT event_id, user_id, ts, value FROM events
        |           WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, max(value) AS pv FROM events
        |      WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id, l.ts, l.value,
        |  CASE WHEN r.ts IS NOT NULL
        |    AND CAST(floor(epoch(l.ts)) AS BIGINT)
        |      - CAST(floor(epoch(r.ts)) AS BIGINT) <= 3600
        |    THEN r.pv END AS recent_purchase
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
        |ORDER BY l.event_id""".stripMargin,

    "q_asof_nearest" ->
      // two ASOF joins (DuckDB supports both inequality directions);
      // nearer wins on floored-epoch distance, ties backward
      """WITH l AS (SELECT event_id, user_id, ts, value FROM events
        |           WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, max(value) AS pv FROM events
        |      WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |b AS (SELECT l.event_id, l.user_id, l.ts, l.value,
        |    r.ts AS bt, r.pv AS bv
        |  FROM l ASOF LEFT JOIN r
        |    ON l.user_id = r.user_id AND r.ts <= l.ts),
        |f AS (SELECT l.event_id, r.ts AS ft, r.pv AS fv
        |  FROM l ASOF LEFT JOIN r
        |    ON l.user_id = r.user_id AND r.ts >= l.ts)
        |SELECT b.event_id, b.user_id, b.ts, b.value,
        |  CASE WHEN bt IS NULL THEN fv
        |       WHEN ft IS NULL THEN bv
        |       WHEN CAST(floor(epoch(b.ts)) AS BIGINT)
        |           - CAST(floor(epoch(bt)) AS BIGINT)
        |         <= CAST(floor(epoch(ft)) AS BIGINT)
        |           - CAST(floor(epoch(b.ts)) AS BIGINT) THEN bv
        |       ELSE fv END AS nearest_purchase
        |FROM b JOIN f ON b.event_id = f.event_id
        |ORDER BY b.event_id""".stripMargin,

    "q_distinct_counts" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_pivot_user_type" ->
      """PIVOT (SELECT user_id, event_type, value FROM events)
        |ON event_type USING avg(value) GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q_token_freq" ->
      """SELECT tok, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin,

    "q_json_props" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  avg(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS avg_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_window_frames" ->
      """SELECT user_id, event_id,
        |  lag(value) OVER w AS prev_v,
        |  lead(value) OVER w AS next_v,
        |  min(value) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS frame_min,
        |  count(*) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS frame_n,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY value DESC, event_id) AS BIGINT) AS val_rank
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    "q_benford_digits" ->
      // leading digit from the BIGINT floor (never decimal formatting);
      // shares and deviations in exact integer basis points, Benford
      // expectation as shared literals summing to 10000
      """WITH d AS (SELECT substring(
        |    CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
        |      AS digit
        |  FROM orders WHERE o_totalprice >= 1.0),
        |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
        |  FROM d GROUP BY digit),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g),
        |b AS (SELECT digit, n, (10000 * n) // total AS share_bp,
        |    CAST(CASE digit WHEN '1' THEN 3010 WHEN '2' THEN 1761
        |      WHEN '3' THEN 1249 WHEN '4' THEN 969 WHEN '5' THEN 792
        |      WHEN '6' THEN 669 WHEN '7' THEN 580 WHEN '8' THEN 512
        |      WHEN '9' THEN 458 END AS BIGINT) AS benford_bp
        |  FROM g, t)
        |SELECT digit, n, share_bp, benford_bp,
        |  share_bp - benford_bp AS dev_bp
        |FROM b ORDER BY digit""".stripMargin,

    "q_cube_orders" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  sum(o_totalprice) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q_sql_quarter_topn" ->
      """WITH r AS (
        |  SELECT n.n_name AS nation,
        |         CAST(date_trunc('quarter', o.o_orderdate) AS DATE) AS qtr,
        |         sum(o.o_totalprice) AS revenue
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY 1, 2)
        |SELECT nation, qtr, revenue, rnk FROM (
        |  SELECT nation, qtr, revenue,
        |         rank() OVER (PARTITION BY qtr
        |                      ORDER BY revenue DESC, nation) AS rnk
        |  FROM r) t
        |WHERE rnk <= 3
        |ORDER BY qtr, rnk, nation""".stripMargin,

    "q_union_distinct" ->
      """SELECT c_nationkey AS nk FROM customer
        |UNION
        |SELECT s_nationkey AS nk FROM supplier
        |ORDER BY nk""".stripMargin,

    "q_corr_regr" ->
      """SELECT l_returnflag,
        |  corr(l_quantity, l_extendedprice) AS corr_qp,
        |  covar_pop(l_quantity, l_extendedprice) AS covar_p,
        |  covar_samp(l_quantity, l_extendedprice) AS covar_s,
        |  regr_slope(l_extendedprice, l_quantity) AS slope,
        |  regr_intercept(l_extendedprice, l_quantity) AS icept
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_decimal_money" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1::DECIMAL(3,2) - CAST(l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT)) AS BIGINT) AS sum_disc_price_x10000,
        |  count(*) AS n,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS DOUBLE) / 100 / count(*) AS avg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_filter" ->
      """SELECT l_linestatus,
        |  count(*) AS n_all,
        |  count(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
        |  sum(l_extendedprice) FILTER (WHERE l_quantity > 25) AS sum_big,
        |  min(l_shipdate) FILTER (WHERE l_returnflag = 'R') AS first_ret
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q_snowflake_volume" ->
      """SELECT CAST(year(o.o_orderdate) AS INT) AS yr, sn.n_name AS supp_nation,
        |  sum(l.l_extendedprice * (1 - l.l_discount)) AS volume,
        |  count(*) AS n_items
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = 'AMERICA'
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |GROUP BY yr, supp_nation ORDER BY yr, supp_nation""".stripMargin,

    "q_tfidf_top_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |t AS (SELECT * FROM toks WHERE tok <> ''),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        |tf AS (SELECT lang, tok, count(*) AS tf FROM t GROUP BY lang, tok),
        |scored AS (
        |  SELECT tf.lang, tf.tok, tf.tf, df.df,
        |    tf.tf * ((SELECT CAST(count(*) AS DOUBLE) FROM documents) / df.df) AS score
        |  FROM tf JOIN df ON tf.tok = df.tok),
        |ranked AS (
        |  SELECT lang, tok, tf, df, score,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY score DESC, tok) AS INT) AS rnk
        |  FROM scored)
        |SELECT lang, rnk, tok, tf, df, score
        |FROM ranked WHERE rnk <= 5 ORDER BY lang, rnk""".stripMargin,

    "q_bool_bit_aggs" ->
      """SELECT l_linestatus,
        |  bool_and(l_discount <= 0.1) AS all_small_disc,
        |  bool_or(l_quantity > 45) AS any_big_qty,
        |  bit_and(l_linenumber) AS ln_and,
        |  bit_or(l_linenumber) AS ln_or,
        |  bit_xor(l_linenumber) AS ln_xor
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q_union_all_balances" ->
      """SELECT side, count(*) AS n, min(bal) AS min_bal, max(bal) AS max_bal
        |FROM (SELECT 'cust' AS side, c_acctbal AS bal FROM customer
        |      UNION ALL SELECT 'supp', s_acctbal FROM supplier)
        |GROUP BY side ORDER BY side""".stripMargin,

    "q_string_funcs" ->
      """SELECT p_partkey, lower(p_name) AS name_lc,
        |  replace(p_type, ' ', '_') AS type_us,
        |  lpad(CAST(p_size AS VARCHAR), 5, '0') AS size_pad,
        |  regexp_extract(p_brand, 'Brand#(\d+)', 1) AS brand_num
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_array_agg_suppliers" ->
      """SELECT n_name, string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
        |  count(*) AS n
        |FROM supplier, nation WHERE s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_monthly_revenue" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
        |  count(*) AS n_orders, sum(o_totalprice) AS revenue
        |FROM orders GROUP BY 1 ORDER BY m""".stripMargin,

    "q_mom_growth" ->
      // same sign-split division: non-negative numerator, sign after
      """WITH m AS (SELECT CAST(date_trunc('month', o_orderdate)
        |      AS TIMESTAMP) AS m,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |l AS (SELECT m, cents,
        |    lag(cents) OVER (ORDER BY m) AS prev_cents FROM m)
        |SELECT m, cents, prev_cents,
        |  CASE WHEN prev_cents IS NOT NULL THEN
        |    ((10000 * abs(cents - prev_cents)) // prev_cents) *
        |    (CASE WHEN cents >= prev_cents THEN 1 ELSE -1 END) END
        |    AS growth_bp
        |FROM l ORDER BY m""".stripMargin,

    "q_gini_revenue" ->
      // exact integer Gini: ascending row_number rank (tie blocks are
      // permutation-invariant), BIGINT casts off DuckDB's HUGEINT sums,
      // floor division on a provably non-negative numerator
      """WITH cust AS (SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |x AS (SELECT c_mktsegment AS seg, cents, o_custkey
        |  FROM cust JOIN customer ON o_custkey = c_custkey),
        |r AS (SELECT seg, cents, CAST(row_number() OVER (
        |    PARTITION BY seg ORDER BY cents, o_custkey) AS BIGINT) AS i
        |  FROM x),
        |g AS (SELECT seg, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS total_cents,
        |    CAST(sum(i * cents) AS BIGINT) AS wsum
        |  FROM r GROUP BY seg)
        |SELECT seg, n, total_cents, wsum,
        |  (10000 * (2 * wsum - (n + 1) * total_cents))
        |    // (n * total_cents) AS gini_bp
        |FROM g ORDER BY seg""".stripMargin,

    "text_token_gini" ->
      // same exact rational ppm lane; BIGINT casts off HUGEINT sums
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM t GROUP BY 1, 2),
        |g AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
        |    CAST(count(*) AS BIGINT) AS n_distinct,
        |    CAST(sum(c * c) AS BIGINT) AS sq
        |  FROM c GROUP BY 1)
        |SELECT doc_id, n_toks, n_distinct,
        |  (1000000 * (n_toks * n_toks - sq)) // (n_toks * n_toks)
        |    AS gini_ppm
        |FROM g ORDER BY doc_id""".stripMargin,

    "pipe_psi_drift" -> psiDriftOracleSql,

    "pipe_mi_features" ->
      // same integer count cells; the MI double mirrors term-for-term
      // and round(6) + the bucket tiebreak absorb the summation-order
      // ulps (the float-rank rule)
      """WITH d AS (SELECT doc_id, source, text FROM documents),
        |db AS (SELECT DISTINCT doc_id, source,
        |    ('0x' || substring(md5(tok), 1, 15))::BIGINT % 64 AS bucket
        |  FROM (SELECT doc_id, source,
        |        unnest(string_split(text, ' ')) AS tok FROM d)
        |  WHERE tok <> ''),
        |nbs AS (SELECT bucket, source, CAST(count(*) AS BIGINT) AS n_bs
        |  FROM db GROUP BY 1, 2),
        |nb AS (SELECT bucket,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_b
        |  FROM db GROUP BY 1),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
        |  FROM d GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |grid AS (SELECT nb.bucket, ns.source, nb.n_b, ns.n_s,
        |    coalesce(nbs.n_bs, 0) AS n_bs, nn.n
        |  FROM nb CROSS JOIN ns CROSS JOIN nn
        |  LEFT JOIN nbs ON nbs.bucket = nb.bucket
        |    AND nbs.source = ns.source),
        |mi AS (SELECT bucket, max(n_b) AS n_docs_with, round(sum(
        |    CASE WHEN n_bs > 0 THEN (CAST(n_bs AS DOUBLE) / n)
        |      * ln(CAST(n_bs AS DOUBLE) * n
        |           / (CAST(n_b AS DOUBLE) * n_s)) ELSE 0.0 END
        |    + CASE WHEN n_s - n_bs > 0 THEN
        |        (CAST(n_s - n_bs AS DOUBLE) / n)
        |        * ln(CAST(n_s - n_bs AS DOUBLE) * n
        |             / (CAST(n - n_b AS DOUBLE) * n_s)) ELSE 0.0 END), 6)
        |    AS mi_nats
        |  FROM grid GROUP BY bucket),
        |r AS (SELECT bucket, n_docs_with, mi_nats, row_number() OVER (
        |    ORDER BY mi_nats DESC, bucket) AS rn FROM mi)
        |SELECT bucket, n_docs_with, mi_nats FROM r WHERE rn <= 10
        |ORDER BY mi_nats DESC, bucket""".stripMargin,

    "text_zipf_fit" ->
      // same integer counts/ranks; the OLS double mirrors term-for-term,
      // + 0.0 canonicalizes a rounded signed zero as on the Spark side
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM t
        |  WHERE tok <> '' GROUP BY tok),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r
        |  FROM c),
        |p AS (SELECT ln(CAST(r AS DOUBLE)) AS x,
        |    ln(CAST(c AS DOUBLE)) AS y FROM r WHERE r <= 1000),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx FROM p)
        |SELECT n AS n_tokens,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
        |    + CAST(0 AS DOUBLE) AS zipf_slope,
        |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
        |    / n, 4) + CAST(0 AS DOUBLE) AS intercept
        |FROM g""".stripMargin,

    "text_heaps_fit" ->
      // same exact-integer checkpoints; ln + OLS mirrors term-for-term,
      // + 0.0 canonicalizes a rounded signed zero as on the Spark side
      """WITH d AS (SELECT doc_id, text FROM documents),
        |t0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM d),
        |t AS (SELECT * FROM t0 WHERE tok <> ''),
        |md AS (SELECT tok, min(doc_id) AS m FROM t GROUP BY tok),
        |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS c FROM t
        |  GROUP BY doc_id),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM d),
        |cuts AS (SELECT (nd * j) // 10 AS cut
        |  FROM nn, (SELECT unnest(range(1, 11)) AS j)),
        |v AS (SELECT cut, CAST(count(*) AS BIGINT) AS v FROM cuts
        |  JOIN md ON md.m < cuts.cut GROUP BY cut),
        |nj AS (SELECT cut, CAST(sum(c) AS BIGINT) AS nmass FROM cuts
        |  JOIN pd ON pd.doc_id < cuts.cut GROUP BY cut),
        |p AS (SELECT ln(CAST(nmass AS DOUBLE)) AS x,
        |    ln(CAST(v AS DOUBLE)) AS y FROM nj JOIN v USING (cut)),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS np, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx FROM p)
        |SELECT np AS n_points,
        |  round((np * sxy - sx * sy) / (np * sxx - sx * sx), 4)
        |    + CAST(0 AS DOUBLE) AS heaps_beta,
        |  round((sy - ((np * sxy - sx * sy) / (np * sxx - sx * sx)) * sx)
        |    / np, 4) + CAST(0 AS DOUBLE) AS intercept
        |FROM g""".stripMargin,

    "text_hash_features" ->
      // same 15-hex md5 → BIGINT bucket lane as the dedup hashes
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 200),
        |b AS (SELECT doc_id,
        |    ('0x' || substring(md5(tok), 1, 15))::BIGINT % 64 AS bucket
        |  FROM t WHERE tok <> '')
        |SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
        |FROM b GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin,

    "text_entropy" ->
      // same count CTEs; the one float step mirrors term-for-term and
      // round(4) absorbs libm/summation-order ulps
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM t GROUP BY 1, 2),
        |g AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
        |    CAST(count(*) AS BIGINT) AS n_distinct,
        |    sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS sclc
        |  FROM c GROUP BY 1)
        |SELECT doc_id, n_toks, n_distinct,
        |  round((ln(CAST(n_toks AS DOUBLE)) - sclc / CAST(n_toks AS DOUBLE))
        |    / ln(CAST(2 AS DOUBLE)), 4) AS ent_bits
        |FROM g ORDER BY doc_id""".stripMargin,

    "q_phrase_search" -> phraseOracleSql,
    // positional-postings conjunction == the direct adjacency count
    "q_phrase_search_indexed" -> phraseOracleSql,

    "ds_moving_median" ->
      // DuckDB median() over the identical centered frame: element for
      // odd windows, integer midpoint for even (edge) windows — the one
      // ulp-safe interpolated quantile
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY event_type, CAST(ts AS DATE))
        |SELECT event_type, d, c,
        |  CAST(count(*) OVER w AS BIGINT) AS n,
        |  CAST(median(c) OVER w AS DOUBLE) AS med
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY d
        |  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |ORDER BY event_type, d""".stripMargin,

    "ds_trend_ols" ->
      // same centered integer sufficient statistics; round(v*1000) is
      // away-from-zero on both engines for the non-negative value lane
      """WITH e AS (SELECT event_type, user_id % 10 AS cohort,
        |    CAST(ts AS DATE) AS d,
        |    CAST(round(value * 1000) AS BIGINT) AS mv FROM events),
        |m AS (SELECT event_type, cohort, min(d) AS d0
        |  FROM e GROUP BY 1, 2),
        |x AS (SELECT e.event_type, e.cohort,
        |    date_diff('day', d0, d) AS t, mv
        |  FROM e JOIN m USING (event_type, cohort)),
        |g AS (SELECT event_type, cohort, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(t) AS BIGINT) AS st, CAST(sum(mv) AS BIGINT) AS sv,
        |    CAST(sum(t * mv) AS BIGINT) AS stv,
        |    CAST(sum(t * t) AS BIGINT) AS stt
        |  FROM x GROUP BY 1, 2)
        |SELECT event_type, cohort, n,
        |  n * stv - st * sv AS num, n * stt - st * st AS den,
        |  CASE WHEN n * stt - st * st > 0 THEN
        |    (abs(n * stv - st * sv) // (n * stt - st * st)) *
        |    (CASE WHEN n * stv - st * sv >= 0 THEN 1 ELSE -1 END) END
        |    AS slope_mpd
        |FROM g ORDER BY event_type, cohort""".stripMargin,

    "ds_theil_sen" ->
      // daily BIGINT sums collapse the corpus first (pairs are then
      // quadratic in the date range only); each slope is one IEEE
      // division of two BIGINTs — bit-identical cross-engine — and the
      // median is the discrete element at rank (n+1)//2 under
      // (slope, d1, d2) order
      """WITH e AS (SELECT event_type, user_id % 10 AS cohort,
        |    CAST(ts AS DATE) AS d,
        |    CAST(round(value * 1000) AS BIGINT) AS mv FROM events),
        |daily AS (SELECT event_type, cohort, d,
        |    CAST(sum(mv) AS BIGINT) AS sv FROM e GROUP BY 1, 2, 3),
        |p AS (SELECT a.event_type, a.cohort, a.d AS d1, b.d AS d2,
        |    CAST(b.sv - a.sv AS DOUBLE)
        |      / CAST(date_diff('day', a.d, b.d) AS DOUBLE) AS slope
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.cohort = b.cohort
        |    AND a.d < b.d),
        |r AS (SELECT event_type, cohort, slope,
        |    row_number() OVER (PARTITION BY event_type, cohort
        |      ORDER BY slope, d1, d2) AS rn,
        |    CAST(count(*) OVER (PARTITION BY event_type, cohort)
        |      AS BIGINT) AS n_pairs
        |  FROM p)
        |SELECT event_type, cohort, n_pairs, slope AS slope_mpd
        |FROM r WHERE rn = (n_pairs + 1) // 2
        |ORDER BY event_type, cohort""".stripMargin,

    "q_seq_patterns" ->
      // same min/max-extent EXISTS collapse; floor-epoch strict <
      """WITH e AS (SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |x AS (SELECT user_id, event_type, min(sec) AS first_sec,
        |    max(sec) AS last_sec FROM e GROUP BY 1, 2)
        |SELECT a.event_type AS t1, b.event_type AS t2,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM x a JOIN x b ON a.user_id = b.user_id
        |WHERE a.first_sec < b.last_sec
        |GROUP BY 1, 2 ORDER BY n_users DESC, t1, t2""".stripMargin,

    "ds_rolling_actives" ->
      // unnest(range()) explode (scalar range returns a list), DATE +
      // INTEGER day arithmetic ≡ Spark date_add
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |  FROM events),
        |days AS (SELECT DISTINCT d FROM ud),
        |x AS (SELECT user_id, d + CAST(o AS INTEGER) AS day
        |  FROM (SELECT user_id, d, unnest(range(0, 7)) AS o FROM ud))
        |SELECT x.day, CAST(count(DISTINCT x.user_id) AS BIGINT) AS n_active
        |FROM x JOIN days ON x.day = days.d
        |GROUP BY 1 ORDER BY day""".stripMargin,

    "q_decay_popularity" -> decayPopularityOracleSql,
    "q_decay_popularity_stream" -> decayPopularityOracleSql,

    "pipe_perceptron" ->
      // pure-integer weight trajectory, unrolled; every round CTE AS
      // MATERIALIZED (the emb_mmr rule); sum(BIGINT) is HUGEINT → cast.
      // Round r reports weights AFTER its update, n_mis under the
      // weights BEFORE it (w = 0 in round 1 ⇒ everything misclassified)
      """WITH f AS MATERIALIZED (SELECT
        |    CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
        |    CAST(1 AS BIGINT) AS x0,
        |    least(n_chars // 100, 10) AS x1,
        |    least(CAST(len(string_split(text, ' ')) AS BIGINT) // 10, 10)
        |      AS x2,
        |    least(CAST(len(string_split(text, '.')) AS BIGINT) - 1, 10)
        |      AS x3
        |  FROM documents),
        |r1 AS MATERIALIZED (SELECT
        |    CAST(sum(y * x0) AS BIGINT) AS w0,
        |    CAST(sum(y * x1) AS BIGINT) AS w1,
        |    CAST(sum(y * x2) AS BIGINT) AS w2,
        |    CAST(sum(y * x3) AS BIGINT) AS w3,
        |    CAST(count(*) AS BIGINT) AS n_mis
        |  FROM f),
        |r2 AS MATERIALIZED (SELECT
        |    r1.w0 + CAST(sum(CASE WHEN y * (r1.w0*x0 + r1.w1*x1 +
        |      r1.w2*x2 + r1.w3*x3) <= 0 THEN y * x0 ELSE 0 END)
        |      AS BIGINT) AS w0,
        |    r1.w1 + CAST(sum(CASE WHEN y * (r1.w0*x0 + r1.w1*x1 +
        |      r1.w2*x2 + r1.w3*x3) <= 0 THEN y * x1 ELSE 0 END)
        |      AS BIGINT) AS w1,
        |    r1.w2 + CAST(sum(CASE WHEN y * (r1.w0*x0 + r1.w1*x1 +
        |      r1.w2*x2 + r1.w3*x3) <= 0 THEN y * x2 ELSE 0 END)
        |      AS BIGINT) AS w2,
        |    r1.w3 + CAST(sum(CASE WHEN y * (r1.w0*x0 + r1.w1*x1 +
        |      r1.w2*x2 + r1.w3*x3) <= 0 THEN y * x3 ELSE 0 END)
        |      AS BIGINT) AS w3,
        |    CAST(sum(CASE WHEN y * (r1.w0*x0 + r1.w1*x1 + r1.w2*x2 +
        |      r1.w3*x3) <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mis
        |  FROM f, r1 GROUP BY r1.w0, r1.w1, r1.w2, r1.w3),
        |r3 AS MATERIALIZED (SELECT
        |    r2.w0 + CAST(sum(CASE WHEN y * (r2.w0*x0 + r2.w1*x1 +
        |      r2.w2*x2 + r2.w3*x3) <= 0 THEN y * x0 ELSE 0 END)
        |      AS BIGINT) AS w0,
        |    r2.w1 + CAST(sum(CASE WHEN y * (r2.w0*x0 + r2.w1*x1 +
        |      r2.w2*x2 + r2.w3*x3) <= 0 THEN y * x1 ELSE 0 END)
        |      AS BIGINT) AS w1,
        |    r2.w2 + CAST(sum(CASE WHEN y * (r2.w0*x0 + r2.w1*x1 +
        |      r2.w2*x2 + r2.w3*x3) <= 0 THEN y * x2 ELSE 0 END)
        |      AS BIGINT) AS w2,
        |    r2.w3 + CAST(sum(CASE WHEN y * (r2.w0*x0 + r2.w1*x1 +
        |      r2.w2*x2 + r2.w3*x3) <= 0 THEN y * x3 ELSE 0 END)
        |      AS BIGINT) AS w3,
        |    CAST(sum(CASE WHEN y * (r2.w0*x0 + r2.w1*x1 + r2.w2*x2 +
        |      r2.w3*x3) <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mis
        |  FROM f, r2 GROUP BY r2.w0, r2.w1, r2.w2, r2.w3)
        |SELECT 1 AS round, w0, w1, w2, w3, n_mis FROM r1
        |UNION ALL SELECT 2, w0, w1, w2, w3, n_mis FROM r2
        |UNION ALL SELECT 3, w0, w1, w2, w3, n_mis FROM r3
        |ORDER BY round""".stripMargin,

    "pipe_class_balance" ->
      """WITH d AS (SELECT doc_id, lang FROM documents),
        |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM d GROUP BY lang),
        |f AS (SELECT lang, (SELECT max(n) FROM c) // n AS factor FROM c)
        |SELECT doc_id, lang, CAST(copy AS BIGINT) AS copy FROM (
        |  SELECT d.doc_id, d.lang,
        |    unnest(range(1, f.factor + 1)) AS copy
        |  FROM d JOIN f USING (lang))
        |ORDER BY doc_id, copy""".stripMargin,

    "q_ts_range_reverse" ->
      """SELECT event_id, ts, value FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |ORDER BY ts DESC, event_id LIMIT 100""".stripMargin,

    "drv_sum" ->
      s"""WITH $srcSql
        |SELECT 'u7_sum' AS stream_id,
        |  CAST(to_timestamp(CAST(floor(epoch(t) / 60) * 60 AS BIGINT)) AS TIMESTAMP) AS t,
        |  sum(v) AS v
        |FROM src WHERE stream_id LIKE '7:%'
        |GROUP BY 2 ORDER BY t""".stripMargin,

    "drv_iqr_outliers" ->
      // identical rank arithmetic ((n+3)//4, (3n+3)//4) and the same
      // doubled-fence expression shape
      s"""WITH $srcSql, $pointSql,
        |c AS (SELECT stream_id, CAST(count(*) AS BIGINT) AS n
        |  FROM pts GROUP BY stream_id),
        |r AS (SELECT p.stream_id, p.v, c.n,
        |    CAST(row_number() OVER (PARTITION BY p.stream_id
        |      ORDER BY p.v, p.t) AS BIGINT) AS rn
        |  FROM pts p JOIN c USING (stream_id)),
        |q AS (SELECT stream_id,
        |    max(CASE WHEN rn = (n + 3) // 4 THEN v END) AS q1,
        |    max(CASE WHEN rn = (3 * n + 3) // 4 THEN v END) AS q3,
        |    max(n) AS n
        |  FROM r GROUP BY stream_id)
        |SELECT p.stream_id, max(q.n) AS n,
        |  CAST(sum(CASE WHEN p.v * 2 > q.q3 * 2 + (q.q3 - q.q1) * 3
        |              OR p.v * 2 < q.q1 * 2 - (q.q3 - q.q1) * 3
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  max(q.q1) AS q1, max(q.q3) AS q3
        |FROM pts p JOIN q USING (stream_id)
        |GROUP BY p.stream_id ORDER BY p.stream_id""".stripMargin,

    "q_next_event_probs" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |t AS (SELECT event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY sec, event_id) AS nxt
        |  FROM e),
        |p AS (SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM t WHERE nxt IS NOT NULL GROUP BY cur, nxt),
        |tot AS (SELECT cur, CAST(sum(n_pairs) AS BIGINT) AS n_total
        |  FROM p GROUP BY cur)
        |SELECT p.cur, p.nxt, p.n_pairs, tot.n_total,
        |  (10000 * p.n_pairs) // tot.n_total AS p_bp
        |FROM p JOIN tot USING (cur) ORDER BY cur, nxt""".stripMargin,

    "drv_mad_outliers" ->
      s"""WITH $srcSql, $pointSql,
        |med AS (SELECT stream_id, quantile_cont(v, 0.5) AS med
        |  FROM pts GROUP BY stream_id),
        |dev AS (SELECT p.stream_id, abs(p.v - m.med) AS adev, m.med
        |  FROM pts p JOIN med m USING (stream_id)),
        |mad AS (SELECT stream_id, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY stream_id)
        |SELECT d.stream_id, count(*) AS n,
        |  CAST(sum(CASE WHEN d.adev > 4.4478 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  max(d.med) AS med, max(m.mad) AS mad
        |FROM dev d JOIN mad m USING (stream_id)
        |GROUP BY d.stream_id ORDER BY d.stream_id""".stripMargin,

    "drv_zscore" ->
      s"""WITH $srcSql, $pointSql,
        |p AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec, v
        |  FROM pts),
        |r AS (SELECT stream_id, sec, v,
        |    count(v) OVER fr AS n,
        |    sum(v) OVER fr / count(v) OVER fr AS m,
        |    sqrt(greatest(sum(v * v) OVER fr / count(v) OVER fr
        |      - (sum(v) OVER fr / count(v) OVER fr)
        |        * (sum(v) OVER fr / count(v) OVER fr), 0)) AS sd
        |  FROM p
        |  WINDOW fr AS (PARTITION BY stream_id ORDER BY sec
        |    ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
        |SELECT stream_id, sec, v, round((v - m) / sd, 6) AS z
        |FROM r WHERE n >= 10 AND sd > 0 AND abs(round((v - m) / sd, 6)) > 3
        |ORDER BY stream_id, sec""".stripMargin,

    "drv_seasonal_baseline" ->
      s"""WITH $srcSql, $pointSql,
        |h AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec, v,
        |    (CAST(floor(epoch(t)) AS BIGINT) % 86400) // 3600 AS hod
        |  FROM pts),
        |prof AS (SELECT stream_id, hod, avg(v) AS b
        |  FROM h GROUP BY stream_id, hod)
        |SELECT h.stream_id, h.sec, h.hod, round(prof.b, 6) AS baseline,
        |  round(h.v - prof.b, 6) AS resid
        |FROM h JOIN prof
        |  ON h.stream_id = prof.stream_id AND h.hod = prof.hod
        |ORDER BY h.stream_id, sec""".stripMargin,

    "ds_autocorr" -> acfOracleSql,

    "ds_stream_acf" -> acfOracleSql,

    "ds_periodicity" ->
      // same fixed-point hourly series; the recurrence replays with the
      // identical decimal-literal coefficient and left-assoc expression
      s"""WITH RECURSIVE $srcSql, $pointSql,
        |h AS (SELECT stream_id,
        |    CAST(floor(epoch(t)) AS BIGINT) // 3600 AS hr,
        |    CAST(sum(CAST(round(v * 1000) AS BIGINT)) AS BIGINT) AS xq
        |  FROM pts GROUP BY 1, 2),
        |p AS (SELECT stream_id, CAST(xq AS DOUBLE) / 1000.0 AS x,
        |    row_number() OVER (PARTITION BY stream_id ORDER BY hr) AS i
        |  FROM h),
        |n AS (SELECT stream_id, count(*) AS nn FROM p GROUP BY 1),
        |g AS (
        |  SELECT stream_id, i, x AS s1, CAST(0 AS DOUBLE) AS s2
        |  FROM p WHERE i = 1
        |  UNION ALL
        |  SELECT q.stream_id, q.i,
        |    q.x + 1.9318516525781366 * g.s1 - g.s2,
        |    g.s1
        |  FROM g JOIN p q ON q.stream_id = g.stream_id AND q.i = g.i + 1),
        |f AS (SELECT g.stream_id, n.nn, g.s1, g.s2
        |  FROM g JOIN n ON n.stream_id = g.stream_id AND g.i = n.nn)
        |SELECT stream_id, CAST(nn AS BIGINT) AS n_points,
        |  CAST(floor(s1 * s1 + s2 * s2 - 1.9318516525781366 * s1 * s2)
        |    AS BIGINT) AS pow24_floor
        |FROM f ORDER BY stream_id""".stripMargin,

    "ds_stream_cusum" ->
      // the ds_cusum closed form with the CONSTANT target the streaming
      // op is handed up front (10000 fp): P = prefix sum of (q − 10000),
      // S⁺ = P − min(0, min P), S⁻ = max(0, max P) − P
      s"""WITH $srcSql, $pointSql,
        |q AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec,
        |    CAST(floor(v * 1000.0) AS BIGINT) AS q FROM pts),
        |p AS (SELECT stream_id, sec,
        |    CAST(sum(q - 10000) OVER w AS BIGINT) AS pp
        |  FROM q WINDOW w AS (PARTITION BY stream_id ORDER BY sec
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s AS (SELECT stream_id, sec,
        |    pp - least(CAST(0 AS BIGINT), min(pp) OVER w) AS s_plus,
        |    greatest(CAST(0 AS BIGINT), max(pp) OVER w) - pp AS s_minus
        |  FROM p WINDOW w AS (PARTITION BY stream_id ORDER BY sec
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT stream_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(max(s_plus) AS BIGINT) AS s_plus_max,
        |  CAST(max(s_minus) AS BIGINT) AS s_minus_max,
        |  min(CASE WHEN s_plus > 5000 OR s_minus > 5000 THEN sec END)
        |    AS first_alarm_sec
        |FROM s GROUP BY stream_id ORDER BY stream_id""".stripMargin,

    "ds_changepoint" ->
      // BIGINT prefix-sum split scan; rank on round(score, 6) with the
      // split position as tiebreak (CLAUDE float-rank rule)
      s"""WITH $srcSql, $pointSql,
        |q AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec,
        |    CAST(floor(v * 1000.0) AS BIGINT) AS q FROM pts),
        |c AS (SELECT stream_id, sec,
        |    CAST(row_number() OVER (PARTITION BY stream_id ORDER BY sec)
        |      AS BIGINT) AS p,
        |    CAST(sum(q) OVER (PARTITION BY stream_id ORDER BY sec
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS s_p,
        |    CAST(count(*) OVER (PARTITION BY stream_id) AS BIGINT) AS n,
        |    CAST(sum(q) OVER (PARTITION BY stream_id) AS BIGINT) AS s_n
        |  FROM q),
        |s AS (SELECT stream_id, sec, p, n,
        |    s_p * (n - p) - (s_n - s_p) * p AS diff_fp,
        |    round(abs(CAST(s_p * (n - p) - (s_n - s_p) * p AS DOUBLE))
        |      / sqrt(CAST(p AS DOUBLE) * CAST(n - p AS DOUBLE)
        |        * CAST(n AS DOUBLE)) / 1000.0, 6) AS score,
        |    round(CAST(s_p AS DOUBLE) / (CAST(p AS DOUBLE) * 1000.0), 6)
        |      AS mean_left,
        |    round(CAST(s_n - s_p AS DOUBLE)
        |      / (CAST(n - p AS DOUBLE) * 1000.0), 6) AS mean_right
        |  FROM c WHERE p < n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY stream_id
        |    ORDER BY score DESC, p) AS rk FROM s)
        |SELECT stream_id, n, p AS split_pos, sec AS split_at, diff_fp,
        |  score, mean_left, mean_right
        |FROM r WHERE rk = 1 ORDER BY stream_id""".stripMargin,

    "drv_seasonal_anomaly" ->
      // integer-div baseline, BIGINT residuals, exact-midpoint MAD
      s"""WITH $srcSql, $pointSql,
        |p AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec,
        |    (CAST(floor(epoch(t)) AS BIGINT) % 86400) // 3600 AS hod,
        |    CAST(floor(v * 1000.0) AS BIGINT) AS q
        |  FROM pts),
        |prof AS (SELECT stream_id, hod,
        |    CAST(sum(q) AS BIGINT) // CAST(count(*) AS BIGINT)
        |      AS baseline_fp
        |  FROM p GROUP BY stream_id, hod),
        |r AS (SELECT p.stream_id, p.sec, p.hod,
        |    p.q - prof.baseline_fp AS residual_fp
        |  FROM p JOIN prof
        |    ON p.stream_id = prof.stream_id AND p.hod = prof.hod),
        |m AS (SELECT stream_id, quantile_cont(abs(residual_fp), 0.5)
        |    AS mad_fp
        |  FROM r GROUP BY stream_id)
        |SELECT r.stream_id, r.sec, r.hod, r.residual_fp, m.mad_fp
        |FROM r JOIN m ON r.stream_id = m.stream_id
        |WHERE CAST(abs(r.residual_fp) AS DOUBLE) > 3.0 * m.mad_fp
        |ORDER BY r.stream_id, r.sec""".stripMargin,

    "q_skew_report" ->
      """WITH h AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY l_suppkey),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM h),
        |r AS (SELECT l_suppkey, cnt, total,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, l_suppkey)
        |      AS BIGINT) AS rnk,
        |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, l_suppkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM h, t)
        |SELECT rnk, l_suppkey, cnt, cnt * 10000 // total AS share_bps,
        |  cum * 10000 // total AS cum_bps
        |FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin,

    "ds_xcorr" ->
      // same quantize-then-sum discipline; Pearson from exact BIGINTs
      """WITH e AS (SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    event_type, CAST(floor(value * 1000.0) AS BIGINT) AS q
        |  FROM events),
        |d AS (SELECT user_id, day,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN q END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN q END)
        |      AS BIGINT) AS b
        |  FROM e GROUP BY user_id, day
        |  HAVING a IS NOT NULL AND b IS NOT NULL),
        |g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(a) AS BIGINT) AS sa_fp,
        |    CAST(sum(b) AS BIGINT) AS sb_fp,
        |    CAST(sum(a * a) AS BIGINT) AS saa_fp,
        |    CAST(sum(b * b) AS BIGINT) AS sbb_fp,
        |    CAST(sum(a * b) AS BIGINT) AS sab_fp
        |  FROM d GROUP BY user_id HAVING count(*) >= 3)
        |SELECT user_id, n_days, sa_fp, sb_fp, sab_fp,
        |  CASE WHEN (CAST(n_days AS DOUBLE) * CAST(saa_fp AS DOUBLE)
        |        - CAST(sa_fp AS DOUBLE) * CAST(sa_fp AS DOUBLE)) > 0
        |    AND (CAST(n_days AS DOUBLE) * CAST(sbb_fp AS DOUBLE)
        |        - CAST(sb_fp AS DOUBLE) * CAST(sb_fp AS DOUBLE)) > 0
        |  THEN round((CAST(n_days AS DOUBLE) * CAST(sab_fp AS DOUBLE)
        |        - CAST(sa_fp AS DOUBLE) * CAST(sb_fp AS DOUBLE))
        |    / sqrt((CAST(n_days AS DOUBLE) * CAST(saa_fp AS DOUBLE)
        |        - CAST(sa_fp AS DOUBLE) * CAST(sa_fp AS DOUBLE))
        |      * (CAST(n_days AS DOUBLE) * CAST(sbb_fp AS DOUBLE)
        |        - CAST(sb_fp AS DOUBLE) * CAST(sb_fp AS DOUBLE))), 6)
        |  END AS xcorr
        |FROM g ORDER BY user_id""".stripMargin,

    "ds_heatmap" ->
      // same epoch-day arithmetic; both operands non-negative so % ≡ %
      """WITH s AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events)
        |SELECT ((sec // 86400) + 4) % 7 AS dow,
        |  (sec % 86400) // 3600 AS hod, CAST(count(*) AS BIGINT) AS n
        |FROM s GROUP BY 1, 2 ORDER BY dow, hod""".stripMargin,

    "ds_burstiness" ->
      // Fano factor of per-minute counts in exact integer bp:
      // 10000·(n·Σc² − (Σc)²) // (n·Σc); the numerator is non-negative
      // (Cauchy-Schwarz), so DuckDB's floor-div ≡ Spark's trunc-div
      """WITH pm AS (SELECT concat(user_id, ':', event_type) AS stream_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 60 AS minute,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT stream_id, CAST(count(*) AS BIGINT) AS n_minutes,
        |    CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS q
        |  FROM pm GROUP BY stream_id HAVING count(*) >= 5)
        |SELECT stream_id, n_minutes, s AS total_events,
        |  (10000 * (n_minutes * q - s * s)) // (n_minutes * s) AS fano_bp,
        |  CAST(CASE WHEN (10000 * (n_minutes * q - s * s))
        |      // (n_minutes * s) > 12000 THEN 1 ELSE 0 END AS BIGINT)
        |    AS bursty
        |FROM g ORDER BY stream_id""".stripMargin,

    "ds_stream_burstiness" ->
      // the streaming snapshot is batch-equivalent by construction, so
      // the oracle is ds_burstiness's SQL verbatim
      """WITH pm AS (SELECT concat(user_id, ':', event_type) AS stream_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 60 AS minute,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT stream_id, CAST(count(*) AS BIGINT) AS n_minutes,
        |    CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS q
        |  FROM pm GROUP BY stream_id HAVING count(*) >= 5)
        |SELECT stream_id, n_minutes, s AS total_events,
        |  (10000 * (n_minutes * q - s * s)) // (n_minutes * s) AS fano_bp,
        |  CAST(CASE WHEN (10000 * (n_minutes * q - s * s))
        |      // (n_minutes * s) > 12000 THEN 1 ELSE 0 END AS BIGINT)
        |    AS bursty
        |FROM g ORDER BY stream_id""".stripMargin,

    "ds_staleness" ->
      // quantile_cont(·, 0.5) ≡ Spark percentile at the exact BIGINT
      // midpoint; 3·med and the > compare are then exact both sides
      s"""WITH $srcSql, $pointSql,
        |q AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec
        |  FROM pts),
        |g AS (SELECT stream_id, sec,
        |    sec - lag(sec) OVER (PARTITION BY stream_id ORDER BY sec)
        |      AS gap
        |  FROM q),
        |a AS (SELECT stream_id, CAST(count(*) AS BIGINT) AS n_points,
        |    max(sec) AS last_sec, quantile_cont(gap, 0.5) AS med_gap
        |  FROM g GROUP BY stream_id),
        |nw AS (SELECT max(sec) AS now_sec FROM q)
        |SELECT stream_id, n_points, last_sec, med_gap,
        |  now_sec - last_sec AS staleness_sec,
        |  (now_sec - last_sec) > 3.0 * med_gap AS stale
        |FROM a, nw ORDER BY stream_id""".stripMargin,

    "ds_cusum" ->
      // same integer closed form: P = prefix sum of (q − target),
      // S⁺ = P − min(0, min P), S⁻ = max(0, max P) − P
      s"""WITH $srcSql, $pointSql,
        |q AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec,
        |    CAST(floor(v * 1000.0) AS BIGINT) AS q FROM pts),
        |tg AS (SELECT stream_id, sec, q,
        |    CAST(sum(q) OVER (PARTITION BY stream_id) AS BIGINT)
        |      // CAST(count(*) OVER (PARTITION BY stream_id) AS BIGINT)
        |      AS target_fp
        |  FROM q),
        |p AS (SELECT stream_id, sec, q, target_fp,
        |    CAST(sum(q - target_fp) OVER w AS BIGINT) AS pp
        |  FROM tg WINDOW w AS (PARTITION BY stream_id ORDER BY sec
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s AS (SELECT stream_id, sec, target_fp,
        |    pp - least(CAST(0 AS BIGINT), min(pp) OVER w) AS s_plus,
        |    greatest(CAST(0 AS BIGINT), max(pp) OVER w) - pp AS s_minus
        |  FROM p WINDOW w AS (PARTITION BY stream_id ORDER BY sec
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT stream_id, CAST(count(*) AS BIGINT) AS n,
        |  min(target_fp) AS target_fp,
        |  CAST(max(s_plus) AS BIGINT) AS s_plus_max,
        |  CAST(max(s_minus) AS BIGINT) AS s_minus_max,
        |  min(CASE WHEN s_plus > 5000 OR s_minus > 5000 THEN sec END)
        |    AS first_alarm_sec
        |FROM s GROUP BY stream_id ORDER BY stream_id""".stripMargin,

    "q_salted_join" ->
      // the salt is a Spark-side physical device; the oracle sees the
      // plain equi-join
      """SELECT s_name, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_cents
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin,

    "ds_profile_similarity" ->
      // same exact fixed-point profiles; list(x ORDER BY hod) mirrors
      // the transform-over-sequence slot order; cosine ranked raw
      s"""WITH $srcSql, $pointSql,
        |p AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec, v
        |  FROM pts
        |  WHERE CAST(string_split(stream_id, ':')[1] AS BIGINT) < 12),
        |h AS (SELECT stream_id, (sec % 86400) // 3600 AS hod,
        |    CAST(sum(CAST(floor(v * 1000000) AS BIGINT)) AS BIGINT) AS sl
        |  FROM p GROUP BY 1, 2),
        |grid AS (SELECT s.stream_id, g.hod
        |  FROM (SELECT DISTINCT stream_id FROM h) s,
        |    (SELECT unnest(range(0, 24)) AS hod) g),
        |f AS (SELECT grid.stream_id, grid.hod,
        |    CAST(coalesce(h.sl, 0) AS DOUBLE) AS x
        |  FROM grid LEFT JOIN h
        |    ON h.stream_id = grid.stream_id AND h.hod = grid.hod),
        |v AS (SELECT stream_id, list(x ORDER BY hod) AS vec
        |  FROM f GROUP BY stream_id),
        |n AS (SELECT stream_id, vec,
        |    sqrt(list_dot_product(vec, vec)) AS nrm FROM v
        |  WHERE sqrt(list_dot_product(vec, vec)) > 0),
        |pr AS (SELECT a.stream_id AS a, b.stream_id AS b,
        |    list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm) AS cos
        |  FROM n a JOIN n b ON a.stream_id <> b.stream_id),
        |r AS (SELECT a, b, cos, CAST(row_number() OVER
        |    (PARTITION BY a ORDER BY cos DESC, b) AS BIGINT) AS rnk
        |  FROM pr)
        |SELECT a, b, rnk, round(cos, 6) AS cos FROM r WHERE rnk <= 3
        |ORDER BY a, rnk""".stripMargin,

    "q_skyline_pareto" ->
      // the bucketed local-prune phase is a Spark-side parallelism
      // device; frontier(frontier(X)) = frontier(X), so the oracle is
      // the direct global two-window skyline
      """WITH p AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
        |    p_retailprice FROM part),
        |w AS (SELECT *,
        |    min(p_retailprice) OVER (ORDER BY p_size
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS min_lt,
        |    min(p_retailprice) OVER (ORDER BY p_size
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS min_le
        |  FROM p)
        |SELECT p_partkey, p_size, p_retailprice FROM w
        |WHERE min_le = p_retailprice
        |  AND (min_lt IS NULL OR min_lt > p_retailprice)
        |ORDER BY p_size, p_retailprice, p_partkey""".stripMargin,

    "q_first_last_window" ->
      """SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
        |  first_value(event_type) OVER fr AS first_type,
        |  last_value(event_type) OVER fr AS last_type,
        |  nth_value(event_type, 2) OVER fr AS second_type
        |FROM events
        |WINDOW fr AS (PARTITION BY user_id, CAST(ts AS DATE)
        |  ORDER BY event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id, day""".stripMargin,

    "drv_twa" ->
      s"""WITH $srcSql, $pointSql,
        |p AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec, v
        |  FROM pts),
        |l AS (SELECT stream_id, sec, v,
        |    lead(sec) OVER (PARTITION BY stream_id ORDER BY sec) AS next_sec
        |  FROM p)
        |SELECT stream_id,
        |  round(sum(v * (next_sec - sec)) / (max(next_sec) - min(sec)), 6)
        |    AS twa,
        |  count(*) AS n_segments
        |FROM l WHERE next_sec IS NOT NULL
        |GROUP BY stream_id ORDER BY stream_id""".stripMargin,

    "drv_ewma" -> ewmaOracleSql,

    "drv_ewma_stream" -> ewmaOracleSql,

    // Holt fold as a RECURSIVE CTE over per-stream row indexes — NOT a
    // struct list_reduce: DuckDB 1.0 aliases a struct accumulator's
    // fields from the second reduction step on (probe: {'a': acc.a+10,
    // 'b': acc.a} over 3+ elements yields a == b), so two-field state
    // must advance through the recursion join instead. All streams
    // advance one index per iteration; the b term recomputes l_t inline
    // exactly as the Spark fold writes it.
    "drv_holt" -> holtOracleSql,

    "drv_holt_stream" -> holtOracleSql,

    "drv_forecast_eval" ->
      // the drv_holt recursion joined ONE STEP AHEAD: row i's state
      // predicts point i+1; errors quantize to BIGINT micro-units
      // before the sums (order-free); single-point streams report zeros
      s"""WITH RECURSIVE $srcSql, $pointSql,
        |p AS (SELECT stream_id, v, row_number() OVER (
        |    PARTITION BY stream_id
        |    ORDER BY CAST(floor(epoch(t)) AS BIGINT)) AS i
        |  FROM pts),
        |hol AS (
        |  SELECT stream_id, i, CAST(v AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
        |  FROM p WHERE i = 1
        |  UNION ALL
        |  SELECT s.stream_id, s.i,
        |    0.3 * s.v + 0.7 * (h.l + h.b),
        |    0.2 * ((0.3 * s.v + 0.7 * (h.l + h.b)) - h.l) + 0.8 * h.b
        |  FROM hol h JOIN p s
        |    ON s.stream_id = h.stream_id AND s.i = h.i + 1),
        |e AS (SELECT s.stream_id, s.v - (h.l + h.b) AS err
        |  FROM hol h JOIN p s
        |    ON s.stream_id = h.stream_id AND s.i = h.i + 1),
        |g AS (SELECT stream_id, CAST(count(*) AS BIGINT) AS n_eval,
        |    CAST(sum(CAST(floor(abs(err) * 1000000.0) AS BIGINT))
        |      AS BIGINT) AS mae_fp,
        |    CAST(sum(CAST(floor(err * 1000000.0) AS BIGINT))
        |      AS BIGINT) AS bias_fp
        |  FROM e GROUP BY stream_id),
        |ss AS (SELECT DISTINCT stream_id FROM p)
        |SELECT ss.stream_id, coalesce(g.n_eval, 0) AS n_eval,
        |  coalesce(g.mae_fp, 0) AS mae_fp,
        |  coalesce(g.bias_fp, 0) AS bias_fp
        |FROM ss LEFT JOIN g ON g.stream_id = ss.stream_id
        |ORDER BY ss.stream_id""".stripMargin,

    "drv_holt_winters" -> holtWintersOracleSql,

    "drv_holt_winters_stream" -> holtWintersOracleSql,

    "ds_agg_hours6" ->
      s"""WITH $srcSql,
        |b AS (SELECT stream_id, CAST(floor(epoch(t) / 21600) * 21600 AS BIGINT) AS be, t, v FROM src)
        |SELECT stream_id, CAST(to_timestamp(be) AS TIMESTAMP) AS t,
        |  count(v) AS c, min(v) AS l, max(v) AS u, min(t) AS t_first
        |FROM b GROUP BY stream_id, be
        |ORDER BY stream_id, be""".stripMargin,

    "ds_freq_hitters" ->
      // exact-mode sketch ≡ plain counts; same (est desc, item) tie-break
      """WITH b AS (SELECT
        |    CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS be,
        |    event_type FROM events),
        |c AS (SELECT be, event_type AS item, CAST(count(*) AS BIGINT) AS est
        |  FROM b GROUP BY be, event_type),
        |r AS (SELECT *, row_number() OVER
        |    (PARTITION BY be ORDER BY est DESC, item) AS rn FROM c)
        |SELECT CAST(to_timestamp(be) AS TIMESTAMP) AS t, item, est
        |FROM r WHERE rn <= 3
        |ORDER BY t, est DESC, item""".stripMargin,

    "ds_theta_overlap" ->
      // exact-mode theta algebra ≡ per-user boolean flags
      """WITH b AS (SELECT
        |    CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS be,
        |    user_id, event_type
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |u AS (SELECT be, user_id,
        |    bool_or(event_type = 'click') AS c,
        |    bool_or(event_type = 'purchase') AS p
        |  FROM b GROUP BY be, user_id)
        |SELECT CAST(to_timestamp(be) AS TIMESTAMP) AS t,
        |  CAST(count(*) FILTER (WHERE c) AS BIGINT) AS n_click,
        |  CAST(count(*) FILTER (WHERE p) AS BIGINT) AS n_purchase,
        |  CAST(count(*) FILTER (WHERE c AND p) AS BIGINT) AS n_both,
        |  CAST(count(*) AS BIGINT) AS n_either
        |FROM u GROUP BY be ORDER BY t""".stripMargin,

    "ds_nominal_count_days" ->
      """WITH nsrc AS (SELECT concat('u', user_id) AS stream_id,
        |    CAST(to_timestamp(CAST(floor(epoch(ts)) AS BIGINT)) AS TIMESTAMP) AS t,
        |    event_type AS vj FROM events),
        |b AS (SELECT stream_id, CAST(floor(epoch(t) / 86400) * 86400 AS BIGINT) AS be, t, vj FROM nsrc)
        |SELECT stream_id, CAST(to_timestamp(be) AS TIMESTAMP) AS t, count(vj) AS c,
        |  min(t) AS t_first, max(t) AS t_last,
        |  CAST(to_timestamp(be + CAST(floor(avg(epoch(t) - be)) AS BIGINT)) AS TIMESTAMP) AS t_mean
        |FROM b GROUP BY stream_id, be
        |ORDER BY stream_id, be""".stripMargin,

    "emb_near_pairs" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |v AS (SELECT vec_id + 100000 AS vec_id,
        |    list_concat([emb[1] + 0.05], emb[2:64]) AS emb FROM e WHERE vec_id < 20),
        |a AS (SELECT * FROM e UNION ALL SELECT * FROM v),
        |p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
        |    list_dot_product(x.emb, y.emb)
        |      / (sqrt(list_dot_product(x.emb, x.emb)) * sqrt(list_dot_product(y.emb, y.emb))) AS sim
        |  FROM a x, a y WHERE x.vec_id < y.vec_id)
        |SELECT id_a, id_b, round(sim, 6) AS sim FROM p WHERE sim > 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    // streaming near-dedup survivors, recomputed batch-style: with
    // id-ordered arrival, first-arrival-wins ≡ "drop every doc_b of a
    // qualifying (doc_a < doc_b) pair" at exact Jaccard >= 0.3 (banding
    // recall is total on the gate corpus — OperatorsSpec pin)
    "dedup_stream_near" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |vars AS (SELECT doc_id + 1000000 AS doc_id,
        |    concat('zz yy ', array_to_string(string_split(text, ' ')[3:], ' ')) AS text
        |  FROM base WHERE doc_id < 20),
        |docs AS (SELECT * FROM base UNION ALL SELECT * FROM vars),
        |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM docs),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(words) - 3, 0) + 2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS s FROM w),
        |dups AS (SELECT DISTINCT b.doc_id
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s))
        |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.3)
        |SELECT d.doc_id FROM docs d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM dups)
        |ORDER BY d.doc_id""".stripMargin,

    // SemDeDup brute-force recomputation: same stride centroids (BASE
    // corpus vec_id % 50 = 0, ids = the sampled vec_ids), argmax-cosine
    // assignment with ties to the lowest centroid id, then keeper =
    // smallest same-cell vec_id within tau. arg_min(sim, o_id) mirrors
    // Spark's min(struct(o_id, sim)).
    "emb_semdedup" -> semDedupOracleSql,

    "emb_cluster_stats" -> clusterStatsOracleSql,

    // the streaming replay's first-decision table ≡ batch SemDeDup under
    // vec_id-ordered arrival — SAME oracle SQL, shared verbatim
    "emb_semdedup_stream" -> semDedupOracleSql,

    // incremental SemDeDup: variants-vs-base with the same centroid/
    // assignment rules as emb_semdedup; batch vector dups iff a same-cell
    // BASE vector is within tau
    "emb_semdedup_incr" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |v AS (SELECT vec_id + 100000 AS vec_id,
        |    list_concat([emb[1] + 0.05], emb[2:64]) AS emb FROM e WHERE vec_id < 20),
        |cents AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id % 50 = 0),
        |asgc AS (SELECT vec_id, emb, cell FROM (
        |    SELECT x.vec_id, x.emb, c.cent_id AS cell,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY list_dot_product(x.emb, c.cemb)
        |          / (sqrt(list_dot_product(x.emb, x.emb))
        |             * sqrt(list_dot_product(c.cemb, c.cemb))) DESC,
        |        c.cent_id) AS rn
        |    FROM e x, cents c) WHERE rn = 1),
        |asgb AS (SELECT vec_id, emb, cell FROM (
        |    SELECT x.vec_id, x.emb, c.cent_id AS cell,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY list_dot_product(x.emb, c.cemb)
        |          / (sqrt(list_dot_product(x.emb, x.emb))
        |             * sqrt(list_dot_product(c.cemb, c.cemb))) DESC,
        |        c.cent_id) AS rn
        |    FROM v x, cents c) WHERE rn = 1),
        |pairs AS (SELECT b.vec_id, o.vec_id AS o_id,
        |    list_dot_product(b.emb, o.emb)
        |      / (sqrt(list_dot_product(b.emb, b.emb))
        |         * sqrt(list_dot_product(o.emb, o.emb))) AS sim
        |  FROM asgb b, asgc o WHERE b.cell = o.cell),
        |d AS (SELECT vec_id, min(o_id) AS dup_of,
        |    round(arg_min(sim, o_id), 6) AS sim
        |  FROM pairs WHERE sim >= 0.95 GROUP BY vec_id)
        |SELECT g.vec_id, g.cell, d.dup_of, d.sim
        |FROM asgb g LEFT JOIN d ON g.vec_id = d.vec_id
        |ORDER BY g.vec_id""".stripMargin,

    // prototypicality: same assignment CTE as emb_semdedup, the argmax
    // row's sim IS the cosine-to-own-centroid; rank desc per cell
    "emb_prototypes" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cents AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id % 50 = 0),
        |asg AS (SELECT vec_id, cell, csim FROM (
        |    SELECT x.vec_id, c.cent_id AS cell,
        |      list_dot_product(x.emb, c.cemb)
        |        / (sqrt(list_dot_product(x.emb, x.emb))
        |           * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY list_dot_product(x.emb, c.cemb)
        |          / (sqrt(list_dot_product(x.emb, x.emb))
        |             * sqrt(list_dot_product(c.cemb, c.cemb))) DESC,
        |        c.cent_id) AS rn
        |    FROM e x, cents c) WHERE rn = 1),
        |r AS (SELECT cell, vec_id, csim,
        |    row_number() OVER (PARTITION BY cell
        |      ORDER BY csim DESC, vec_id) AS rnk FROM asg)
        |SELECT cell, vec_id, round(csim, 6) AS csim, rnk FROM r WHERE rnk <= 3
        |ORDER BY cell, rnk""".stripMargin,

    "dedup_minhash" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |vars AS (SELECT doc_id + 1000000 AS doc_id,
        |    concat('zz yy ', array_to_string(string_split(text, ' ')[3:], ' ')) AS text
        |  FROM base WHERE doc_id < 20),
        |docs AS (SELECT * FROM base UNION ALL SELECT * FROM vars),
        |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM docs),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(words) - 3, 0) + 2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS s FROM w)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.s, b.s))
        |    / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.s, b.s))
        |    / len(list_distinct(list_concat(a.s, b.s))) >= 0.3
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_incremental" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |batch AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    concat('zz yy ', array_to_string(string_split(text, ' ')[3:], ' ')) AS text
        |  FROM base WHERE doc_id < 20
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, reverse(text) AS text
        |  FROM base WHERE doc_id >= 480 AND doc_id < 500),
        |wc AS (SELECT doc_id, string_split(text, ' ') AS words FROM base),
        |wb AS (SELECT doc_id, string_split(text, ' ') AS words FROM batch),
        |sc AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(words) - 3, 0) + 2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS s FROM wc),
        |sb AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(words) - 3, 0) + 2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS s FROM wb)
        |SELECT b.doc_id AS doc_id, c.doc_id AS dup_of,
        |  len(list_intersect(b.s, c.s))
        |    / len(list_distinct(list_concat(b.s, c.s))) AS jaccard
        |FROM sb b, sc c
        |WHERE len(list_intersect(b.s, c.s))
        |    / len(list_distinct(list_concat(b.s, c.s))) >= 0.3
        |ORDER BY doc_id, dup_of""".stripMargin,

    // brute-force recomputation of the 60-bit md5-based simhash: token
    // hash = first 15 md5 hex chars (= graft_md5_tokens), bit i set iff
    // sum(+1/-1 votes) >= 0 (= graft_simhash tie rule), pairs by all-pairs
    // hamming <= 3 — equals the banded Spark plan by the pigeonhole
    // argument in Dedup.simhashNearDuplicates
    "dedup_simhash" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |vars AS (SELECT doc_id + 1000000 AS doc_id,
        |    concat('zz yy ', array_to_string(string_split(text, ' ')[3:], ' ')) AS text
        |  FROM base WHERE doc_id < 20),
        |docs AS (SELECT * FROM base UNION ALL SELECT * FROM vars),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM docs),
        |th AS (SELECT doc_id,
        |    ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM toks),
        |bits AS (SELECT doc_id, b,
        |    CASE WHEN sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) >= 0
        |         THEN (1::BIGINT << b) ELSE 0::BIGINT END AS bitval
        |  FROM th, generate_series(0, 59) g(b) GROUP BY doc_id, b),
        |sig AS (SELECT doc_id, CAST(sum(bitval) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM sig a, sig b WHERE a.doc_id < b.doc_id
        |  AND bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_clusters" -> ccClustersOracleSql,
    "dedup_clusters_incr" -> ccClustersOracleSql,

    "emb_clusters" ->
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |v AS (SELECT vec_id + 100000 AS vec_id,
        |    list_concat([emb[1] + 0.05], emb[2:64]) AS emb FROM e WHERE vec_id < 20),
        |a AS (SELECT * FROM e UNION ALL SELECT * FROM v),
        |pairs AS (SELECT x.vec_id AS u, y.vec_id AS v FROM a x, a y
        |  WHERE x.vec_id < y.vec_id
        |    AND list_dot_product(x.emb, y.emb)
        |      / (sqrt(list_dot_product(x.emb, x.emb)) * sqrt(list_dot_product(y.emb, y.emb))) > 0.9),
        |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
        |reach(u, v) AS (SELECT u, v FROM edges
        |  UNION SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u)
        |SELECT u AS doc_id, least(u, min(v)) AS rep_id
        |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
        |vars AS (SELECT doc_id + 1000000 AS doc_id,
        |    concat('zz yy ', array_to_string(string_split(text, ' ')[3:], ' ')) AS text
        |  FROM base WHERE doc_id < 10),
        |docs AS (SELECT * FROM base UNION ALL SELECT * FROM vars),
        |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM docs),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(words) - 3, 0) + 2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS s FROM w)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.s, b.s))
        |    / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.s, b.s))
        |    / len(list_distinct(list_concat(a.s, b.s))) > 0.2
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_setsim_prefix" ->
      // mirrors the prefix-filtered plan shingle-for-shingle; threshold
      // 4/5 rational: prefix keeps rk <= n - ceil(4n/5) + 1, verify is
      // 9·inter >= 4·(n_a + n_b) — pure integer both sides
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
        |  FROM documents),
        |tok AS (SELECT DISTINCT doc_id,
        |    array_to_string(words[i : i + 2], ' ') AS tok
        |  FROM (SELECT doc_id, words,
        |      unnest(range(1, greatest(len(words) - 3, 0) + 2)) AS i
        |    FROM w)),
        |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        |  FROM tok GROUP BY 1),
        |df AS (SELECT tok, count(*) AS df FROM tok GROUP BY 1),
        |r AS (SELECT t.doc_id, t.tok, row_number()
        |    OVER (PARTITION BY t.doc_id ORDER BY df.df, t.tok) AS rk
        |  FROM tok t JOIN df ON df.tok = t.tok),
        |pre AS (SELECT r.doc_id, r.tok FROM r JOIN n ON n.doc_id = r.doc_id
        |  WHERE r.rk <= n.n - ((4 * n.n + 4) // 5) + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM pre a JOIN pre b ON a.tok = b.tok AND a.doc_id < b.doc_id),
        |i AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter
        |  FROM cand c JOIN tok ta ON ta.doc_id = c.doc_a
        |  JOIN tok tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, na.n AS n_a, nb.n AS n_b, i.inter,
        |  (1000000 * i.inter) // (na.n + nb.n - i.inter) AS jacc_ppm
        |FROM i JOIN n na ON na.doc_id = i.doc_a
        |JOIN n nb ON nb.doc_id = i.doc_b
        |WHERE 9 * i.inter >= 4 * (na.n + nb.n)
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_winnow" ->
      // same md5-15-hex gram lane as dedup_spans; the window min is a
      // BOUNDED sliding frame on both engines, full windows only
      // (pos <= ng - 8), df <= 20 prune before the pair join
      """WITH w AS MATERIALIZED (SELECT doc_id,
        |    string_split(text, ' ') AS words FROM documents),
        |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    CAST(len(words) - 3 AS BIGINT) AS ng,
        |    ('0x' || substring(md5(
        |      array_to_string(words[i + 1 : i + 4], ' ')), 1, 15))::BIGINT
        |      AS hv
        |  FROM (SELECT doc_id, words,
        |      unnest(range(0, len(words) - 3)) AS i FROM w)),
        |m AS (SELECT doc_id, ng, pos, min(hv) OVER (PARTITION BY doc_id
        |    ORDER BY pos ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
        |  FROM g),
        |f AS (SELECT DISTINCT doc_id, fp FROM m WHERE pos <= ng - 8),
        |d AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 20),
        |r AS (SELECT f.doc_id, f.fp FROM f JOIN d USING (fp)),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS BIGINT) AS shared_fps
        |  FROM r a JOIN r b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT doc_a, doc_b, shared_fps FROM p
        |ORDER BY shared_fps DESC, doc_a, doc_b""".stripMargin,

    "pipe_contam_winnow" -> contamWinnowOracleSql,

    // the winnow candidate replay + aligned 11-word window equality:
    // tw/ev windows via list slicing (the g CTE's idiom at length
    // w+n−1), spans counted per candidate PAIR only, 0 when no exact
    // span confirms the fingerprint hit
    "pipe_contam_verified" ->
      """WITH w AS MATERIALIZED (SELECT doc_id,
        |    string_split(text, ' ') AS words FROM documents),
        |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    CAST(len(words) - 3 AS BIGINT) AS ng,
        |    ('0x' || substring(md5(
        |      array_to_string(words[i + 1 : i + 4], ' ')), 1, 15))::BIGINT
        |      AS hv
        |  FROM (SELECT doc_id, words,
        |      unnest(range(0, len(words) - 3)) AS i FROM w)),
        |m AS (SELECT doc_id, ng, pos, min(hv) OVER (PARTITION BY doc_id
        |    ORDER BY pos ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
        |  FROM g),
        |f AS (SELECT DISTINCT doc_id, fp FROM m WHERE pos <= ng - 8),
        |d AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 20),
        |r AS (SELECT f.doc_id, f.fp FROM f JOIN d USING (fp)),
        |e AS (SELECT doc_id AS eval_id, fp FROM f WHERE doc_id < 5),
        |cand AS MATERIALIZED (SELECT r.doc_id, e.eval_id,
        |    CAST(count(*) AS BIGINT) AS fps
        |  FROM r JOIN e USING (fp) WHERE r.doc_id <> e.eval_id
        |  GROUP BY r.doc_id, e.eval_id),
        |tw AS MATERIALIZED (SELECT DISTINCT doc_id,
        |    array_to_string(words[i + 1 : i + 11], ' ') AS win
        |  FROM (SELECT doc_id, words,
        |      unnest(range(0, len(words) - 10)) AS i
        |    FROM w WHERE len(words) >= 11)),
        |ev AS (SELECT doc_id AS eval_id, win FROM tw WHERE doc_id < 5),
        |vs AS (SELECT tw.doc_id, count(DISTINCT tw.win) AS n_spans
        |  FROM tw JOIN ev ON tw.win = ev.win AND tw.doc_id <> ev.eval_id
        |  JOIN cand ON cand.doc_id = tw.doc_id AND cand.eval_id = ev.eval_id
        |  GROUP BY tw.doc_id),
        |agg AS (SELECT doc_id, CAST(sum(fps) AS BIGINT) AS n_shared_fps,
        |    CAST(count(DISTINCT eval_id) AS BIGINT) AS n_eval_docs
        |  FROM cand GROUP BY doc_id HAVING sum(fps) >= 1)
        |SELECT agg.doc_id, n_shared_fps, n_eval_docs,
        |  CAST(coalesce(vs.n_spans, 0) AS BIGINT) AS n_spans
        |FROM agg LEFT JOIN vs USING (doc_id)
        |ORDER BY n_shared_fps DESC, doc_id""".stripMargin,
    // same decision as batch: the per-doc flag is a pure function of the
    // doc against the fixed eval + boilerplate sets, so the 3-batch
    // replay shares the batch oracle verbatim
    "pipe_contam_winnow_stream" -> contamWinnowOracleSql,

    "dedup_cdc_chunks" ->
      // boundary flags from the same positional md5 4-gram lane; chunk
      // id = growing-frame running sum; chunk text re-joined in pos
      // order (string_agg ORDER BY ≡ Spark's sorted collect_list)
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, ws, list_transform(range(0, len(ws) - 3),
        |    i -> ('0x' || substring(md5(
        |      array_to_string(ws[i + 1 : i + 4], ' ')), 1, 15))::BIGINT)
        |    AS gh FROM d),
        |w AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, ws[i + 1] AS w,
        |    CASE WHEN i >= 4 AND gh[i - 4 + 1] % 16 = 0
        |      THEN 1 ELSE 0 END AS f
        |  FROM (SELECT doc_id, ws, gh, unnest(range(0, len(ws))) AS i
        |    FROM g)),
        |c AS (SELECT doc_id, pos, w, sum(f) OVER (PARTITION BY doc_id
        |    ORDER BY pos) AS chunk FROM w),
        |ch AS (SELECT doc_id, chunk,
        |    string_agg(w, ' ' ORDER BY pos) AS ctext,
        |    CAST(count(*) AS BIGINT) AS n_words
        |  FROM c GROUP BY 1, 2),
        |h AS (SELECT doc_id,
        |    ('0x' || substring(md5(ctext), 1, 15))::BIGINT AS h, n_words
        |  FROM ch)
        |SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occ, min(n_words) AS n_words
        |FROM h GROUP BY h HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_occ DESC, h""".stripMargin,

    "dedup_containment" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
        |exc AS (SELECT doc_id + 3000000 AS doc_id,
        |    array_to_string(string_split(text, ' ')[1:8], ' ') AS text
        |  FROM base WHERE doc_id < 5),
        |docs AS (SELECT * FROM base UNION ALL SELECT * FROM exc),
        |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM docs),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(words) - 3, 0) + 2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS s FROM w)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.s, b.s)) / len(a.s) AS containment
        |FROM sh a, sh b WHERE a.doc_id <> b.doc_id
        |  AND len(list_intersect(a.s, b.s)) / len(a.s) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_spans" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sp AS (SELECT doc_id, unnest(range(1, len(w) - 8 + 2)) AS i, w
        |  FROM d WHERE len(w) >= 8),
        |hs AS (SELECT doc_id,
        |    ('0x' || substring(md5(array_to_string(w[i : i + 7], ' ')), 1, 15))::BIGINT AS h,
        |    ('0x' || substring(md5(array_to_string(w[i : i + 7], ' ')), 16, 15))::BIGINT AS h2
        |  FROM sp),
        |c AS (SELECT h, h2, count(*) AS cnt FROM hs GROUP BY h, h2),
        |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
        |  FROM hs JOIN c USING (h, h2) GROUP BY doc_id)
        |SELECT d2.doc_id, coalesce(r.n_spans, 0) AS n_spans,
        |  coalesce(r.n_dup_spans, 0) AS n_dup_spans
        |FROM documents d2 LEFT JOIN r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "ds_agg_minutes10" ->
      s"""WITH $srcSql,
        |b AS (SELECT stream_id, CAST(floor(epoch(t) / 600) * 600 AS BIGINT) AS be, t, v FROM src)
        |SELECT stream_id, CAST(to_timestamp(be) AS TIMESTAMP) AS t,
        |  count(v) AS c, sum(v) AS s, sum(v * v) AS q,
        |  min(v) AS l, max(v) AS u,
        |  sum(v) / count(v) AS m,
        |  sqrt(greatest(sum(v * v) / count(v)
        |    - (sum(v) / count(v)) * (sum(v) / count(v)), 0)) AS d,
        |  min(t) AS t_first, max(t) AS t_last,
        |  CAST(to_timestamp(be + CAST(floor(avg(epoch(t) - be)) AS BIGINT)) AS TIMESTAMP) AS t_mean
        |FROM b GROUP BY stream_id, be
        |ORDER BY stream_id, be""".stripMargin,

    "ds_agg_sliding" ->
      """WITH p AS (SELECT concat(user_id, ':', event_type) AS stream_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec, value AS v FROM events),
        |b AS (SELECT stream_id, sec, v,
        |    unnest([(sec // 300) * 300, (sec // 300) * 300 - 300]) AS bstart
        |  FROM p)
        |SELECT stream_id, CAST(to_timestamp(bstart) AS TIMESTAMP) AS bucket,
        |  count(*) AS c, sum(v) AS s
        |FROM b GROUP BY stream_id, bstart
        |ORDER BY stream_id, bucket""".stripMargin,

    "ds_fold_hours" ->
      s"""WITH $srcSql,
        |b AS (SELECT stream_id, CAST(floor(epoch(t) / 3600) * 3600 AS BIGINT) AS be, t, v FROM src)
        |SELECT stream_id, CAST(to_timestamp(be) AS TIMESTAMP) AS t,
        |  count(v) AS c, sum(v) AS s, sum(v * v) AS q,
        |  min(v) AS l, max(v) AS u,
        |  sum(v) / count(v) AS m,
        |  sqrt(greatest(sum(v * v) / count(v)
        |    - (sum(v) / count(v)) * (sum(v) / count(v)), 0)) AS d,
        |  min(t) AS t_first, max(t) AS t_last
        |FROM b GROUP BY stream_id, be
        |ORDER BY stream_id, be""".stripMargin,

    "ds_hist_quantile_rollup" ->
      // day-level bins computed directly from raw — legal because the
      // engine's hour→day fold is exact (bin counts are sums); quantile
      // interpolation mirrors HistRollup.quantiles op-for-op
      """WITH src AS (SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec, value AS v FROM events),
        |b AS (SELECT event_type, (sec // 86400) * 86400 AS t,
        |    CAST(least(greatest(floor((v - 0.0) / 8.0), 0), 63) AS BIGINT) AS bin,
        |    count(*) AS cnt
        |  FROM src GROUP BY 1, 2, 3),
        |c AS (SELECT event_type, t, bin, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type, t ORDER BY bin) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type, t) AS BIGINT) AS n
        |  FROM b)
        |SELECT event_type, t, n,
        |  round(max(CASE WHEN (cum - cnt) < 0.5 * n AND 0.5 * n <= cum
        |    THEN 0.0 + 8.0 * (bin + (0.5 * n - (cum - cnt)) / cnt) END), 6) AS p50,
        |  round(max(CASE WHEN (cum - cnt) < 0.95 * n AND 0.95 * n <= cum
        |    THEN 0.0 + 8.0 * (bin + (0.95 * n - (cum - cnt)) / cnt) END), 6) AS p95
        |FROM c GROUP BY event_type, t, n
        |ORDER BY event_type, t""".stripMargin,

    "drv_derivative" -> derivativeOracleSql,

    "drv_derivative_stream" -> derivativeOracleSql,
    // bounded-skew replay through the reorder buffer converges to the
    // same in-order fold — oracle verbatim
    "drv_derivative_stream_skewed" -> derivativeOracleSql,

    "drv_counter_reset" -> counterResetOracleSql,

    "drv_counter_reset_stream" -> counterResetOracleSql,

    "drv_counter_derivative" ->
      s"""WITH $srcSql, $pointSql, $counterSql,
        |d AS (SELECT stream_id, t, v,
        |    lag(v) OVER (PARTITION BY stream_id ORDER BY t) AS pv,
        |    lag(t) OVER (PARTITION BY stream_id ORDER BY t) AS pt
        |  FROM ctr)
        |SELECT stream_id, t,
        |  (CASE WHEN v >= pv THEN v - pv ELSE 1000 - pv + v END)
        |    / (epoch(t) - epoch(pt)) AS v
        |FROM d WHERE pv IS NOT NULL AND epoch(t) != epoch(pt)
        |ORDER BY stream_id, t""".stripMargin,

    // the batch V4 reset-suppression core verbatim (union + running
    // reset max + ignore-nulls lag over (t, reset-first, v) order) —
    // what the two-input streaming twin must reproduce bit-for-bit,
    // under ordered AND bounded-skew delivery (same oracle for both)
    "drv_counter_derivative_stream" -> counterDerivV4StreamOracleSql,
    "drv_counter_derivative_stream_skewed" -> counterDerivV4StreamOracleSql,

    // tiered retention: raw seconds survive from their Jan 20 horizon,
    // day rollups from Jan 10 (ymd-partition drops at midnight cutoffs
    // ⇒ plain t/bucket filters); event data ends in January, so every
    // day bucket closed under until = Feb 1
    "store_retention" ->
      """WITH src AS (SELECT user_id, event_type,
        |    CAST(to_timestamp(CAST(floor(epoch(ts)) AS BIGINT)) AS TIMESTAMP) AS t,
        |    value AS v FROM events WHERE user_id < 3),
        |sec AS (SELECT user_id, event_type, 'seconds' AS granularity, t,
        |    CAST(1 AS BIGINT) AS c, v AS l, v AS u
        |  FROM src WHERE t >= TIMESTAMP '2024-01-20 00:00:00'),
        |b AS (SELECT user_id, event_type,
        |    CAST(floor(epoch(t) / 86400) * 86400 AS BIGINT) AS be, v
        |  FROM src),
        |d AS (SELECT user_id, event_type, 'days' AS granularity,
        |    CAST(to_timestamp(be) AS TIMESTAMP) AS t,
        |    count(v) AS c, min(v) AS l, max(v) AS u
        |  FROM b
        |  WHERE be >= CAST(floor(epoch(TIMESTAMP '2024-01-10 00:00:00'))
        |    AS BIGINT)
        |  GROUP BY user_id, event_type, be)
        |SELECT * FROM (SELECT * FROM sec UNION ALL SELECT * FROM d)
        |ORDER BY user_id, event_type, granularity, t, l""".stripMargin,

    "q_above_cust_avg" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        |WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders i
        |                            WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q_unpivot_flags" ->
      """WITH agg AS (SELECT l_returnflag, sum(l_quantity) AS qty,
        |    sum(l_extendedprice) AS price FROM lineitem GROUP BY l_returnflag)
        |UNPIVOT agg ON qty, price INTO NAME metric VALUE val
        |ORDER BY l_returnflag, metric""".stripMargin,

    "q_salted_distinct" ->
      """SELECT l_returnflag AS flag,
        |  count(DISTINCT l_partkey) AS n_distinct
        |FROM lineitem GROUP BY l_returnflag ORDER BY flag""".stripMargin,

    "q_bitmap_intersect" ->
      // same word-packed bitmaps: bit_or / bit_count / & are exact
      // integer ops on both engines at 32-bit packing
      """WITH ok AS (SELECT DISTINCT l_returnflag AS flag,
        |    l_orderkey AS k FROM lineitem),
        |w AS (SELECT flag, k // 32 AS w,
        |    bit_or(1::BIGINT << CAST(k % 32 AS INT)) AS bits
        |  FROM ok GROUP BY flag, k // 32),
        |sz AS (SELECT flag, CAST(sum(bit_count(bits)) AS BIGINT) AS n
        |  FROM w GROUP BY flag),
        |pr AS (SELECT a.flag AS flag_a, b.flag AS flag_b,
        |    CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT) AS n_common
        |  FROM w a JOIN w b ON a.w = b.w AND a.flag < b.flag
        |  GROUP BY a.flag, b.flag)
        |SELECT pr.flag_a, pr.flag_b, sa.n AS n_a, sb.n AS n_b,
        |  pr.n_common
        |FROM pr JOIN sz sa ON sa.flag = pr.flag_a
        |JOIN sz sb ON sb.flag = pr.flag_b
        |ORDER BY pr.flag_a, pr.flag_b""".stripMargin,

    "q_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS med,
        |  quantile_cont(l_extendedprice, 0.9) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "store_derive_pipeline" ->
      s"""WITH $srcSql, $pointSql,
        |f AS (SELECT * FROM pts
        |  WHERE stream_id LIKE '1:%' OR stream_id LIKE '2:%'),
        |d AS (SELECT stream_id, t, v,
        |    lag(v) OVER (PARTITION BY stream_id ORDER BY t) AS pv,
        |    lag(t) OVER (PARTITION BY stream_id ORDER BY t) AS pt
        |  FROM f)
        |SELECT stream_id AS name, t, (v - pv) / (epoch(t) - epoch(pt)) AS v
        |FROM d WHERE pv IS NOT NULL AND epoch(t) != epoch(pt)
        |ORDER BY name, t""".stripMargin,

    // mirror of the ingest loop's final state: derivative over the
    // complete series (re-delivery must be a no-op) + days rollups under
    // the bucket-close rule be + 86400 <= epoch(max t) (each foreachBatch
    // advances the ladder to its own max t; the final batch holds the
    // global max, so closed days are exactly those complete at that point)
    "store_stream_ingest" ->
      s"""WITH $srcSql, $pointSql,
        |f AS (SELECT * FROM pts WHERE stream_id LIKE '3:%'),
        |d AS (SELECT stream_id, t, v,
        |    lag(v) OVER (PARTITION BY stream_id ORDER BY t) AS pv,
        |    lag(t) OVER (PARTITION BY stream_id ORDER BY t) AS pt
        |  FROM f),
        |drv AS (SELECT 'drv' AS kind, stream_id AS name, t,
        |    CAST(1 AS BIGINT) AS c,
        |    (v - pv) / (epoch(t) - epoch(pt)) AS v
        |  FROM d WHERE pv IS NOT NULL AND epoch(t) != epoch(pt)),
        |mx AS (SELECT max(epoch(t)) AS m FROM f),
        |day AS (SELECT 'day' AS kind, stream_id AS name,
        |    CAST(to_timestamp(CAST(floor(epoch(t) / 86400) * 86400 AS BIGINT))
        |      AS TIMESTAMP) AS t,
        |    count(*) AS c, sum(v) AS v
        |  FROM f, mx
        |  GROUP BY stream_id, floor(epoch(t) / 86400), mx.m
        |  HAVING floor(epoch(t) / 86400) * 86400 + 86400 <= mx.m)
        |SELECT kind, name, t, c, v FROM drv
        |UNION ALL SELECT kind, name, t, c, v FROM day
        |ORDER BY kind, name, t""".stripMargin,

    "store_nested_tags" ->
      """SELECT n_name AS nation, r_name AS region
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |ORDER BY n_name""".stripMargin,

    "store_stats" ->
      // rollup rows = distinct completed buckets per stream (bucket end
      // <= until = 1706745600, the ladder's completed-bucket rule);
      // base 'seconds' rows = every appended row (same-second events
      // stay separate datapoints — store_pipeline's c counts prove it)
      """WITH src AS (SELECT
        |    CAST(user_id AS VARCHAR) || ':' || event_type AS k,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events WHERE user_id < 5),
        |g(granularity, secs) AS (VALUES ('seconds10', 10),
        |  ('minutes', 60), ('minutes10', 600), ('hours', 3600),
        |  ('hours6', 21600), ('days', 86400)),
        |roll AS (SELECT g.granularity, k, (sec // g.secs) * g.secs AS b
        |  FROM src, g WHERE (sec // g.secs + 1) * g.secs <= 1706745600
        |  GROUP BY 1, 2, 3),
        |rs AS (SELECT granularity, CAST(count(*) AS BIGINT) AS n_points,
        |    CAST(count(DISTINCT k) AS BIGINT) AS n_streams,
        |    min(b) AS lo_sec, max(b) AS hi_sec FROM roll GROUP BY 1),
        |base AS (SELECT 'seconds' AS granularity,
        |    CAST(count(*) AS BIGINT) AS n_points,
        |    CAST(count(DISTINCT k) AS BIGINT) AS n_streams,
        |    min(sec) AS lo_sec, max(sec) AS hi_sec FROM src)
        |SELECT * FROM base UNION ALL SELECT * FROM rs
        |ORDER BY granularity""".stripMargin,

    "store_pipeline" ->
      """WITH src AS (SELECT user_id, event_type,
        |    CAST(to_timestamp(CAST(floor(epoch(ts)) AS BIGINT)) AS TIMESTAMP) AS t,
        |    value AS v FROM events WHERE user_id < 5),
        |b AS (SELECT user_id, event_type,
        |    CAST(floor(epoch(t) / 86400) * 86400 AS BIGINT) AS be, t, v FROM src)
        |SELECT user_id, event_type, CAST(to_timestamp(be) AS TIMESTAMP) AS t,
        |  count(v) AS c, sum(v) AS s, min(v) AS l, max(v) AS u,
        |  sum(v) / count(v) AS m,
        |  sqrt(greatest(sum(v * v) / count(v)
        |    - (sum(v) / count(v)) * (sum(v) / count(v)), 0)) AS d,
        |  min(t) AS t_first, max(t) AS t_last
        |FROM b GROUP BY user_id, event_type, be
        |ORDER BY user_id, event_type, be""".stripMargin,

    "ds_stream_minutes" ->
      s"""WITH $srcSql,
        |b AS (SELECT stream_id, CAST(floor(epoch(t) / 60) * 60 AS BIGINT) AS be, t, v FROM src),
        |mx AS (SELECT max(epoch(t)) AS m FROM src)
        |SELECT stream_id, CAST(to_timestamp(be) AS TIMESTAMP) AS t,
        |  count(v) AS c, sum(v) AS s, sum(v * v) AS q,
        |  min(v) AS l, max(v) AS u,
        |  sum(v) / count(v) AS m,
        |  sqrt(greatest(sum(v * v) / count(v)
        |    - (sum(v) / count(v)) * (sum(v) / count(v)), 0)) AS d,
        |  min(t) AS t_first, max(t) AS t_last,
        |  CAST(to_timestamp(be + CAST(floor(avg(epoch(t) - be)) AS BIGINT)) AS TIMESTAMP) AS t_mean
        |FROM b, mx
        |GROUP BY stream_id, be, mx.m
        |HAVING be + 60 <= mx.m
        |ORDER BY stream_id, be""".stripMargin,

    "dedup_stream_exact" ->
      """WITH k AS (SELECT min(doc_id) AS doc_id, text FROM documents
        |  GROUP BY text)
        |SELECT doc_id, md5(text) AS content_hash FROM k
        |ORDER BY doc_id""".stripMargin,

    "ds_stream_join" ->
      // the batch interval join the single-batch streaming replay must
      // equal; both sides floor ts to seconds (the Point convention)
      """WITH l AS (SELECT CAST(user_id AS VARCHAR) AS stream_id,
        |    CAST(to_timestamp(floor(epoch(ts))) AS TIMESTAMP) AS t,
        |    value AS v
        |  FROM events WHERE event_type = 'click' AND user_id < 30),
        |r AS (SELECT CAST(user_id AS VARCHAR) AS stream_id,
        |    CAST(to_timestamp(floor(epoch(ts))) AS TIMESTAMP) AS rt,
        |    value AS rv
        |  FROM events WHERE event_type = 'purchase' AND user_id < 30)
        |SELECT l.stream_id, l.t, l.v, r.rt, r.rv
        |FROM l JOIN r ON r.stream_id = l.stream_id
        |  AND r.rt BETWEEN l.t - INTERVAL 3600 SECOND
        |    AND l.t + INTERVAL 3600 SECOND
        |ORDER BY l.stream_id, l.t, r.rt, l.v, r.rv""".stripMargin,

    "ds_stream_sessions" ->
      // session boundary: a gap of >= 1800s starts a new session (Spark
      // session_window end is exclusive: an event at exactly last+gap
      // starts a new session). Closed-session rule mirrors the streaming
      // watermark: last event + gap <= final max event time.
      s"""WITH $srcSql,
        |o AS (SELECT stream_id, t, v,
        |    lag(t) OVER (PARTITION BY stream_id ORDER BY t) AS pt FROM src),
        |f AS (SELECT stream_id, t, v,
        |    CASE WHEN pt IS NULL OR epoch(t) - epoch(pt) >= 1800
        |         THEN 1 ELSE 0 END AS brk FROM o),
        |g AS (SELECT stream_id, t, v,
        |    sum(brk) OVER (PARTITION BY stream_id ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS sid FROM f),
        |mx AS (SELECT max(epoch(t)) AS m FROM src)
        |SELECT stream_id, min(t) AS sess_start,
        |  CAST(to_timestamp(CAST(max(epoch(t)) + 1800 AS BIGINT)) AS TIMESTAMP) AS sess_end,
        |  count(*) AS n_events, sum(v) AS v_sum
        |FROM g, mx
        |GROUP BY stream_id, sid, mx.m
        |HAVING max(epoch(t)) + 1800 <= mx.m
        |ORDER BY stream_id, sess_start""".stripMargin,

    "doc_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  avg(n_chars) AS avg_chars,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    "doc_token_stats" ->
      """SELECT doc_id, length(text) AS n_chars,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpeish_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
        |  len(list_distinct(string_split(text, ' ')))
        |    / len(string_split(text, ' ')) AS ttr
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "doc_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |b AS (SELECT doc_id, toks,
        |  list_transform(range(1, len(toks)),
        |                 i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
        |  FROM t)
        |SELECT doc_id,
        |  1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
        |    AS dup_word_ratio,
        |  CASE WHEN len(bigrams) = 0 THEN 0.0
        |       ELSE 1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE)
        |              / len(bigrams) END AS dup_bigram_ratio
        |FROM b ORDER BY doc_id""".stripMargin,

    "doc_quality" ->
      """SELECT doc_id,
        |  (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
        |    / length(text) AS punct_ratio,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'on', 'for', 'with')))
        |    AS DOUBLE) / len(string_split(text, ' ')) AS stopword_ratio,
        |  (length(text) - len(string_split(text, ' ')) + 1)
        |    / len(string_split(text, ' ')) AS mean_word_len
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "text_readability" ->
      // vowel-group count via one regexp_extract_all pass; bp ratios by
      // integer division (numerators non-negative, so // ≡ div)
      """SELECT doc_id, n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT) AS n_syl,
        |  (10000 * CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT))
        |    // CAST(len(string_split(text, ' ')) AS BIGINT)
        |    AS syl_per_word_bp,
        |  (10000 * CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT))
        |    // n_chars AS vowel_density_bp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS h, count(*) AS dup_count, min(doc_id) AS keep_id
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY h""".stripMargin,

    "dedup_normalized" ->
      // same normalization recipe; DuckDB regexp_replace needs the 'g'
      // flag (Spark replaces globally by default), and both regexes stay
      // in the RE2 ⊆ Java-regex common subset
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 4000000, upper(text) || ' !!'
        |  FROM documents WHERE doc_id < 20),
        |n AS (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
        |  FROM corpus)
        |SELECT md5(norm) AS h, CAST(count(*) AS BIGINT) AS dup_count,
        |  min(doc_id) AS keep_id
        |FROM n GROUP BY md5(norm) ORDER BY h""".stripMargin,

    "pipe_dedup_priority" ->
      // same packed (prio·10⁸ + id) election key; arg_min carries the
      // source along the single-BIGINT ordering
      """WITH corpus AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 5000000, text, 'curated'
        |  FROM documents WHERE doc_id < 20),
        |p AS (SELECT doc_id, text, source,
        |    (CASE WHEN source = 'curated' THEN 0 ELSE 1 END) * 100000000
        |      + doc_id AS ekey
        |  FROM corpus)
        |SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS dup_count,
        |  CAST(min(ekey) % 100000000 AS BIGINT) AS keep_id,
        |  arg_min(source, ekey) AS keep_source
        |FROM p GROUP BY md5(text) ORDER BY h""".stripMargin,

    "emb_topk_cosine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 10),
        |p AS (SELECT qid, e.vec_id AS cid,
        |    list_dot_product(qemb, emb)
        |      / (sqrt(list_dot_product(qemb, qemb)) * sqrt(list_dot_product(emb, emb))) AS sim
        |  FROM q, e WHERE e.vec_id <> qid),
        |r AS (SELECT qid, cid, sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rnk
        |  FROM p)
        |SELECT qid, cid, rnk, round(sim, 6) AS sim
        |FROM r WHERE rnk <= 5
        |ORDER BY qid, rnk""".stripMargin,

    "emb_topk_mips" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 10),
        |p AS (SELECT qid, e.vec_id AS cid,
        |    list_dot_product(qemb, emb) AS ip
        |  FROM q, e WHERE e.vec_id <> qid),
        |r AS (SELECT qid, cid, ip,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY ip DESC, cid) AS BIGINT) AS rnk
        |  FROM p)
        |SELECT qid, cid, rnk, round(ip, 6) AS ip
        |FROM r WHERE rnk <= 5
        |ORDER BY qid, rnk""".stripMargin,

    "emb_knn_label" ->
      // same (sim desc, cid) neighbor tie-break and (votes desc, label)
      // vote tie-break; every output column is an exact integer
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    CAST(label AS BIGINT) AS label FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 15),
        |c AS (SELECT * FROM e WHERE vec_id >= 15),
        |p AS (SELECT qid, c.vec_id AS cid, c.label,
        |    list_dot_product(qemb, emb)
        |      / (sqrt(list_dot_product(qemb, qemb))
        |         * sqrt(list_dot_product(emb, emb))) AS sim
        |  FROM q, c),
        |r AS (SELECT qid, label,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid)
        |      AS rnk
        |  FROM p),
        |v AS (SELECT qid, label, CAST(count(*) AS BIGINT) AS votes
        |  FROM r WHERE rnk <= 7 GROUP BY qid, label),
        |w AS (SELECT qid, label AS pred_label, votes,
        |    row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label)
        |      AS vr
        |  FROM v)
        |SELECT w.qid, w.pred_label, w.votes, t.label AS true_label,
        |  CAST(CASE WHEN w.pred_label = t.label THEN 1 ELSE 0 END
        |    AS BIGINT) AS hit
        |FROM w JOIN e t ON t.vec_id = w.qid
        |WHERE w.vr = 1 ORDER BY w.qid""".stripMargin,

    "emb_topk_filtered" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qemb, label AS q_grp
        |  FROM e WHERE vec_id < 10),
        |p AS (SELECT qid, e.vec_id AS cid, e.label,
        |    list_dot_product(qemb, emb)
        |      / (sqrt(list_dot_product(qemb, qemb)) * sqrt(list_dot_product(emb, emb))) AS sim
        |  FROM q JOIN e ON q.q_grp = e.label AND e.vec_id <> q.qid),
        |r AS (SELECT qid, cid, label, sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rnk
        |  FROM p)
        |SELECT qid, cid, label, rnk, round(sim, 6) AS sim
        |FROM r WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin,

    "text_lang_id" ->
      """WITH s AS (SELECT doc_id,
        |  len(list_filter(string_split(text, ' '),
        |    x -> x IN ('the', 'and', 'of', 'is', 'to'))) AS s_en,
        |  len(list_filter(string_split(text, ' '),
        |    x -> x IN ('der', 'die', 'das', 'und', 'ist'))) AS s_de,
        |  len(list_filter(string_split(text, ' '),
        |    x -> x IN ('le', 'la', 'les', 'et', 'est'))) AS s_fr,
        |  len(list_filter(string_split(text, ' '),
        |    x -> x IN ('el', 'la', 'los', 'y', 'es'))) AS s_es,
        |  len(list_filter(string_split(text, ' '),
        |    x -> x IN ('的', '是', '了', '在', '和'))) AS s_zh
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) > 0 THEN
        |    (list_sort([
        |      {'score': s_de, 'lang': 'de'},
        |      {'score': s_en, 'lang': 'en'},
        |      {'score': s_es, 'lang': 'es'},
        |      {'score': s_fr, 'lang': 'fr'},
        |      {'score': s_zh, 'lang': 'zh'}])[5]).lang
        |  ELSE 'und' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin,

    "text_lang_confusion" ->
      """WITH s AS (SELECT doc_id,
        |  len(list_filter(string_split(text, ' '),
        |    x -> x IN ('the', 'and', 'of', 'is', 'to'))) AS s_en,
        |  len(list_filter(string_split(text, ' '),
        |    x -> x IN ('der', 'die', 'das', 'und', 'ist'))) AS s_de,
        |  len(list_filter(string_split(text, ' '),
        |    x -> x IN ('le', 'la', 'les', 'et', 'est'))) AS s_fr,
        |  len(list_filter(string_split(text, ' '),
        |    x -> x IN ('el', 'la', 'los', 'y', 'es'))) AS s_es,
        |  len(list_filter(string_split(text, ' '),
        |    x -> x IN ('的', '是', '了', '在', '和'))) AS s_zh
        |  FROM documents),
        |p AS (SELECT doc_id,
        |  CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) > 0 THEN
        |    (list_sort([
        |      {'score': s_de, 'lang': 'de'},
        |      {'score': s_en, 'lang': 'en'},
        |      {'score': s_es, 'lang': 'es'},
        |      {'score': s_fr, 'lang': 'fr'},
        |      {'score': s_zh, 'lang': 'zh'}])[5]).lang
        |  ELSE 'und' END AS lang_pred FROM s)
        |SELECT d.lang, p.lang_pred, count(*) AS n
        |FROM p JOIN documents d USING (doc_id)
        |GROUP BY d.lang, p.lang_pred
        |ORDER BY d.lang, p.lang_pred""".stripMargin,

    "dedup_survivors" ->
      """WITH RECURSIVE base AS (SELECT doc_id, source, text FROM documents
        |    WHERE doc_id < 200),
        |vars AS (SELECT doc_id + 1000000 AS doc_id, source,
        |    concat('zz yy ', array_to_string(string_split(text, ' ')[3:], ' ')) AS text
        |  FROM base WHERE doc_id < 20),
        |docs AS (SELECT * FROM base UNION ALL SELECT * FROM vars),
        |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM docs),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(words) - 3, 0) + 2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS s FROM w),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s))
        |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.3),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(u, v) AS (SELECT u, v FROM edges
        |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |reps AS (SELECT u AS doc_id, least(u, min(v)) AS rep_id
        |  FROM reach GROUP BY u)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_toks
        |FROM docs
        |WHERE doc_id NOT IN (SELECT doc_id FROM reps WHERE doc_id != rep_id)
        |GROUP BY source ORDER BY source""".stripMargin,

    "text_logprob" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |freq AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM freq)
        |SELECT t.doc_id, avg(ln(f.n / tot.total)) AS logprob
        |FROM toks t JOIN freq f ON t.tok = f.tok, tot
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    // BM25: Lucene-form idf; score rounded to 6 before ranking (with
    // doc_id tie-break) so last-ulp ln/sum-order differences can't flip
    // ranks; the score column itself is fp-only
    "q_bm25_topk" -> bm25TopkOracleSql,

    // stats over the PHYSICAL corpus (docs ∪ decoy copies of the first
    // 20 — pending tombstones don't touch df/N/avgdl until the fold),
    // candidates restricted to un-tombstoned docs
    "q_bm25_mor" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id < 20),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d),
        |t AS (SELECT * FROM toks WHERE tok <> ''),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        |st AS (SELECT (SELECT count(*) FROM d) AS n,
        |    (SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
        |      / (SELECT count(*) FROM d) AS avgdl),
        |q AS (SELECT doc_id AS qid,
        |    unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents WHERE doc_id < 5),
        |qq AS (SELECT * FROM q WHERE tok <> ''),
        |scored AS (SELECT qq.qid, tf.doc_id,
        |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |  FROM qq JOIN tf ON qq.tok = tf.tok JOIN df ON qq.tok = df.tok
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
        |  WHERE tf.doc_id < 10000000
        |  GROUP BY qq.qid, tf.doc_id),
        |r AS (SELECT qid, doc_id, score, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk FROM scored)
        |SELECT qid, doc_id, score, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    // the q_bm25_topk recipe with candidates restricted to the allowed
    // residue BEFORE ranking; df/st CTEs stay full-corpus, so surviving
    // scores are the unfiltered lane's verbatim
    "q_bm25_filtered" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d),
        |t AS (SELECT * FROM toks WHERE tok <> ''),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        |st AS (SELECT (SELECT count(*) FROM d) AS n,
        |    (SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
        |      / (SELECT count(*) FROM d) AS avgdl),
        |q AS (SELECT doc_id AS qid,
        |    unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM d WHERE doc_id < 5),
        |qq AS (SELECT * FROM q WHERE tok <> ''),
        |scored AS (SELECT qq.qid, tf.doc_id,
        |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |  FROM qq JOIN tf ON qq.tok = tf.tok JOIN df ON qq.tok = df.tok
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
        |  WHERE tf.doc_id % 3 = 1
        |  GROUP BY qq.qid, tf.doc_id),
        |r AS (SELECT qid, doc_id, score, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk FROM scored)
        |SELECT qid, doc_id, score, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    // BM25 top-20 candidates (the q_bm25_topk recipe at rnk<=20), then
    // the MaxSim fold: per (qid, q_tok) max of list_dot_product over the
    // candidate doc's tokens, summed as floor(max·1e6) BIGINTs — dots
    // are bit-identical (graft_dot ≡ list_dot_product), the fixed-point
    // sum is order-free, rank ties on doc_id
    "q_maxsim_rerank" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d),
        |t AS (SELECT * FROM toks WHERE tok <> ''),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        |st AS (SELECT (SELECT count(*) FROM d) AS n,
        |    (SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
        |      / (SELECT count(*) FROM d) AS avgdl),
        |q AS (SELECT doc_id AS qid,
        |    unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM d WHERE doc_id < 5),
        |qq AS (SELECT * FROM q WHERE tok <> ''),
        |scored AS (SELECT qq.qid, tf.doc_id,
        |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |  FROM qq JOIN tf ON qq.tok = tf.tok JOIN df ON qq.tok = df.tok
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
        |  GROUP BY qq.qid, tf.doc_id),
        |cand AS (SELECT qid, doc_id FROM (SELECT qid, doc_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)
        |      AS rnk FROM scored) WHERE rnk <= 20),
        |dt AS (SELECT DISTINCT doc_id, tok FROM t),
        |vocab AS (SELECT DISTINCT tok FROM (
        |  SELECT dt.tok FROM dt JOIN cand USING (doc_id)
        |  UNION ALL SELECT tok FROM qq)),
        |tv AS (SELECT tok, list_transform(range(0, 8), dd ->
        |    CAST(('0x' || substring(md5(tok || ':' || CAST(dd AS VARCHAR)),
        |        1, 15))::BIGINT % 2001 - 1000 AS DOUBLE) / 1000.0) AS vec
        |  FROM vocab),
        |dots AS (SELECT cand.qid, cand.doc_id, qq.tok AS q_tok,
        |    max(list_dot_product(qv.vec, dv.vec)) AS mx
        |  FROM cand JOIN qq ON qq.qid = cand.qid
        |    JOIN tv qv ON qv.tok = qq.tok
        |    JOIN dt ON dt.doc_id = cand.doc_id
        |    JOIN tv dv ON dv.tok = dt.tok
        |  GROUP BY cand.qid, cand.doc_id, qq.tok),
        |s AS (SELECT qid, doc_id,
        |    CAST(sum(CAST(floor(mx * 1000000.0) AS BIGINT)) AS BIGINT)
        |      AS maxsim_fp
        |  FROM dots GROUP BY qid, doc_id),
        |r AS (SELECT qid, doc_id, maxsim_fp,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY maxsim_fp DESC, doc_id) AS BIGINT) AS rnk
        |  FROM s)
        |SELECT qid, doc_id, rnk, maxsim_fp FROM r WHERE rnk <= 5
        |ORDER BY qid, rnk""".stripMargin,
    "q_bm25_prf" -> bm25PrfOracleSql,
    // the indexed PRF changes only the I/O path (bucket-pruned scoring
    // passes + forward-store feedback fetch), never the expansion rule
    // or the scores — direct oracle verbatim
    "q_bm25_prf_indexed" -> bm25PrfOracleSql,
    // positional-index snippets: same election over the same positions
    // (assigned BEFORE the empty-token filter on both sides) — verbatim
    "q_bm25_snippets_indexed" -> bm25SnippetsOracleSql,

    "q_ndcg_eval" ->
      // same grades/fold; list_sum over range ≡ the sequential aggregate
      """WITH d AS (SELECT doc_id, source, text FROM documents),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM d),
        |t AS (SELECT * FROM toks WHERE tok <> ''),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        |st AS (SELECT (SELECT count(*) FROM d) AS n,
        |    (SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
        |      / (SELECT count(*) FROM d) AS avgdl),
        |qd AS (SELECT doc_id AS qid, source AS qsource,
        |    array_to_string(string_split(text, ' ')[5:12], ' ') AS qtext
        |  FROM d WHERE doc_id < 20),
        |q AS (SELECT qid, unnest(list_distinct(string_split(qtext, ' ')))
        |    AS tok FROM qd),
        |qq AS (SELECT * FROM q WHERE tok <> ''),
        |scored AS (SELECT qq.qid, tf.doc_id,
        |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |  FROM qq JOIN tf ON qq.tok = tf.tok JOIN df ON qq.tok = df.tok
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
        |  GROUP BY qq.qid, tf.doc_id),
        |run AS (SELECT qid, doc_id, rnk FROM (SELECT qid, doc_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)
        |      AS rnk FROM scored) WHERE rnk <= 10),
        |graded AS (SELECT run.qid, run.rnk,
        |    CASE WHEN run.doc_id = run.qid THEN 3.0
        |      WHEN dd.source = qd.qsource THEN 1.0 ELSE 0.0 END AS rel
        |  FROM run JOIN d dd ON dd.doc_id = run.doc_id
        |  JOIN qd ON qd.qid = run.qid),
        |dcg AS (SELECT qid,
        |    sum(rel / log2(CAST(rnk AS DOUBLE) + 1.0)) AS dcg,
        |    CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_rel_in_10
        |  FROM graded GROUP BY qid),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS ns FROM d
        |  GROUP BY source)
        |SELECT qd.qid,
        |  coalesce(dcg.n_rel_in_10, 0) AS n_rel_in_10,
        |  round(coalesce(dcg.dcg, 0.0) /
        |    (3.0 + CASE WHEN ns.ns >= 2 THEN coalesce(list_sum(
        |      list_transform(range(2, CAST(least(10, ns.ns) AS BIGINT) + 1),
        |        i -> 1.0 / log2(CAST(i AS DOUBLE) + 1.0))), 0.0)
        |      ELSE 0.0 END), 4) AS ndcg
        |FROM qd JOIN ns ON ns.source = qd.qsource
        |LEFT JOIN dcg ON dcg.qid = qd.qid
        |ORDER BY qd.qid""".stripMargin,

    "q_bm25_snippets" -> bm25SnippetsOracleSql,

    "mm_equalize" ->
      // per-doc CDF from the closed-form pixel values; remap =
      // (cdf(v) − cdf_min)·255 // (n − cdf_min), all non-negative
      // integer division
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id
        |  FROM documents WHERE doc_id < 64),
        |px AS (SELECT doc_id, unnest(range(0, 576)) AS i FROM ids),
        |pv AS (SELECT doc_id, i,
        |    (doc_id * 3 + (i * i) % 97) % 200 AS v FROM px),
        |grp AS (SELECT doc_id, v, CAST(count(*) AS BIGINT) AS cnt
        |  FROM pv GROUP BY doc_id, v),
        |cdf AS (SELECT doc_id, v, cnt, sum(cnt) OVER (PARTITION BY doc_id
        |    ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS cum FROM grp),
        |cm AS (SELECT doc_id, arg_min(cnt, v) AS cdf_min FROM cdf
        |  GROUP BY doc_id),
        |re AS (SELECT pv.doc_id, (cdf.cum - cm.cdf_min) * 255
        |    // (576 - cm.cdf_min) AS nv
        |  FROM pv JOIN cdf ON cdf.doc_id = pv.doc_id AND cdf.v = pv.v
        |  JOIN cm ON cm.doc_id = pv.doc_id)
        |SELECT doc_id, CAST(576 AS BIGINT) AS n_px,
        |  CAST(sum(nv) AS BIGINT) AS sum_eq,
        |  CAST(min(nv) AS BIGINT) AS min_eq,
        |  CAST(max(nv) AS BIGINT) AS max_eq
        |FROM re GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "mm_stft_frames" ->
      // (1000 − 256) div 128 + 1 = 6 full frames per doc; frame f's
      // energy = Σ_{k<256} (((f·128 + k)·step) mod 65536)²
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    257 + (CAST(doc_id AS BIGINT) % 7) * 31 AS step
        |  FROM documents WHERE doc_id < 48),
        |fr AS (SELECT doc_id, step, unnest(range(0, 6)) AS frame_idx
        |  FROM ids),
        |px AS (SELECT doc_id, step, frame_idx,
        |    unnest(range(0, 256)) AS k FROM fr),
        |s AS (SELECT doc_id, frame_idx,
        |    ((frame_idx * 128 + k) * step) % 65536 AS u FROM px)
        |SELECT doc_id, frame_idx, CAST(256 AS BIGINT) AS n,
        |  CAST(sum(u * u) AS BIGINT) AS energy
        |FROM s GROUP BY doc_id, frame_idx
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "mm_g711_roundtrip" ->
      // encode: pcm = least(32767, sign-folded s + bias), seg =
      // greatest(0, floor(log2(pcm)) − 7), mantissa by shift, xor sign
      // mask; decode: the mm_g711 μ-law expand; integer error stats
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    257 + (CAST(doc_id AS BIGINT) % 7) * 31 AS step
        |  FROM documents WHERE doc_id < 64),
        |px AS (SELECT doc_id, step, unnest(range(0, 600)) AS i FROM ids),
        |sv AS (SELECT doc_id, (i * step) % 65536 - 32768 AS s FROM px),
        |enc AS (SELECT doc_id, s,
        |    least(32767, CASE WHEN s < 0 THEN 132 - s ELSE s + 132 END)
        |      AS pcm,
        |    CASE WHEN s < 0 THEN 127 ELSE 255 END AS mask
        |  FROM sv),
        |sg AS (SELECT doc_id, s, pcm, mask,
        |    greatest(0, CAST(floor(log2(CAST(pcm AS DOUBLE))) AS BIGINT)
        |      - 7) AS seg
        |  FROM enc),
        |cd AS (SELECT doc_id, s,
        |    xor(seg * 16 + (pcm // (1 << (seg + 3))) % 16, mask) AS code
        |  FROM sg),
        |dc AS (SELECT doc_id, s, 255 - code AS u FROM cd),
        |er AS (SELECT doc_id,
        |    (CASE WHEN u >= 128
        |      THEN 132 - (((u % 16) * 8 + 132) << ((u // 16) % 8))
        |      ELSE (((u % 16) * 8 + 132) << ((u // 16) % 8)) - 132 END)
        |      - s AS e
        |  FROM dc)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(e) AS BIGINT) AS sum_err,
        |  CAST(max(abs(e)) AS BIGINT) AS max_abs_err,
        |  CAST(sum(e * e) AS BIGINT) AS sse
        |FROM er GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "mm_g711" ->
      // companding is memoryless: each decoded sample is one closed-
      // form expression of its code byte (CCITT g711 expand formulas),
      // CASEd on the doc's μ-law / A-law lane
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id
        |  FROM documents WHERE doc_id < 64),
        |px AS (SELECT doc_id, unnest(range(0, 600)) AS i FROM ids),
        |cb AS (SELECT doc_id, (doc_id * 7 + i * 11) % 256 AS b FROM px),
        |dec AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN
        |      CASE WHEN (255 - b) >= 128
        |        THEN 132 - ((((255 - b) % 16) * 8 + 132)
        |          << (((255 - b) // 16) % 8))
        |        ELSE ((((255 - b) % 16) * 8 + 132)
        |          << (((255 - b) // 16) % 8)) - 132 END
        |    ELSE
        |      CASE WHEN xor(b, 85) >= 128 THEN
        |        CASE WHEN ((xor(b, 85) // 16) % 8) = 0
        |          THEN (xor(b, 85) % 16) * 16 + 8
        |          ELSE ((xor(b, 85) % 16) * 16 + 264)
        |            << (((xor(b, 85) // 16) % 8) - 1) END
        |      ELSE
        |        -(CASE WHEN ((xor(b, 85) // 16) % 8) = 0
        |          THEN (xor(b, 85) % 16) * 16 + 8
        |          ELSE ((xor(b, 85) % 16) * 16 + 264)
        |            << (((xor(b, 85) // 16) % 8) - 1) END)
        |      END
        |    END AS v
        |  FROM cb)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(v) AS BIGINT) AS sum_s, CAST(min(v) AS BIGINT) AS min_s,
        |  CAST(max(v) AS BIGINT) AS max_s
        |FROM dec GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_kmv_distinct" ->
      """WITH t0 AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |t AS (SELECT DISTINCT source, tok FROM t0 WHERE tok <> ''),
        |h AS (SELECT source, tok,
        |    ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM t),
        |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM h
        |  GROUP BY source),
        |kth AS (SELECT source, h AS kth_hash FROM (SELECT source, h,
        |    row_number() OVER (PARTITION BY source ORDER BY h, tok) AS rn
        |  FROM h) WHERE rn = 16)
        |SELECT ex.source, ex.n_exact, kth.kth_hash,
        |  CASE WHEN kth.kth_hash IS NULL THEN ex.n_exact
        |    ELSE CAST(floor(15.0 * 1152921504606846976.0
        |      / CAST(kth.kth_hash AS DOUBLE)) AS BIGINT) END AS est_floor
        |FROM ex LEFT JOIN kth ON kth.source = ex.source
        |ORDER BY ex.source""".stripMargin,

    "text_kmv_stream" ->
      // the batch estimator's kth/est columns only (sources reaching a
      // full k-set — all of them at every SF)
      """WITH t0 AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |t AS (SELECT DISTINCT source, tok FROM t0 WHERE tok <> ''),
        |h AS (SELECT source, tok,
        |    ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM t),
        |kth AS (SELECT source, h AS kth_hash FROM (SELECT source, h,
        |    row_number() OVER (PARTITION BY source ORDER BY h, tok) AS rn
        |  FROM h) WHERE rn = 16)
        |SELECT source, kth_hash,
        |  CAST(floor(15.0 * 1152921504606846976.0
        |    / CAST(kth_hash AS DOUBLE)) AS BIGINT) AS est_floor
        |FROM kth ORDER BY source""".stripMargin,

    "text_vocab_overlap" ->
      """WITH v AS (SELECT DISTINCT source, tok FROM (SELECT source,
        |    unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> ''),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM v
        |  GROUP BY source),
        |inter AS (SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY a.source, b.source)
        |SELECT i.src_a, i.src_b, sa.n AS n_a, sb.n AS n_b, i.n_shared,
        |  CAST(i.n_shared * 1000000 // (sa.n + sb.n - i.n_shared)
        |    AS BIGINT) AS jaccard_ppm
        |FROM inter i JOIN sz sa ON sa.source = i.src_a
        |JOIN sz sb ON sb.source = i.src_b
        |ORDER BY i.src_a, i.src_b""".stripMargin,

    "mm_adpcm" ->
      // the IMA decode recurrence replayed verbatim: published step /
      // index tables as list literals, diff = step//8 (+step if b2)
      // (+step//2 if b1) (+step//4 if b0), sign b3, Int16 clamp, index
      // clamp to [0, 88]; seed sample 0 counts in the stats
      """WITH RECURSIVE ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id
        |  FROM documents WHERE doc_id < 64),
        |st AS (SELECT [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,
        |    34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,
        |    157,173,190,209,230,253,279,307,337,371,408,449,494,544,
        |    598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,
        |    1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,
        |    5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,
        |    15289,16818,18500,20350,22385,24623,27086,29794,32767] AS tab,
        |  [-1,-1,-1,-1,2,4,6,8,-1,-1,-1,-1,2,4,6,8] AS itab),
        |rec AS (
        |  SELECT doc_id, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS pred,
        |    CAST(0 AS BIGINT) AS idx, CAST(0 AS BIGINT) AS ssum,
        |    CAST(0 AS BIGINT) AS smin, CAST(0 AS BIGINT) AS smax
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, i + 1, npred, nidx, ssum + npred,
        |    least(smin, npred), greatest(smax, npred)
        |  FROM (
        |    SELECT doc_id, i, ssum, smin, smax,
        |      CASE WHEN (n & 8) != 0
        |        THEN greatest(-32768, least(32767, pred - diff))
        |        ELSE greatest(-32768, least(32767, pred + diff)) END
        |        AS npred,
        |      greatest(0, least(88, idx + itab[n + 1])) AS nidx
        |    FROM (
        |      SELECT doc_id, i, pred, idx, ssum, smin, smax, itab, n,
        |        step // 8
        |          + CASE WHEN (n & 4) != 0 THEN step ELSE 0 END
        |          + CASE WHEN (n & 2) != 0 THEN step // 2 ELSE 0 END
        |          + CASE WHEN (n & 1) != 0 THEN step // 4 ELSE 0 END
        |          AS diff
        |      FROM (
        |        SELECT rec.*, stt.tab, stt.itab,
        |          ((rec.doc_id * 5 + rec.i * 3) % 16) AS n,
        |          stt.tab[rec.idx + 1] AS step
        |        FROM rec, st stt WHERE rec.i < 800))))
        |SELECT doc_id, CAST(801 AS BIGINT) AS n_samples, ssum AS sum_s,
        |  smin AS min_s, smax AS max_s
        |FROM rec WHERE i = 800 ORDER BY doc_id""".stripMargin,

    "mm_psnr" ->
      // every residual is closed-form doc_id arithmetic: diff at pixel
      // i = ((doc_id + i) % 7) − 3, never clipped by construction
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id
        |  FROM documents WHERE doc_id < 120),
        |px AS (SELECT doc_id, unnest(range(0, 576)) AS i FROM ids),
        |dd AS (SELECT doc_id, ((doc_id + i) % 7) - 3 AS dv FROM px),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_px,
        |    CAST(sum(dv * dv) AS BIGINT) AS sse,
        |    CAST(max(abs(dv)) AS BIGINT) AS max_abs_err
        |  FROM dd GROUP BY doc_id)
        |SELECT doc_id, n_px, sse, max_abs_err,
        |  CASE WHEN sse > 0 THEN CAST(floor(10.0 *
        |    log10((65025.0 * n_px) / sse)) AS BIGINT) END AS psnr_db_floor
        |FROM agg ORDER BY doc_id""".stripMargin,

    "q_lm_dirichlet" -> lmDirichletOracleSql,
    // indexed LM changes only the I/O path (postings tf/dl, per-bucket
    // exact cf, sidecar |C|) — scores identical, oracle verbatim
    "q_lm_dirichlet_indexed" -> lmDirichletOracleSql,

    "q_map_eval" ->
      // the ndcg oracle's bm25 run, folded to AP@10 in exact integer
      // ppm: P@k fractions share denominator lcm(1..10) = 2520
      """WITH d AS (SELECT doc_id, source, text FROM documents),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM d),
        |t AS (SELECT * FROM toks WHERE tok <> ''),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        |st AS (SELECT (SELECT count(*) FROM d) AS n,
        |    (SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
        |      / (SELECT count(*) FROM d) AS avgdl),
        |qd AS (SELECT doc_id AS qid, source AS qsource,
        |    array_to_string(string_split(text, ' ')[5:12], ' ') AS qtext
        |  FROM d WHERE doc_id < 20),
        |q AS (SELECT qid, unnest(list_distinct(string_split(qtext, ' ')))
        |    AS tok FROM qd),
        |qq AS (SELECT * FROM q WHERE tok <> ''),
        |scored AS (SELECT qq.qid, tf.doc_id,
        |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |  FROM qq JOIN tf ON qq.tok = tf.tok JOIN df ON qq.tok = df.tok
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
        |  GROUP BY qq.qid, tf.doc_id),
        |run AS (SELECT qid, doc_id, rnk FROM (SELECT qid, doc_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)
        |      AS rnk FROM scored) WHERE rnk <= 10),
        |graded AS (SELECT run.qid, run.rnk,
        |    CASE WHEN run.doc_id = run.qid OR dd.source = qd.qsource
        |      THEN 1 ELSE 0 END AS rel
        |  FROM run JOIN d dd ON dd.doc_id = run.doc_id
        |  JOIN qd ON qd.qid = run.qid),
        |cum AS (SELECT qid, rnk, rel, sum(rel) OVER (PARTITION BY qid
        |    ORDER BY rnk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS hits_k FROM graded),
        |ap AS (SELECT qid,
        |    CAST(sum(CASE WHEN rel = 1 THEN hits_k * (2520 // rnk)
        |      ELSE 0 END) AS BIGINT) AS ap_num,
        |    CAST(sum(rel) AS BIGINT) AS n_rel_in_10
        |  FROM cum GROUP BY qid),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS ns FROM d
        |  GROUP BY source)
        |SELECT qd.qid, coalesce(ap.n_rel_in_10, 0) AS n_rel_in_10,
        |  CAST(coalesce(ap.ap_num, 0) * 1000000
        |    // (least(ns.ns, 10) * 2520) AS BIGINT) AS ap_ppm
        |FROM qd JOIN ns ON ns.source = qd.qsource
        |LEFT JOIN ap ON ap.qid = qd.qid
        |ORDER BY qd.qid""".stripMargin,

    // identical results by construction: the materialized index changes
    // the I/O path (bucket-pruned postings), never the scoring — so the
    // direct lane's oracle applies VERBATIM
    "q_bm25_indexed" -> bm25TopkOracleSql,
    // maintained index ≡ full corpus after the decoy delete — same oracle
    "q_bm25_maintained" -> bm25TopkOracleSql,
    // re-sharding changes bucket membership, never scoring — same oracle
    "q_bm25_rebuilt" -> bm25TopkOracleSql,
    // streamed build ≡ fresh build (scrub-then-append, commit-gated) —
    // same oracle
    "q_bm25_stream" -> bm25TopkOracleSql,

    // closed-form resample: u_k = (k·step) mod 65536 (the sawtooth synth
    // in offset-binary units), amp = (u_k·(3−r) + u_{k+1}·r) // 3 at
    // k = (j·8)//3, r = (j·8)%3 — all non-negative, // ≡ Spark div
    "mm_resample" ->
      """WITH d AS (SELECT doc_id, 257 + (doc_id % 7) * 31 AS st
        |  FROM documents WHERE doc_id < 200),
        |j AS (SELECT doc_id, st,
        |    unnest(range(0, ((2000 - 1) * 3) // 8 + 1)) AS jj FROM d),
        |a AS (SELECT doc_id, CAST(CASE WHEN (jj * 8) % 3 = 0
        |      THEN (((jj * 8) // 3) * st) % 65536
        |      ELSE (((((jj * 8) // 3) * st) % 65536) * (3 - (jj * 8) % 3)
        |        + ((((jj * 8) // 3 + 1) * st) % 65536) * ((jj * 8) % 3)) // 3
        |      END AS BIGINT) AS amp
        |  FROM j)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_out,
        |  CAST(sum(amp) AS BIGINT) AS sum_amp,
        |  min(amp) AS min_amp, max(amp) AS max_amp
        |FROM a GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // BM25F: per-field token melt under integer weights (title ws[1:8]
    // ×3, body ws[9:] ×1), wtf/wdl exact BIGINT sums, scoring identical
    // to the bm25 lane (round-6 + doc_id tie)
    "q_bm25f" -> bm25fOracleSql,
    // the virtual-doc identity (bm25f ≡ bm25 over fields repeated by
    // weight, pinned in OperatorsSpec) carried through the persisted
    // index: indexed(virtual) ≡ bm25(virtual) ≡ bm25f — oracle verbatim
    "q_bm25f_indexed" -> bm25fOracleSql,

    // analytic: a consistent index's sampled MRR audit is exactly
    // (n_q, n_q, 10000, false); n_q follows the stride-sample rule
    // max(1, ceil(n/20)) — the row only matches if both scoring lanes,
    // the doclens stats, and the rank tie rules all agree
    "q_bm25_audit" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |q AS (SELECT count(*) AS n_q FROM documents, nn
        |      WHERE doc_id % greatest(1, (n + 19) // 20) = 0)
        |SELECT n_q, n_q AS n_top1_agree, CAST(10000 AS BIGINT) AS mrr_bp,
        |  CAST(0 AS BIGINT) AS sidecar_n_diff,
        |  CAST(0 AS BIGINT) AS sidecar_dl_diff,
        |  FALSE AS stale FROM q""".stripMargin,

    "q_mrr_eval" ->
      // bm25TopkOracleSql's CTE chain with mid-slice queries (words
      // 5..12 of the first 20 docs), evaluated against the source doc
      """WITH d AS (SELECT doc_id, text FROM documents),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d),
        |t AS (SELECT * FROM toks WHERE tok <> ''),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        |st AS (SELECT (SELECT count(*) FROM d) AS n,
        |    (SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
        |      / (SELECT count(*) FROM d) AS avgdl),
        |q AS (SELECT doc_id AS qid, unnest(list_distinct(
        |    string_split(array_to_string(string_split(text, ' ')[5:12], ' '),
        |      ' '))) AS tok
        |  FROM d WHERE doc_id < 20),
        |qq AS (SELECT * FROM q WHERE tok <> ''),
        |scored AS (SELECT qq.qid, tf.doc_id,
        |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |  FROM qq JOIN tf ON qq.tok = tf.tok JOIN df ON qq.tok = df.tok
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
        |  GROUP BY qq.qid, tf.doc_id),
        |r AS (SELECT qid, doc_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk FROM scored),
        |rel AS (SELECT qid, CAST(rnk AS BIGINT) AS rel_rank FROM r
        |  WHERE doc_id = qid AND rnk <= 10),
        |qs AS (SELECT DISTINCT doc_id AS qid FROM d WHERE doc_id < 20)
        |SELECT qs.qid, coalesce(rel.rel_rank, 0) AS rel_rank,
        |  CASE WHEN coalesce(rel.rel_rank, 0) > 0
        |    THEN 1000000 // rel.rel_rank ELSE 0 END AS mrr_ppm,
        |  coalesce(rel.rel_rank, 0) BETWEEN 1 AND 3 AS hit3
        |FROM qs LEFT JOIN rel ON rel.qid = qs.qid ORDER BY qs.qid""".stripMargin,

    // hybrid RRF: same BM25 CTEs at top-20 + exact-cosine top-20, fused
    // as 1/(60+rank) sums — exact rationals, hash-exact
    "q_hybrid_rrf" -> hybridRrfOracleSql,
    // both lanes from the persisted indexes; bm25 indexed ≡ direct and the
    // flat index at full probe is exact — same fusion, same oracle verbatim
    "q_hybrid_rrf_indexed" -> hybridRrfOracleSql,

    // per-source KL drift: group/global token count tables off one token
    // stream; kl is fp-only (sum order differs across engines)
    "text_kl_by_source" ->
      """WITH toks AS (SELECT source AS grp, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |bygrp AS (SELECT grp, tok, count(*) AS c_gt FROM toks GROUP BY grp, tok),
        |gall AS (SELECT tok, count(*) AS c_t FROM toks GROUP BY tok),
        |grptot AS (SELECT grp, count(*) AS n_g FROM toks GROUP BY grp),
        |tot AS (SELECT count(*) AS n FROM toks)
        |SELECT b.grp AS source, CAST(g2.n_g AS BIGINT) AS n_tokens,
        |  sum((b.c_gt / CAST(g2.n_g AS DOUBLE)) *
        |      ln((b.c_gt / CAST(g2.n_g AS DOUBLE))
        |         / (g.c_t / CAST(tot.n AS DOUBLE)))) AS kl
        |FROM bygrp b JOIN gall g ON b.tok = g.tok
        |JOIN grptot g2 ON b.grp = g2.grp CROSS JOIN tot
        |GROUP BY b.grp, g2.n_g
        |ORDER BY source""".stripMargin,

    // bigram LM: conditionals smoothed against the bigram-left counts;
    // n_bigrams cast to BIGINT on both engines; logprob is fp-only (sum
    // order differs across engines at ~1e-15 rel)
    "text_bigram_lm" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bgl AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS bg FROM d),
        |cnt AS (SELECT bg, count(*) AS c FROM bgl GROUP BY bg),
        |leftc AS (SELECT string_split(bg, ' ')[1] AS w1,
        |    CAST(sum(c) AS BIGINT) AS lc FROM cnt GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok) AS v FROM
        |  (SELECT unnest(toks) AS tok FROM d) t)
        |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  avg(ln((cnt.c + 0.5) / (leftc.lc + 0.5 * v.v))) AS logprob
        |FROM bgl b JOIN cnt ON b.bg = cnt.bg
        |JOIN leftc ON string_split(b.bg, ' ')[1] = leftc.w1
        |CROSS JOIN v
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,

    "text_ppl_buckets" ->
      // text_bigram_lm's LM CTEs + per-source tertiles on the
      // round(·, 6) key (same smoothing, same 0.5-alpha)
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bgl AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS bg FROM d),
        |cnt AS (SELECT bg, count(*) AS c FROM bgl GROUP BY bg),
        |leftc AS (SELECT string_split(bg, ' ')[1] AS w1,
        |    CAST(sum(c) AS BIGINT) AS lc FROM cnt GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok) AS v FROM
        |  (SELECT unnest(toks) AS tok FROM d) t),
        |lp AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    round(avg(ln((cnt.c + 0.5) / (leftc.lc + 0.5 * v.v))), 6) AS lp6
        |  FROM bgl b JOIN cnt ON b.bg = cnt.bg
        |  JOIN leftc ON string_split(b.bg, ' ')[1] = leftc.w1
        |  CROSS JOIN v
        |  GROUP BY b.doc_id),
        |t AS (SELECT doc.source, lp.n_bigrams,
        |    CAST(ntile(3) OVER (PARTITION BY doc.source
        |      ORDER BY lp.lp6 DESC, lp.doc_id) AS BIGINT) AS bucket
        |  FROM lp JOIN documents doc USING (doc_id))
        |SELECT source, bucket, count(*) AS n_docs,
        |  CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams
        |FROM t GROUP BY source, bucket ORDER BY source, bucket""".stripMargin,

    "q_window_range_frame" ->
      """SELECT user_id, event_id,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |    RANGE BETWEEN 60 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS win_cents
        |FROM events
        |ORDER BY user_id, event_id""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |g AS (SELECT user_id, event_id, sec,
        |    sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
        |      AS gap FROM e),
        |n AS (SELECT user_id, event_id, sec,
        |    CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS new_sess
        |  FROM g),
        |s AS (SELECT user_id, sec,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS sess_id FROM n)
        |SELECT user_id, sess_id, count(*) AS n_events,
        |  min(sec) AS sess_start, max(sec) AS sess_end
        |FROM s GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_id""".stripMargin,

    "q_interval_overlap" ->
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events WHERE user_id < 12),
        |g AS (SELECT user_id, event_id, sec,
        |    sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
        |      AS gap FROM e),
        |s AS (SELECT user_id, sec,
        |    CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY sec, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS sess_id FROM g),
        |iv AS (SELECT user_id, sess_id, min(sec) AS t0, max(sec) AS t1
        |  FROM s GROUP BY user_id, sess_id)
        |SELECT a.user_id AS a_user_id, a.sess_id AS a_sess_id,
        |  b.user_id AS b_user_id, b.sess_id AS b_sess_id,
        |  least(a.t1, b.t1) - greatest(a.t0, b.t0) AS overlap_secs
        |FROM iv a, iv b
        |WHERE (a.user_id, a.sess_id) < (b.user_id, b.sess_id)
        |  AND a.t0 <= b.t1 AND b.t0 <= a.t1
        |ORDER BY a_user_id, a_sess_id, b_user_id, b_sess_id""".stripMargin,

    "q_streaks" ->
      // same day − row_number() island key
      """WITH d AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        |  FROM events WHERE event_type = 'purchase'),
        |g AS (SELECT user_id, d,
        |    d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
        |  FROM d),
        |s AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
        |  FROM g GROUP BY user_id, grp)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_days,
        |  CAST(count(*) AS BIGINT) AS n_streaks, max(len) AS longest
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ds_gapfill_hours" ->
      """WITH p AS (SELECT concat(user_id, ':', event_type) AS stream_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr, value AS v
        |  FROM events WHERE user_id < 5),
        |h AS (SELECT stream_id, hr, round(avg(v), 6) AS m
        |  FROM p GROUP BY stream_id, hr),
        |sp AS (SELECT stream_id, min(hr) AS h0, max(hr) AS h1
        |  FROM h GROUP BY stream_id),
        |g AS (SELECT stream_id, unnest(range(h0, h1 + 1)) AS hr FROM sp),
        |j AS (SELECT g.stream_id, g.hr, h.m
        |  FROM g LEFT JOIN h ON g.stream_id = h.stream_id AND g.hr = h.hr)
        |SELECT stream_id, hr,
        |  last_value(m IGNORE NULLS) OVER (PARTITION BY stream_id ORDER BY hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
        |  m IS NULL AS is_gap
        |FROM j ORDER BY stream_id, hr""".stripMargin,

    // the batch gap-fill SQL with an END-EXCLUSIVE grid (range(h0, h1)):
    // the streaming twin's final open hour per stream never closes
    "ds_stream_gapfill" ->
      """WITH p AS (SELECT concat(user_id, ':', event_type) AS stream_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr, value AS v
        |  FROM events WHERE user_id < 5),
        |h AS (SELECT stream_id, hr, round(avg(v), 6) AS m
        |  FROM p GROUP BY stream_id, hr),
        |sp AS (SELECT stream_id, min(hr) AS h0, max(hr) AS h1
        |  FROM h GROUP BY stream_id),
        |g AS (SELECT stream_id, unnest(range(h0, h1)) AS hr FROM sp),
        |j AS (SELECT g.stream_id, g.hr, h.m
        |  FROM g LEFT JOIN h ON g.stream_id = h.stream_id AND g.hr = h.hr)
        |SELECT stream_id, hr,
        |  last_value(m IGNORE NULLS) OVER (PARTITION BY stream_id ORDER BY hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
        |  m IS NULL AS is_gap
        |FROM j ORDER BY stream_id, hr""".stripMargin,

    "q_explode_pos" ->
      """SELECT doc_id, CAST(generate_subscripts(tk, 1) AS BIGINT) AS pos,
        |  unnest(tk) AS token
        |FROM (SELECT doc_id, string_split(text, ' ') AS tk
        |      FROM documents WHERE doc_id < 20)
        |ORDER BY doc_id, pos""".stripMargin,

    "q_ntile_cume" ->
      """SELECT c_custkey, c_acctbal,
        |  ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile,
        |  percent_rank() OVER (ORDER BY c_acctbal, c_custkey) AS pct_rank,
        |  cume_dist() OVER (ORDER BY c_acctbal, c_custkey) AS cume
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_argmax_customer" ->
      """SELECT c_nationkey, max(c_acctbal) AS top_bal,
        |  arg_max(c_custkey, c_acctbal) AS top_cust
        |FROM customer GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    "q_right_join_nations" ->
      """SELECT n_nationkey, n_name, coalesce(n_cust, 0) AS n_cust
        |FROM (SELECT c_nationkey, count(*) AS n_cust FROM customer
        |      GROUP BY c_nationkey) c
        |RIGHT JOIN (SELECT n_nationkey, n_name FROM nation) n
        |  ON c_nationkey = n_nationkey
        |ORDER BY n_nationkey""".stripMargin,

    "pipe_sample_stratified" ->
      """SELECT source, count(*) AS n_kept
        |FROM documents
        |WHERE CASE WHEN CAST(substr(source, 4, 10) AS BIGINT) % 2 = 0
        |  THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
        |  ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0' END
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_exists_late_ship" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_having_in_bigqty" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 120)
        |ORDER BY o_orderkey""".stripMargin,

    "graph_snapshot_stats" ->
      """SELECT user_id, CAST(ts AS DATE) AS day,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_vertices,
        |  CAST(count(*) - 1 AS BIGINT) AS n_edges,
        |  2.0 * (count(*) - 1) / count(DISTINCT event_type) AS mean_degree
        |FROM events WHERE user_id < 8
        |GROUP BY user_id, CAST(ts AS DATE)
        |ORDER BY user_id, day""".stripMargin,

    "graph_churn" ->
      // distinct transition edges per (user, day), day-ordered set diff;
      // days with a single event have no edges and carry no row (same as
      // the Spark edges explode)
      """WITH seq AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                          ORDER BY event_id) AS prev
        |  FROM events WHERE user_id < 8),
        |ed AS (SELECT DISTINCT user_id, day, prev || ' ' || event_type AS edge
        |  FROM seq WHERE prev IS NOT NULL),
        |g AS (SELECT user_id, day, list(edge) AS es FROM ed GROUP BY user_id, day),
        |o AS (SELECT user_id, day, es,
        |    lag(es) OVER (PARTITION BY user_id ORDER BY day) AS prev FROM g)
        |SELECT user_id, day,
        |  CAST(CASE WHEN prev IS NULL THEN len(es)
        |       ELSE len(list_filter(es, e -> NOT list_contains(prev, e))) END AS BIGINT) AS n_added,
        |  CAST(CASE WHEN prev IS NULL THEN 0
        |       ELSE len(list_filter(prev, e -> NOT list_contains(es, e))) END AS BIGINT) AS n_removed
        |FROM o ORDER BY user_id, day""".stripMargin,

    "graph_edge_degree" ->
      """WITH seq AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                          ORDER BY event_id) AS prev
        |  FROM events WHERE user_id < 8)
        |SELECT prev AS edge_from, count(*) AS out_degree,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_targets
        |FROM seq WHERE prev IS NOT NULL
        |GROUP BY prev ORDER BY edge_from""".stripMargin,

    "graph_pagerank" ->
      // integer-exact damped power iteration (3 rounds), mirrored
      // division-for-division: rank0 = scale//n, contrib = (r*w)//out_w,
      // r' = base + (85*inflow)//100. DuckDB's sum() widens to HUGEINT —
      // exact, cast back to BIGINT at the edges.
      """WITH seq AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                          ORDER BY event_id) AS prev
        |  FROM events WHERE user_id < 8),
        |ed AS (SELECT prev AS src, event_type AS dst,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type),
        |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w
        |  FROM ed GROUP BY src),
        |vs AS (SELECT DISTINCT v FROM
        |  (SELECT src AS v FROM ed UNION ALL SELECT dst FROM ed)),
        |pr AS (SELECT CAST(1000000000000 // count(*) AS BIGINT) AS r0,
        |    CAST(((1000000000000 // count(*)) * 15) // 100 AS BIGINT) AS base
        |  FROM vs),
        |it0 AS (SELECT v, r0 AS rank FROM vs CROSS JOIN pr),
        |f1 AS (SELECT ed.dst AS v,
        |    CAST(sum((it.rank * ed.w) // ow.out_w) AS BIGINT) AS inflow
        |  FROM ed JOIN ow USING (src) JOIN it0 it ON it.v = ed.src
        |  GROUP BY ed.dst),
        |it1 AS (SELECT vs.v,
        |    CAST(pr.base + (85 * coalesce(f1.inflow, 0)) // 100 AS BIGINT) AS rank
        |  FROM vs CROSS JOIN pr LEFT JOIN f1 ON f1.v = vs.v),
        |f2 AS (SELECT ed.dst AS v,
        |    CAST(sum((it.rank * ed.w) // ow.out_w) AS BIGINT) AS inflow
        |  FROM ed JOIN ow USING (src) JOIN it1 it ON it.v = ed.src
        |  GROUP BY ed.dst),
        |it2 AS (SELECT vs.v,
        |    CAST(pr.base + (85 * coalesce(f2.inflow, 0)) // 100 AS BIGINT) AS rank
        |  FROM vs CROSS JOIN pr LEFT JOIN f2 ON f2.v = vs.v),
        |f3 AS (SELECT ed.dst AS v,
        |    CAST(sum((it.rank * ed.w) // ow.out_w) AS BIGINT) AS inflow
        |  FROM ed JOIN ow USING (src) JOIN it2 it ON it.v = ed.src
        |  GROUP BY ed.dst),
        |it3 AS (SELECT vs.v,
        |    CAST(pr.base + (85 * coalesce(f3.inflow, 0)) // 100 AS BIGINT) AS rank
        |  FROM vs CROSS JOIN pr LEFT JOIN f3 ON f3.v = vs.v)
        |SELECT v, rank FROM it3 ORDER BY v""".stripMargin,

    // HITS: 2 unrolled rounds of the integer mutual recursion, each side
    // renormalized by x // greatest(1, sum(x) // scale) — mirrored
    // division-for-division (all terms non-negative, so DuckDB // ≡
    // Spark div)
    "graph_hits" ->
      """WITH seq AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                          ORDER BY event_id) AS prev
        |  FROM events WHERE user_id < 8),
        |ed AS (SELECT prev AS src, event_type AS dst,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type),
        |vs AS (SELECT DISTINCT v FROM
        |  (SELECT src AS v FROM ed UNION ALL SELECT dst FROM ed)),
        |h0 AS (SELECT v, CAST(1000000000 AS BIGINT) AS hub FROM vs),
        |a1r AS (SELECT ed.dst AS v, CAST(sum(ed.w * h.hub) AS BIGINT) AS auth
        |  FROM ed JOIN h0 h ON h.v = ed.src GROUP BY ed.dst),
        |qa1 AS (SELECT greatest(1, CAST(sum(auth) AS BIGINT) // 1000000000) AS q
        |  FROM a1r),
        |a1 AS (SELECT vs.v,
        |    CAST(coalesce(a1r.auth, 0) // qa1.q AS BIGINT) AS auth
        |  FROM vs CROSS JOIN qa1 LEFT JOIN a1r ON a1r.v = vs.v),
        |h1r AS (SELECT ed.src AS v, CAST(sum(ed.w * a.auth) AS BIGINT) AS hub
        |  FROM ed JOIN a1 a ON a.v = ed.dst GROUP BY ed.src),
        |qh1 AS (SELECT greatest(1, CAST(sum(hub) AS BIGINT) // 1000000000) AS q
        |  FROM h1r),
        |h1 AS (SELECT vs.v,
        |    CAST(coalesce(h1r.hub, 0) // qh1.q AS BIGINT) AS hub
        |  FROM vs CROSS JOIN qh1 LEFT JOIN h1r ON h1r.v = vs.v),
        |a2r AS (SELECT ed.dst AS v, CAST(sum(ed.w * h.hub) AS BIGINT) AS auth
        |  FROM ed JOIN h1 h ON h.v = ed.src GROUP BY ed.dst),
        |qa2 AS (SELECT greatest(1, CAST(sum(auth) AS BIGINT) // 1000000000) AS q
        |  FROM a2r),
        |a2 AS (SELECT vs.v,
        |    CAST(coalesce(a2r.auth, 0) // qa2.q AS BIGINT) AS auth
        |  FROM vs CROSS JOIN qa2 LEFT JOIN a2r ON a2r.v = vs.v),
        |h2r AS (SELECT ed.src AS v, CAST(sum(ed.w * a.auth) AS BIGINT) AS hub
        |  FROM ed JOIN a2 a ON a.v = ed.dst GROUP BY ed.src),
        |qh2 AS (SELECT greatest(1, CAST(sum(hub) AS BIGINT) // 1000000000) AS q
        |  FROM h2r),
        |h2 AS (SELECT vs.v,
        |    CAST(coalesce(h2r.hub, 0) // qh2.q AS BIGINT) AS hub
        |  FROM vs CROSS JOIN qh2 LEFT JOIN h2r ON h2r.v = vs.v)
        |SELECT vs.v, h2.hub, a2.auth
        |FROM vs JOIN h2 ON h2.v = vs.v JOIN a2 ON a2.v = vs.v
        |ORDER BY vs.v""".stripMargin,

    "graph_ppr" ->
      // personalized teleport: r0/base mass lands on the seed set only;
      // same mirrored floor divisions as graph_pagerank (all terms
      // non-negative, so DuckDB // ≡ Spark div; sums widen to HUGEINT —
      // cast back at the edges)
      """WITH seq AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                          ORDER BY event_id) AS prev
        |  FROM events WHERE user_id < 8),
        |ed AS (SELECT prev AS src, event_type AS dst,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type),
        |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w
        |  FROM ed GROUP BY src),
        |vs AS (SELECT DISTINCT v FROM
        |  (SELECT src AS v FROM ed UNION ALL SELECT dst FROM ed)),
        |sd AS (SELECT 'signup' AS v),
        |vf AS (SELECT vs.v,
        |    CASE WHEN sd.v IS NOT NULL THEN 1 ELSE 0 END AS is_seed
        |  FROM vs LEFT JOIN sd ON sd.v = vs.v),
        |pr AS (SELECT
        |    CAST(1000000000000 // sum(is_seed) AS BIGINT) AS r0,
        |    CAST(((1000000000000 // sum(is_seed)) * 15) // 100 AS BIGINT)
        |      AS base
        |  FROM vf),
        |it0 AS (SELECT v, CAST(is_seed * r0 AS BIGINT) AS rank
        |  FROM vf CROSS JOIN pr),
        |f1 AS (SELECT ed.dst AS v,
        |    CAST(sum((it.rank * ed.w) // ow.out_w) AS BIGINT) AS inflow
        |  FROM ed JOIN ow USING (src) JOIN it0 it ON it.v = ed.src
        |  GROUP BY ed.dst),
        |it1 AS (SELECT vf.v,
        |    CAST(vf.is_seed * pr.base
        |      + (85 * coalesce(f1.inflow, 0)) // 100 AS BIGINT) AS rank
        |  FROM vf CROSS JOIN pr LEFT JOIN f1 ON f1.v = vf.v),
        |f2 AS (SELECT ed.dst AS v,
        |    CAST(sum((it.rank * ed.w) // ow.out_w) AS BIGINT) AS inflow
        |  FROM ed JOIN ow USING (src) JOIN it1 it ON it.v = ed.src
        |  GROUP BY ed.dst),
        |it2 AS (SELECT vf.v,
        |    CAST(vf.is_seed * pr.base
        |      + (85 * coalesce(f2.inflow, 0)) // 100 AS BIGINT) AS rank
        |  FROM vf CROSS JOIN pr LEFT JOIN f2 ON f2.v = vf.v),
        |f3 AS (SELECT ed.dst AS v,
        |    CAST(sum((it.rank * ed.w) // ow.out_w) AS BIGINT) AS inflow
        |  FROM ed JOIN ow USING (src) JOIN it2 it ON it.v = ed.src
        |  GROUP BY ed.dst),
        |it3 AS (SELECT vf.v,
        |    CAST(vf.is_seed * pr.base
        |      + (85 * coalesce(f3.inflow, 0)) // 100 AS BIGINT) AS rank
        |  FROM vf CROSS JOIN pr LEFT JOIN f3 ON f3.v = vf.v)
        |SELECT v, rank FROM it3 ORDER BY v""".stripMargin,

    "graph_closeness" ->
      // label-carrying BFS: the recursion walks (v, landmark, dist)
      // tuples (UNION-deduped, V×L×hops bounded), min(dist) per (v, lm)
      // is the hop distance, then the per-vertex closeness fold —
      // integer harmonic permille via 1000 // dist
      """WITH RECURSIVE lp AS (SELECT DISTINCT l_orderkey, l_partkey
        |  FROM lineitem),
        |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        |lms AS (SELECT DISTINCT k AS lm FROM
        |    (SELECT u AS k FROM e UNION ALL SELECT v FROM e)
        |  WHERE k % 50 = 0),
        |walk AS (SELECT lm AS v, lm, CAST(0 AS BIGINT) AS dist FROM lms
        |  UNION
        |  SELECT und.v, walk.lm, walk.dist + 1 FROM walk
        |  JOIN und ON und.u = walk.v WHERE walk.dist < 3),
        |d AS (SELECT v, lm, min(dist) AS dist FROM walk GROUP BY v, lm)
        |SELECT v, CAST(count(*) AS BIGINT) AS n_reached,
        |  CAST(sum(dist) AS BIGINT) AS sum_dist,
        |  CAST(sum(CASE WHEN dist > 0 THEN 1000 // dist ELSE 0 END)
        |    AS BIGINT) AS harmonic_pm,
        |  CAST(max(dist) AS BIGINT) AS ecc_hops
        |FROM d GROUP BY v ORDER BY v""".stripMargin,

    "graph_betweenness" ->
      // truncated Brandes unrolled: 3 forward σ levels (anti-joined
      // against all shallower levels), then δ folds backward with the
      // mirrored floor division (σ_parent · (10⁶ + δ_child)) // σ_child;
      // BC sums δ over sources excluding v = s
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS MATERIALIZED (SELECT u, v FROM e
        |  UNION ALL SELECT v AS u, u AS v FROM e),
        |l0 AS MATERIALIZED (SELECT DISTINCT k AS s, k AS v,
        |    CAST(1 AS BIGINT) AS sigma FROM
        |    (SELECT u AS k FROM e UNION ALL SELECT v FROM e)
        |  WHERE k % 50 = 0),
        |l1 AS MATERIALIZED (SELECT x.s, x.v,
        |    CAST(sum(x.sigma) AS BIGINT) AS sigma
        |  FROM (SELECT l0.s, und.v, l0.sigma
        |        FROM l0 JOIN und ON und.u = l0.v) x
        |  WHERE NOT EXISTS (SELECT 1 FROM l0 p
        |    WHERE p.s = x.s AND p.v = x.v)
        |  GROUP BY x.s, x.v),
        |l2 AS MATERIALIZED (SELECT x.s, x.v,
        |    CAST(sum(x.sigma) AS BIGINT) AS sigma
        |  FROM (SELECT l1.s, und.v, l1.sigma
        |        FROM l1 JOIN und ON und.u = l1.v) x
        |  WHERE NOT EXISTS (SELECT 1 FROM l0 p
        |    WHERE p.s = x.s AND p.v = x.v)
        |   AND NOT EXISTS (SELECT 1 FROM l1 p
        |    WHERE p.s = x.s AND p.v = x.v)
        |  GROUP BY x.s, x.v),
        |l3 AS MATERIALIZED (SELECT x.s, x.v,
        |    CAST(sum(x.sigma) AS BIGINT) AS sigma
        |  FROM (SELECT l2.s, und.v, l2.sigma
        |        FROM l2 JOIN und ON und.u = l2.v) x
        |  WHERE NOT EXISTS (SELECT 1 FROM l0 p
        |    WHERE p.s = x.s AND p.v = x.v)
        |   AND NOT EXISTS (SELECT 1 FROM l1 p
        |    WHERE p.s = x.s AND p.v = x.v)
        |   AND NOT EXISTS (SELECT 1 FROM l2 p
        |    WHERE p.s = x.s AND p.v = x.v)
        |  GROUP BY x.s, x.v),
        |d3 AS MATERIALIZED (SELECT s, v, sigma,
        |    CAST(0 AS BIGINT) AS delta FROM l3),
        |d2 AS MATERIALIZED (SELECT l2.s, l2.v, l2.sigma,
        |    CAST(coalesce(sum((l2.sigma * (1000000 + c.delta))
        |      // c.sigma), 0) AS BIGINT) AS delta
        |  FROM l2 LEFT JOIN (
        |    SELECT d3.s, und.u AS pv, d3.sigma, d3.delta
        |    FROM und JOIN d3 ON und.v = d3.v) c
        |  ON c.s = l2.s AND c.pv = l2.v
        |  GROUP BY l2.s, l2.v, l2.sigma),
        |d1 AS MATERIALIZED (SELECT l1.s, l1.v, l1.sigma,
        |    CAST(coalesce(sum((l1.sigma * (1000000 + c.delta))
        |      // c.sigma), 0) AS BIGINT) AS delta
        |  FROM l1 LEFT JOIN (
        |    SELECT d2.s, und.u AS pv, d2.sigma, d2.delta
        |    FROM und JOIN d2 ON und.v = d2.v) c
        |  ON c.s = l1.s AND c.pv = l1.v
        |  GROUP BY l1.s, l1.v, l1.sigma)
        |SELECT v, CAST(sum(delta) AS BIGINT) AS bc_ppm FROM (
        |  SELECT s, v, delta FROM d1 UNION ALL
        |  SELECT s, v, delta FROM d2 UNION ALL
        |  SELECT s, v, delta FROM d3)
        |WHERE v <> s GROUP BY v ORDER BY v""".stripMargin,

    "graph_walks" ->
      // same md5→BIGINT election per hop: row_number over (hash, v) ≡
      // Spark's struct min; BIGINT || VARCHAR concatenation renders
      // identically on both engines
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS MATERIALIZED (SELECT u, v FROM e
        |  UNION ALL SELECT v AS u, u AS v FROM e),
        |w0 AS MATERIALIZED (SELECT DISTINCT k AS start, k AS node FROM
        |    (SELECT u AS k FROM e UNION ALL SELECT v FROM e)
        |  WHERE k % 50 = 0),
        |w1 AS MATERIALIZED (SELECT start, node FROM (
        |  SELECT w0.start, und.v AS node, row_number() OVER (
        |      PARTITION BY w0.start ORDER BY
        |      ('0x' || substring(md5(w0.start || ':1:' || und.v), 1, 15))
        |        ::BIGINT, und.v) AS rn
        |  FROM w0 JOIN und ON und.u = w0.node) WHERE rn = 1),
        |w2 AS MATERIALIZED (SELECT start, node FROM (
        |  SELECT w1.start, und.v AS node, row_number() OVER (
        |      PARTITION BY w1.start ORDER BY
        |      ('0x' || substring(md5(w1.start || ':2:' || und.v), 1, 15))
        |        ::BIGINT, und.v) AS rn
        |  FROM w1 JOIN und ON und.u = w1.node) WHERE rn = 1),
        |w3 AS MATERIALIZED (SELECT start, node FROM (
        |  SELECT w2.start, und.v AS node, row_number() OVER (
        |      PARTITION BY w2.start ORDER BY
        |      ('0x' || substring(md5(w2.start || ':3:' || und.v), 1, 15))
        |        ::BIGINT, und.v) AS rn
        |  FROM w2 JOIN und ON und.u = w2.node) WHERE rn = 1)
        |SELECT start, CAST(0 AS INT) AS step, node FROM w0
        |UNION ALL SELECT start, CAST(1 AS INT), node FROM w1
        |UNION ALL SELECT start, CAST(2 AS INT), node FROM w2
        |UNION ALL SELECT start, CAST(3 AS INT), node FROM w3
        |ORDER BY start, step""".stripMargin,

    "graph_triangles" ->
      // same support-2 sparsification and (deg, id) orientation; the
      // row-tuple compare mirrors Spark's struct ordering
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d AS (SELECT k, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS k FROM e0 UNION ALL SELECT v FROM e0)
        |  GROUP BY k),
        |e AS (SELECT
        |    CASE WHEN (du.deg, e0.u) < (dv.deg, e0.v) THEN e0.u ELSE e0.v END AS s,
        |    CASE WHEN (du.deg, e0.u) < (dv.deg, e0.v) THEN e0.v ELSE e0.u END AS t
        |  FROM e0 JOIN d du ON du.k = e0.u JOIN d dv ON dv.k = e0.v),
        |tri AS (SELECT p1.s AS a, p1.t AS b, p2.t AS c
        |  FROM e p1 JOIN e p2 ON p2.s = p1.t
        |  JOIN e p3 ON p3.s = p1.s AND p3.t = p2.t)
        |SELECT vertex, CAST(count(*) AS BIGINT) AS n_tri
        |FROM (SELECT a AS vertex FROM tri
        |      UNION ALL SELECT b FROM tri
        |      UNION ALL SELECT c FROM tri)
        |GROUP BY vertex ORDER BY n_tri DESC, vertex LIMIT 30""".stripMargin,

    "graph_kcore" ->
      // same support-2 co-purchase edges; 4 peel rounds unrolled as
      // MATERIALIZED CTEs (a re-inlined chain re-runs the edge build
      // exponentially) — every count is an exact BIGINT
      """WITH lp AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d1 AS MATERIALIZED (SELECT vtx, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS vtx FROM e0 UNION ALL SELECT v FROM e0)
        |  GROUP BY vtx),
        |k1 AS MATERIALIZED (SELECT vtx FROM d1 WHERE deg >= 6),
        |e1 AS MATERIALIZED (SELECT u, v FROM e0
        |  WHERE u IN (SELECT vtx FROM k1) AND v IN (SELECT vtx FROM k1)),
        |d2 AS MATERIALIZED (SELECT vtx, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS vtx FROM e1 UNION ALL SELECT v FROM e1)
        |  GROUP BY vtx),
        |k2 AS MATERIALIZED (SELECT vtx FROM d2 WHERE deg >= 6),
        |e2 AS MATERIALIZED (SELECT u, v FROM e1
        |  WHERE u IN (SELECT vtx FROM k2) AND v IN (SELECT vtx FROM k2)),
        |d3 AS MATERIALIZED (SELECT vtx, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS vtx FROM e2 UNION ALL SELECT v FROM e2)
        |  GROUP BY vtx),
        |k3 AS MATERIALIZED (SELECT vtx FROM d3 WHERE deg >= 6),
        |e3 AS MATERIALIZED (SELECT u, v FROM e2
        |  WHERE u IN (SELECT vtx FROM k3) AND v IN (SELECT vtx FROM k3)),
        |d4 AS MATERIALIZED (SELECT vtx, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS vtx FROM e3 UNION ALL SELECT v FROM e3)
        |  GROUP BY vtx),
        |k4 AS MATERIALIZED (SELECT vtx FROM d4 WHERE deg >= 6),
        |e4 AS MATERIALIZED (SELECT u, v FROM e3
        |  WHERE u IN (SELECT vtx FROM k4) AND v IN (SELECT vtx FROM k4))
        |SELECT CAST(1 AS BIGINT) AS round,
        |  (SELECT CAST(count(*) AS BIGINT) FROM d1) AS n_active,
        |  (SELECT CAST(count(*) AS BIGINT) FROM d1 WHERE deg < 6)
        |    AS n_removed,
        |  (SELECT CAST(count(*) AS BIGINT) FROM e1) AS n_edges_left
        |UNION ALL SELECT 2,
        |  (SELECT count(*) FROM d2),
        |  (SELECT count(*) FROM d2 WHERE deg < 6),
        |  (SELECT count(*) FROM e2)
        |UNION ALL SELECT 3,
        |  (SELECT count(*) FROM d3),
        |  (SELECT count(*) FROM d3 WHERE deg < 6),
        |  (SELECT count(*) FROM e3)
        |UNION ALL SELECT 4,
        |  (SELECT count(*) FROM d4),
        |  (SELECT count(*) FROM d4 WHERE deg < 6),
        |  (SELECT count(*) FROM e4)
        |ORDER BY round""".stripMargin,

    "graph_richclub" ->
      // same support-2 edges; φ(k) all-integer with // division
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d AS (SELECT vtx, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS vtx FROM e0 UNION ALL SELECT v FROM e0)
        |  GROUP BY vtx),
        |ks AS (SELECT CAST(unnest([2, 4, 8]) AS BIGINT) AS k),
        |ek AS (SELECT du.deg AS du, dv.deg AS dv FROM e0
        |  JOIN d du ON du.vtx = e0.u JOIN d dv ON dv.vtx = e0.v),
        |nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_k FROM d, ks
        |  WHERE deg > k GROUP BY k),
        |ec AS (SELECT k, CAST(count(*) AS BIGINT) AS e_k FROM ek, ks
        |  WHERE du > k AND dv > k GROUP BY k)
        |SELECT nk.k, nk.n_k, coalesce(ec.e_k, 0) AS e_k,
        |  CASE WHEN nk.n_k >= 2 THEN CAST(2 * coalesce(ec.e_k, 0)
        |    * 1000000 // (nk.n_k * (nk.n_k - 1)) AS BIGINT)
        |    ELSE 0 END AS phi_ppm
        |FROM nk LEFT JOIN ec ON ec.k = nk.k ORDER BY nk.k""".stripMargin,

    "graph_degree_dist" ->
      // same support-2 edges; bucket = bit-length of the degree
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d AS (SELECT vtx, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS vtx FROM e0 UNION ALL SELECT v FROM e0)
        |  GROUP BY vtx)
        |SELECT CAST(length(bin(deg)) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_vertices,
        |  min(deg) AS min_deg, max(deg) AS max_deg
        |FROM d GROUP BY 1 ORDER BY bucket""".stripMargin,

    "graph_lpa_communities" ->
      // same support-2 edges; 2 synchronous LPA rounds unrolled as
      // MATERIALIZED CTEs with the identical packed (count, label)
      // election key
      """WITH lp AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS MATERIALIZED (SELECT u AS vtx, v AS nbr FROM e0
        |  UNION ALL SELECT v, u FROM e0),
        |l0 AS MATERIALIZED (SELECT DISTINCT vtx,
        |  CAST(vtx AS BIGINT) AS label FROM und),
        |c1 AS MATERIALIZED (SELECT und.vtx, l0.label,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM und JOIN l0 ON und.nbr = l0.vtx GROUP BY 1, 2),
        |l1 AS MATERIALIZED (SELECT vtx, 999999999 -
        |    (max(cnt * 1000000000 + (999999999 - label)) % 1000000000)
        |    AS label
        |  FROM c1 GROUP BY vtx),
        |c2 AS MATERIALIZED (SELECT und.vtx, l1.label,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM und JOIN l1 ON und.nbr = l1.vtx GROUP BY 1, 2),
        |l2 AS MATERIALIZED (SELECT vtx, 999999999 -
        |    (max(cnt * 1000000000 + (999999999 - label)) % 1000000000)
        |    AS label
        |  FROM c2 GROUP BY vtx)
        |SELECT CAST(label AS BIGINT) AS community,
        |  CAST(count(*) AS BIGINT) AS n_members
        |FROM l2 GROUP BY label ORDER BY community""".stripMargin,

    "graph_lpa_modularity" ->
      // the LPA chain (identical packed election) extended with the
      // exact-integer modularity accounting
      """WITH lp AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS MATERIALIZED (SELECT u AS vtx, v AS nbr FROM e0
        |  UNION ALL SELECT v, u FROM e0),
        |l0 AS MATERIALIZED (SELECT DISTINCT vtx,
        |  CAST(vtx AS BIGINT) AS label FROM und),
        |c1 AS MATERIALIZED (SELECT und.vtx, l0.label,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM und JOIN l0 ON und.nbr = l0.vtx GROUP BY 1, 2),
        |l1 AS MATERIALIZED (SELECT vtx, 999999999 -
        |    (max(cnt * 1000000000 + (999999999 - label)) % 1000000000)
        |    AS label
        |  FROM c1 GROUP BY vtx),
        |c2 AS MATERIALIZED (SELECT und.vtx, l1.label,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM und JOIN l1 ON und.nbr = l1.vtx GROUP BY 1, 2),
        |l2 AS MATERIALIZED (SELECT vtx, CAST(999999999 -
        |    (max(cnt * 1000000000 + (999999999 - label)) % 1000000000)
        |    AS BIGINT) AS label
        |  FROM c2 GROUP BY vtx),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
        |intra AS (SELECT la.label AS community,
        |    CAST(count(*) AS BIGINT) AS e_intra
        |  FROM e0 JOIN l2 la ON e0.u = la.vtx JOIN l2 lb ON e0.v = lb.vtx
        |  WHERE la.label = lb.label GROUP BY 1),
        |degs AS (SELECT la.label AS community,
        |    CAST(count(*) AS BIGINT) AS d_total
        |  FROM (SELECT u AS vtx FROM e0 UNION ALL SELECT v FROM e0) x
        |  JOIN l2 la ON x.vtx = la.vtx GROUP BY 1),
        |mem AS (SELECT label AS community,
        |    CAST(count(*) AS BIGINT) AS n_members FROM l2 GROUP BY 1)
        |SELECT mem.community, mem.n_members,
        |  CAST(coalesce(intra.e_intra, 0) AS BIGINT) AS e_intra,
        |  degs.d_total,
        |  4 * m.m * CAST(coalesce(intra.e_intra, 0) AS BIGINT)
        |    - degs.d_total * degs.d_total AS q_num
        |FROM mem
        |LEFT JOIN intra ON intra.community = mem.community
        |JOIN degs ON degs.community = mem.community, m
        |ORDER BY mem.community""".stripMargin,

    "q_rfm_segments" ->
      // identical total orders under ntile(5); datediff ≡
      // date_diff('day', a, b); exact cents
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |a AS (SELECT user_id, max(d) AS last_d,
        |    CAST(count(*) AS BIGINT) AS f_cnt,
        |    CAST(sum(cents) AS BIGINT) AS m_cents
        |  FROM ev GROUP BY user_id),
        |r AS (SELECT *, CAST(date_diff('day', last_d,
        |    (SELECT max(d) FROM ev)) AS BIGINT) AS r_days FROM a),
        |b AS (SELECT *,
        |    CAST(ntile(5) OVER (ORDER BY r_days DESC, user_id) AS BIGINT)
        |      AS r_b,
        |    CAST(ntile(5) OVER (ORDER BY f_cnt, user_id) AS BIGINT) AS f_b,
        |    CAST(ntile(5) OVER (ORDER BY m_cents, user_id) AS BIGINT) AS m_b
        |  FROM r)
        |SELECT user_id, r_days, f_cnt, m_cents, r_b, f_b, m_b,
        |  r_b * 100 + f_b * 10 + m_b AS segment
        |FROM b ORDER BY user_id""".stripMargin,

    "text_ngram_novelty" -> ngramNoveltyOracleSql,

    // streaming twin: first-arrival-wins + doc_id-ordered replay ⇒ the
    // decision table equals the batch lane exactly — same SQL verbatim
    "text_novelty_stream" -> ngramNoveltyOracleSql,

    "text_lang_fertility" ->
      // identical whitespace-token count: Spark size(split) ≡ DuckDB
      // len(string_split) (both count empty tokens); exact integer bp
      """WITH d AS (SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
        |    n_chars
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
        |  (10000 * CAST(sum(ntok) AS BIGINT))
        |    // CAST(count(*) AS BIGINT) AS tok_per_doc_bp,
        |  (1000000 * CAST(sum(ntok) AS BIGINT))
        |    // CAST(sum(n_chars) AS BIGINT) AS tok_per_100chars_bp
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    "emb_cluster_purity" ->
      // same argmax cell CTE as emb_prototypes; same packed election
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    CAST(label AS BIGINT) AS label FROM embeddings),
        |cents AS (SELECT vec_id AS cent_id, emb AS cemb FROM e
        |  WHERE vec_id % 50 = 0),
        |asg AS (SELECT vec_id, cell, label FROM (
        |    SELECT x.vec_id, c.cent_id AS cell, x.label,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY list_dot_product(x.emb, c.cemb)
        |          / (sqrt(list_dot_product(x.emb, x.emb))
        |             * sqrt(list_dot_product(c.cemb, c.cemb))) DESC,
        |        c.cent_id) AS rn
        |    FROM e x, cents c) WHERE rn = 1),
        |g AS (SELECT cell, label, CAST(count(*) AS BIGINT) AS cnt
        |  FROM asg GROUP BY cell, label),
        |el AS (SELECT cell, CAST(sum(cnt) AS BIGINT) AS n_members,
        |    max(cnt * 1000000 + (999999 - label)) AS p
        |  FROM g GROUP BY cell)
        |SELECT cell, n_members, 999999 - (p % 1000000) AS top_label,
        |  p // 1000000 AS n_top,
        |  (10000 * (p // 1000000)) // n_members AS purity_bp
        |FROM el ORDER BY cell""".stripMargin,

    "graph_assortativity" ->
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d AS (SELECT vtx, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS vtx FROM e0 UNION ALL SELECT v FROM e0)
        |  GROUP BY vtx)
        |SELECT CAST(count(*) AS BIGINT) AS m,
        |  CAST(sum(du.deg * dv.deg) AS BIGINT) AS s_prod,
        |  CAST(sum(du.deg + dv.deg) AS BIGINT) AS s_sum,
        |  CAST(sum(du.deg * du.deg + dv.deg * dv.deg) AS BIGINT) AS s_sq
        |FROM e0
        |JOIN d du ON e0.u = du.vtx
        |JOIN d dv ON e0.v = dv.vtx""".stripMargin,

    "emb_matryoshka_recall" ->
      // both top-3 sets fully rank-pinned ((sim desc, cid)); slicing is
      // exact, so the prefix cosines fold bit-identically too
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 20),
        |pf AS (SELECT qid, e.vec_id AS cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY
        |      list_dot_product(qemb, emb)
        |        / (sqrt(list_dot_product(qemb, qemb))
        |           * sqrt(list_dot_product(emb, emb))) DESC, e.vec_id)
        |      AS rnk
        |  FROM q, e WHERE e.vec_id <> qid),
        |full3 AS (SELECT qid, cid FROM pf WHERE rnk <= 3),
        |ep AS (SELECT vec_id, emb[1:16] AS emb FROM e),
        |qp AS (SELECT vec_id AS qid, emb AS qemb FROM ep WHERE vec_id < 20),
        |pp AS (SELECT qid, ep.vec_id AS cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY
        |      list_dot_product(qemb, emb)
        |        / (sqrt(list_dot_product(qemb, qemb))
        |           * sqrt(list_dot_product(emb, emb))) DESC, ep.vec_id)
        |      AS rnk
        |  FROM qp, ep WHERE ep.vec_id <> qid),
        |pref3 AS (SELECT qid, cid FROM pp WHERE rnk <= 3),
        |h AS (SELECT f.qid, CAST(count(*) AS BIGINT) AS n_overlap
        |  FROM full3 f JOIN pref3 p ON f.qid = p.qid AND f.cid = p.cid
        |  GROUP BY f.qid)
        |SELECT q.qid, coalesce(h.n_overlap, 0) AS n_overlap,
        |  (10000 * coalesce(h.n_overlap, 0)) // 3 AS overlap_bp
        |FROM q LEFT JOIN h USING (qid) ORDER BY qid""".stripMargin,

    "er_fuzzy_parts" ->
      // same blocking (last token) + length band + levenshtein <= 2 on
      // distinct names; DuckDB's levenshtein is the same unit-cost edit
      // distance as Spark's
      """WITH v AS (SELECT DISTINCT p_name AS val,
        |    string_split(p_name, ' ')[-1] AS blk FROM part),
        |pairs AS (SELECT a.val AS val_a, b.val AS val_b,
        |    CAST(levenshtein(a.val, b.val) AS BIGINT) AS dist
        |  FROM v a JOIN v b ON a.blk = b.blk AND a.val < b.val
        |    AND abs(length(a.val) - length(b.val)) <= 2
        |  WHERE levenshtein(a.val, b.val) <= 2),
        |cnt AS (SELECT p_name, CAST(count(*) AS BIGINT) AS n
        |  FROM part GROUP BY p_name)
        |SELECT val_a, val_b, dist, ca.n AS n_a, cb.n AS n_b
        |FROM pairs JOIN cnt ca ON ca.p_name = val_a
        |JOIN cnt cb ON cb.p_name = val_b
        |ORDER BY val_a, val_b""".stripMargin,

    "er_entity_clusters" ->
      (erResolvePrefixSql +
      """SELECT entity_id, CAST(count(*) AS BIGINT) AS n_records,
        |  CAST(count(DISTINCT p_name) AS BIGINT) AS n_variants,
        |  CAST(min(p_partkey) AS BIGINT) AS min_key
        |FROM rec GROUP BY 1 HAVING count(DISTINCT p_name) > 1
        |ORDER BY entity_id""".stripMargin),

    "er_golden_record" ->
      // survivorship: packed (len, inverted-key) election per entity
      (erResolvePrefixSql +
      """SELECT entity_id, CAST(count(*) AS BIGINT) AS n_records,
        |  CAST(999999999 - (max(CAST(length(p_name) AS BIGINT)
        |    * 1000000000 + (999999999 - p_partkey)) % 1000000000)
        |    AS BIGINT) AS golden_key,
        |  CAST(max(CAST(length(p_name) AS BIGINT) * 1000000000
        |    + (999999999 - p_partkey)) // 1000000000 AS BIGINT)
        |    AS golden_len
        |FROM rec GROUP BY 1 ORDER BY entity_id""".stripMargin),

    "pipe_bootstrap" ->
      // same md5-uniform → Poisson(1)-CDF integer thresholds; DuckDB's
      // 15-hex-char prefix cast is the shared 60-bit uniform lane
      """WITH g AS (SELECT doc_id, n_chars, unnest(range(0, 10)) AS r
        |  FROM documents),
        |u AS (SELECT r, n_chars,
        |    ('0x' || substring(md5(r || ':' || doc_id), 1, 15))::BIGINT AS u
        |  FROM g),
        |c AS (SELECT r, n_chars,
        |    CASE WHEN u < 424136118829305344 THEN 0
        |      WHEN u < 848272237658610688 THEN 1
        |      WHEN u < 1060340297073263360 THEN 2
        |      WHEN u < 1131029650211480960 THEN 3
        |      WHEN u < 1148701988496035328 THEN 4
        |      WHEN u < 1152236456152946176 THEN 5
        |      WHEN u < 1152825534095764608 THEN 6 ELSE 7 END AS c
        |  FROM u)
        |SELECT r, CAST(sum(c) AS BIGINT) AS n_draws,
        |  CAST(sum(c * n_chars) AS BIGINT) AS sum_chars,
        |  (100 * CAST(sum(c * n_chars) AS BIGINT))
        |    // CAST(sum(c) AS BIGINT) AS mean_chars_x100
        |FROM c GROUP BY r ORDER BY r""".stripMargin,

    "pipe_dataset_card" ->
      // UNION mirror of the stack(); DuckDB sum(BIGINT) → HUGEINT casts
      """WITH base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
        |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |    min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |  FROM documents),
        |dup AS (SELECT CAST(coalesce(sum(CASE WHEN c > 1 THEN c - 1 END), 0)
        |    AS BIGINT) AS n_exact_dups
        |  FROM (SELECT count(*) AS c FROM documents GROUP BY md5(text)))
        |SELECT metric, value FROM (
        |  SELECT 'n_docs' AS metric, n_docs AS value FROM base
        |  UNION ALL SELECT 'n_tokens', n_tokens FROM base
        |  UNION ALL SELECT 'n_chars_total', n_chars_total FROM base
        |  UNION ALL SELECT 'n_sources', n_sources FROM base
        |  UNION ALL SELECT 'n_langs', n_langs FROM base
        |  UNION ALL SELECT 'min_chars', min_chars FROM base
        |  UNION ALL SELECT 'max_chars', max_chars FROM base
        |  UNION ALL SELECT 'n_exact_dups', n_exact_dups FROM dup)
        |ORDER BY metric""".stripMargin,

    "pipe_feature_bins" ->
      // same integer bin arithmetic; window bounds ≡ the broadcast agg
      """WITH b AS (SELECT source, min(n_chars) AS lo, max(n_chars) AS hi
        |  FROM documents GROUP BY source),
        |x AS (SELECT d.source, d.n_chars,
        |    CAST(least(7, ((d.n_chars - b.lo) * 8) // (b.hi - b.lo + 1))
        |      AS BIGINT) AS bin
        |  FROM documents d JOIN b USING (source))
        |SELECT source, bin, CAST(count(*) AS BIGINT) AS n,
        |  min(n_chars) AS bin_min, max(n_chars) AS bin_max
        |FROM x GROUP BY source, bin ORDER BY source, bin""".stripMargin,

    "pipe_sample_weighted" ->
      """WITH t AS (SELECT doc_id, source, n_chars,
        |    ('0x' || substring(md5('ws1:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      // CAST(n_chars AS BIGINT) AS priority
        |  FROM documents)
        |SELECT doc_id, source, n_chars, priority FROM t
        |ORDER BY priority, doc_id LIMIT 40""".stripMargin,

    "pipe_winsorize" ->
      """WITH b AS (SELECT source,
        |    CAST(round(quantile_cont(n_chars, 0.05)) AS BIGINT) AS lo_b,
        |    CAST(round(quantile_cont(n_chars, 0.95)) AS BIGINT) AS hi_b
        |  FROM documents GROUP BY source),
        |c AS (SELECT d.source, d.n_chars,
        |    least(greatest(d.n_chars, b.lo_b), b.hi_b) AS cl,
        |    b.lo_b, b.hi_b
        |  FROM documents d JOIN b USING (source))
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n_chars < lo_b THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
        |  CAST(sum(CASE WHEN n_chars > hi_b THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_raw,
        |  CAST(sum(cl) AS BIGINT) AS sum_clamped
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "emb_linear_probe" ->
      // same floor(x·2^16) quantization; HUGEINT sums cast back
      """WITH q AS (SELECT vec_id, CAST(label = 0 AS BIGINT) AS y,
        |    list_transform(embedding,
        |      v -> CAST(floor(CAST(v AS DOUBLE) * 65536) AS BIGINT)) AS qv
        |  FROM embeddings),
        |g AS (SELECT CAST(i*64 - (i*(i-1))//2 + (j - i) AS BIGINT) AS idx,
        |    CAST(sum(qv[i+1] * qv[j+1]) AS BIGINT) AS val
        |  FROM q, unnest(range(0, 64)) AS ti(i), unnest(range(0, 64)) AS tj(j)
        |  WHERE i <= j GROUP BY 1),
        |b AS (SELECT CAST(2080 + i AS BIGINT) AS idx,
        |    CAST(sum(qv[i+1] * y) AS BIGINT) AS val
        |  FROM q, unnest(range(0, 64)) AS ti(i) GROUP BY 1),
        |n AS (SELECT CAST(2144 AS BIGINT) AS idx,
        |    CAST(count(*) AS BIGINT) AS val FROM q)
        |SELECT idx, val FROM
        |  (SELECT * FROM g UNION ALL SELECT * FROM b UNION ALL SELECT * FROM n)
        |ORDER BY idx""".stripMargin,

    "pipe_dsir" ->
      // same hashed-bucket fixed-point weights: md5-60 token hash mod 512
      // (≡ graft_md5_tokens), Laplace-smoothed ratio in integer floor
      // division, HUGEINT sum cast back to BIGINT
      """WITH toks AS (SELECT doc_id, lang,
        |    ('0x' || substring(md5(tok), 1, 15))::BIGINT % 512 AS b
        |  FROM documents, unnest(string_split(text, ' ')) AS t(tok)),
        |bc AS (SELECT b, count(*) AS r,
        |    count(*) FILTER (WHERE lang = 'en') AS t
        |  FROM toks GROUP BY b),
        |w AS (SELECT b, (1000000 * (t + 1)) // (r + 1) AS wt FROM bc)
        |SELECT doc_id, CAST(sum(wt) AS BIGINT) AS dsir_score
        |FROM toks JOIN w USING (b)
        |GROUP BY doc_id
        |ORDER BY dsir_score DESC, doc_id LIMIT 60""".stripMargin,

    "pipe_split_leakage" ->
      // dedup_clusters' exact pair graph + transitive closure, then the
      // split of each doc's cluster representative (singletons = self)
      """WITH RECURSIVE base AS (SELECT doc_id, text FROM documents),
        |vars AS (SELECT doc_id + 1000000 AS doc_id,
        |    concat('zz yy ', array_to_string(string_split(text, ' ')[3:], ' ')) AS text
        |  FROM base WHERE doc_id < 20),
        |docs AS (SELECT * FROM base UNION ALL SELECT * FROM vars),
        |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM docs),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(words) - 3, 0) + 2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS s FROM w),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s))
        |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.3),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(u, v) AS (SELECT u, v FROM edges
        |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |cc AS (SELECT u AS doc_id, least(u, min(v)) AS rep_id
        |  FROM reach GROUP BY u),
        |g AS (SELECT d.doc_id, coalesce(cc.rep_id, d.doc_id) AS group_id
        |  FROM docs d LEFT JOIN cc USING (doc_id)),
        |sp AS (SELECT *,
        |    CASE WHEN substr(md5(CAST(group_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
        |         WHEN substr(md5(CAST(group_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
        |         ELSE 'test' END AS split FROM g)
        |SELECT split, count(*) AS n_docs,
        |  CAST(count(DISTINCT group_id) AS BIGINT) AS n_groups,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM sp GROUP BY split ORDER BY split""".stripMargin,

    "pipe_split_hash" ->
      """WITH s AS (SELECT *,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM s GROUP BY split ORDER BY split""".stripMargin,

    "pipe_cap_per_source" ->
      """SELECT source, rn, doc_id, n_chars FROM (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 3 ORDER BY source, rn""".stripMargin,

    "pipe_redact" ->
      """SELECT doc_id,
        |  substr(regexp_replace(text, '\b(?:customer|supplier)\b', '<ENT>', 'g'),
        |         1, 80) AS snippet
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,

    "pipe_interleave" ->
      """SELECT md5(concat(source, ':', CAST(doc_id AS VARCHAR))) AS shuffle_key,
        |  doc_id, source
        |FROM documents
        |ORDER BY shuffle_key, doc_id LIMIT 200""".stripMargin,

    "pipe_profile_numeric" ->
      (Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map(c =>
        s"""SELECT '$c' AS col_name,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS DOUBLE) AS mn, CAST(max($c) AS DOUBLE) AS mx
           |FROM lineitem""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")),

    "pipe_chunk_documents" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS words
        |  FROM documents WHERE doc_id < 100),
        |st AS (SELECT doc_id, words,
        |    unnest(range(0, len(words), 20)) AS s FROM d)
        |SELECT doc_id,
        |  CAST(s / 20 AS INT) AS chunk_idx,
        |  CAST(s AS BIGINT) AS chunk_start,
        |  CAST(least(40, len(words) - s) AS BIGINT) AS n_toks,
        |  array_to_string(words[s + 1 : s + 40], ' ') AS chunk_text
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,

    "pipe_pack_sequences" ->
      """WITH t AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |c AS (SELECT source, doc_id, n_toks,
        |    CAST((sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id)
        |      - n_toks) // 256 AS BIGINT) AS pack_id FROM t)
        |SELECT source, pack_id, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS pack_tokens,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM c GROUP BY source, pack_id
        |ORDER BY source, pack_id""".stripMargin,

    "q_zorder_key" ->
      """SELECT o_orderkey,
        |  CAST(list_sum(list_transform(range(0, 16), i ->
        |    (((o_custkey >> i) & 1) << (2 * i + 1))
        |    + (((d >> i) & 1) << (2 * i)))) AS BIGINT) AS zkey
        |FROM (SELECT o_orderkey, o_custkey,
        |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
        |      AS d
        |  FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "pipe_dedup_paragraphs" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS words
        |  FROM documents),
        |p AS (SELECT doc_id, CAST(s // 3 AS INT) AS idx,
        |    array_to_string(words[s + 1 : s + 3], ' ') AS para
        |  FROM (SELECT doc_id, words,
        |      unnest(range(0, len(words), 3)) AS s FROM d)),
        |k AS (SELECT doc_id, idx, para, row_number()
        |    OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn FROM p),
        |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(para, ' ' ORDER BY idx) AS text
        |  FROM k WHERE rn = 1 GROUP BY doc_id)
        |SELECT d2.doc_id, coalesce(r.text, '') AS text,
        |  (len(string_split(d2.text, ' ')) - 1) // 3 + 1 AS n_paras,
        |  coalesce(r.n_kept, 0) AS n_kept
        |FROM documents d2 LEFT JOIN r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "pipe_paragraphs_natural" ->
      """WITH d AS (SELECT doc_id,
        |    replace(text, ' the ', e'\n\n') AS text FROM documents),
        |sp AS (SELECT doc_id, string_split(text, e'\n\n') AS ps FROM d),
        |p AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS idx, ps[i] AS para
        |  FROM (SELECT doc_id, ps, unnest(range(1, len(ps) + 1)) AS i
        |        FROM sp)),
        |k AS (SELECT doc_id, idx, para, row_number()
        |    OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn FROM p),
        |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(para, e'\n\n' ORDER BY idx) AS text
        |  FROM k WHERE rn = 1 GROUP BY doc_id)
        |SELECT d2.doc_id, coalesce(r.text, '') AS text,
        |  CAST(len(string_split(d2.text, e'\n\n')) AS BIGINT) AS n_paras,
        |  coalesce(r.n_kept, 0) AS n_kept
        |FROM d d2 LEFT JOIN r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "pipe_boilerplate" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS words
        |  FROM documents),
        |p AS (SELECT doc_id, CAST(s // 3 AS INT) AS idx,
        |    array_to_string(words[s + 1 : s + 3], ' ') AS para
        |  FROM (SELECT doc_id, words,
        |      unnest(range(0, len(words), 3)) AS s FROM d)),
        |b AS (SELECT para FROM p GROUP BY para
        |  HAVING count(DISTINCT doc_id) > 3),
        |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(para, ' ' ORDER BY idx) AS text
        |  FROM p WHERE para NOT IN (SELECT para FROM b) GROUP BY doc_id)
        |SELECT d2.doc_id, coalesce(r.text, '') AS text,
        |  (len(string_split(d2.text, ' ')) - 1) // 3 + 1 AS n_paras,
        |  coalesce(r.n_kept, 0) AS n_kept
        |FROM documents d2 LEFT JOIN r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "pipe_e2e_curation" -> curationOracleSql,
    // doc_id-ordered 3-batch replay through curateBatch: per-stage
    // deltas sum to the batch funnel exactly — oracle verbatim
    "pipe_e2e_curation_stream" -> curationOracleSql,

    "pipe_contamination" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |gr AS (SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS g FROM t),
        |bg AS (SELECT DISTINCT g FROM gr WHERE doc_id % 97 = 0)
        |SELECT gr.doc_id, count(*) AS n_shared
        |FROM gr JOIN bg USING (g)
        |WHERE doc_id % 97 <> 0
        |GROUP BY gr.doc_id ORDER BY doc_id""".stripMargin,

    "pipe_contam_bloom" ->
      // exact contamination SQL — the bloom is candidate pruning only,
      // the exact-confirm join makes the engine result identical
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |gr AS (SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS g FROM t),
        |bg AS (SELECT DISTINCT g FROM gr WHERE doc_id % 89 = 0)
        |SELECT gr.doc_id, count(*) AS n_shared
        |FROM gr JOIN bg USING (g)
        |WHERE doc_id % 89 <> 0
        |GROUP BY gr.doc_id ORDER BY doc_id""".stripMargin,

    "pipe_shuffle_shards" ->
      """WITH h AS (SELECT doc_id,
        |    ('0x' || substring(md5(concat('ep1', ':', doc_id)), 1, 15))::BIGINT AS h
        |  FROM documents)
        |SELECT doc_id, h % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin,

    "q_merge_upsert" ->
      // pure last-write-wins SQL over the same deterministic changelog;
      // the engine side applies it copy-on-write per bucket — results
      // must be identical
      """WITH o AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |    FROM orders),
        |ch AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice,
        |      o_orderstatus, 'U' AS op, 1 AS version
        |    FROM o WHERE o_orderkey % 7 = 1
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice + 5000.0, o_orderstatus,
        |      'U', 2 FROM o WHERE o_orderkey % 21 = 1
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 'D', 1
        |    FROM o WHERE o_orderkey % 7 = 2
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, 42.0, 'N', 'U', 1
        |    FROM o WHERE o_orderkey % 7 = 3),
        |latest AS (SELECT * FROM ch QUALIFY row_number() OVER (
        |    PARTITION BY o_orderkey ORDER BY version DESC, op DESC,
        |      o_custkey DESC, o_totalprice DESC, o_orderstatus DESC) = 1)
        |SELECT coalesce(c.o_orderkey, o.o_orderkey) AS o_orderkey,
        |  CASE WHEN c.op = 'U' THEN c.o_custkey ELSE o.o_custkey END AS o_custkey,
        |  CASE WHEN c.op = 'U' THEN c.o_totalprice ELSE o.o_totalprice END AS o_totalprice,
        |  CASE WHEN c.op = 'U' THEN c.o_orderstatus ELSE o.o_orderstatus END AS o_orderstatus
        |FROM o FULL OUTER JOIN latest c ON o.o_orderkey = c.o_orderkey
        |WHERE c.op IS NULL OR c.op = 'U'
        |ORDER BY o_orderkey""".stripMargin,

    "q_time_travel" ->
      // relational recomputation of each committed snapshot: v1 =
      // update(%7=1, +1000) + delete(%7=2); v2 = v1 + update(%21=1, a
      // further +5000 on the ORIGINAL cents => +6000) + inserts(%7=3)
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |v1 AS (SELECT k,
        |    CASE WHEN k % 7 = 1 THEN cents + 1000 ELSE cents END AS cents
        |  FROM base WHERE k % 7 <> 2),
        |v2 AS (
        |  SELECT k, CASE WHEN k % 21 = 1 THEN cents + 6000
        |                 WHEN k % 7 = 1 THEN cents + 1000
        |                 ELSE cents END AS cents
        |    FROM base WHERE k % 7 <> 2
        |  UNION ALL
        |  SELECT k + 100000000, 4242 FROM base WHERE k % 7 = 3)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows,
        |      CAST(sum(cents) AS BIGINT) AS sum_cents FROM base
        |  UNION ALL
        |  SELECT 1, count(*), CAST(sum(cents) AS BIGINT) FROM v1
        |  UNION ALL
        |  SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM v2)
        |ORDER BY version""".stripMargin,

    "q_mor_delete" ->
      // relational replay: v1/v2 subtract the deleted residues (DV-masked
      // reads), v3 updates the single-bucket residue, v4 (the DV-fold
      // compaction) is content-identical to v3
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |v1 AS (SELECT * FROM base WHERE k % 7 <> 2),
        |v2 AS (SELECT * FROM v1 WHERE k % 7 <> 4),
        |v3 AS (SELECT k, CASE WHEN k % 112 = 1 THEN cents + 6000
        |                 ELSE cents END AS cents FROM v2)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows,
        |      CAST(sum(cents) AS BIGINT) AS sum_cents FROM base
        |  UNION ALL
        |  SELECT 1, count(*), CAST(sum(cents) AS BIGINT) FROM v1
        |  UNION ALL
        |  SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM v2
        |  UNION ALL
        |  SELECT 3, count(*), CAST(sum(cents) AS BIGINT) FROM v3
        |  UNION ALL
        |  SELECT 4, count(*), CAST(sum(cents) AS BIGINT) FROM v3)
        |ORDER BY version""".stripMargin,

    // final content after the streamed DV deletes (+ idempotent
    // re-delivery) and in-loop folds
    "q_mor_stream" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders)
        |SELECT count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM base WHERE k % 7 <> 2 AND k % 7 <> 4""".stripMargin,

    // DV deletes diff as 'D' (before payload, NULL after), the
    // single-bucket merge as 'U'; residues are disjoint by construction
    // (k%112=1 ⇒ k%7=1)
    "q_mor_cdc" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT k, cents AS before_cents, CAST(NULL AS BIGINT) AS after_cents,
        |      'D' AS change_op
        |    FROM base WHERE k % 7 = 2 OR k % 7 = 4
        |  UNION ALL
        |  SELECT k, cents, cents + 6000, 'U' FROM base WHERE k % 112 = 1)
        |ORDER BY k""".stripMargin,

    "q_funnel_pattern" ->
      // greedy-earliest chain mirrored step by step; steps_completed
      // counts non-null stage times
      """WITH e AS (SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |s1 AS (SELECT user_id, min(sec) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT s1.user_id, s1.t1,
        |    min(CASE WHEN e.sec > s1.t1 THEN e.sec END) AS t2
        |  FROM s1 LEFT JOIN e ON e.user_id = s1.user_id
        |    AND e.event_type = 'click'
        |  GROUP BY s1.user_id, s1.t1),
        |s3 AS (SELECT s2.user_id, s2.t1, s2.t2,
        |    min(CASE WHEN e.sec > s2.t2 THEN e.sec END) AS t3
        |  FROM s2 LEFT JOIN e ON e.user_id = s2.user_id
        |    AND e.event_type = 'purchase'
        |  GROUP BY s2.user_id, s2.t1, s2.t2)
        |SELECT user_id, t1, t2, t3,
        |  CAST((t1 IS NOT NULL)::INT + (t2 IS NOT NULL)::INT
        |    + (t3 IS NOT NULL)::INT AS BIGINT) AS steps_completed
        |FROM s3 ORDER BY user_id""".stripMargin,

    "q_cohort_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |c AS (SELECT user_id, min(d) AS cohort_day FROM e GROUP BY user_id),
        |a AS (SELECT DISTINCT e.user_id, c.cohort_day,
        |    CAST(date_diff('day', c.cohort_day, e.d) AS BIGINT) AS offset_days
        |  FROM e JOIN c USING (user_id))
        |SELECT cohort_day, offset_days, count(*) AS n_users
        |FROM a GROUP BY cohort_day, offset_days
        |ORDER BY cohort_day, offset_days""".stripMargin,

    "q_dq_report" ->
      """SELECT * FROM (
        |  SELECT 'l1_qty_above_45' AS rule,
        |    CAST(sum(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        |    count(*) AS n_checked FROM lineitem
        |  UNION ALL
        |  SELECT 'l2_discount_above_7pct',
        |    CAST(sum(CASE WHEN l_discount > 0.07 THEN 1 ELSE 0 END) AS BIGINT),
        |    count(*) FROM lineitem
        |  UNION ALL
        |  SELECT 'l3_null_returnflag',
        |    CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(*) FROM lineitem
        |  UNION ALL
        |  SELECT 'l4_flag_domain',
        |    CAST(sum(CASE WHEN l_returnflag IS NOT NULL
        |        AND l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS BIGINT),
        |    count(*) FROM lineitem
        |  UNION ALL
        |  SELECT 'l5_uniq_line',
        |    CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT),
        |    count(*) FROM lineitem
        |  UNION ALL
        |  SELECT 'l6_ref_orderkey',
        |    CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(*)
        |  FROM lineitem l
        |  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON l.l_orderkey = o.o_orderkey)
        |ORDER BY rule""".stripMargin,

    "q_table_cdc" ->
      // the v0→v2 diff is closed-form from the same change recipe:
      // %7=1 updated (+1000, +6000 where %21=1), %7=2 deleted, %7=3
      // cloned to k+1e8 as inserts; all other keys untouched
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT k, 'U' AS change_op, cents AS before_cents,
        |      cents + CASE WHEN k % 21 = 1 THEN 6000 ELSE 1000 END AS after_cents
        |    FROM base WHERE k % 7 = 1
        |  UNION ALL
        |  SELECT k, 'D', cents, CAST(NULL AS BIGINT) FROM base WHERE k % 7 = 2
        |  UNION ALL
        |  SELECT k + 100000000, 'I', CAST(NULL AS BIGINT), 4242
        |    FROM base WHERE k % 7 = 3)
        |ORDER BY k""".stripMargin,

    "q_mv_incremental" -> mvOracleSql,
    "q_mv_stream" -> mvOracleSql,

    "q_scd2_intervals" ->
      """WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    event_id, event_type FROM events),
        |f AS (SELECT *, CASE WHEN lag(event_type)
        |      OVER (PARTITION BY user_id ORDER BY sec, event_id)
        |      IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
        |  FROM e),
        |g AS (SELECT *, CAST(sum(chg)
        |      OVER (PARTITION BY user_id ORDER BY sec, event_id) AS BIGINT) - 1
        |      AS island
        |  FROM f),
        |i AS (SELECT user_id, island, min(event_type) AS event_type,
        |    min(sec) AS valid_from, CAST(count(*) AS BIGINT) AS n_events
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id, island, event_type, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY island) AS valid_to,
        |  n_events
        |FROM i ORDER BY user_id, island""".stripMargin,

    "pipe_sample_budget" ->
      """WITH t AS (SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |c AS (SELECT source, n_toks,
        |    CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY k, doc_id)
        |      AS BIGINT) AS cum_toks FROM t)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS sampled_tokens,
        |  max(cum_toks) AS max_cum
        |FROM c WHERE cum_toks <= 600
        |GROUP BY source ORDER BY source""".stripMargin,

    "pipe_mixture" ->
      """WITH t AS (SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |c AS (SELECT source, n_toks,
        |    CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY k, doc_id)
        |      AS BIGINT) AS cum_toks,
        |    CASE WHEN source IN ('src0', 'src1', 'src2') THEN 900
        |         ELSE 300 END AS budget FROM t)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS sampled_tokens
        |FROM c WHERE cum_toks <= budget
        |GROUP BY source ORDER BY source""".stripMargin,

    "pipe_quality_funnel" ->
      """WITH d AS (SELECT n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |    1.0 - len(list_distinct(string_split(text, ' ')))
        |      / len(string_split(text, ' ')) AS dup_ratio
        |  FROM documents),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS s0_all,
        |    CAST(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS s1_len,
        |    CAST(sum(CASE WHEN n_chars >= 200 AND n_toks >= 30
        |      THEN 1 ELSE 0 END) AS BIGINT) AS s2_toks,
        |    CAST(sum(CASE WHEN n_chars >= 200 AND n_toks >= 30
        |      AND dup_ratio <= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS s3_dup
        |  FROM d)
        |SELECT 's0_all' AS stage, s0_all AS n_docs FROM a
        |UNION ALL SELECT 's1_len', s1_len FROM a
        |UNION ALL SELECT 's2_toks', s2_toks FROM a
        |UNION ALL SELECT 's3_dup', s3_dup FROM a
        |ORDER BY stage""".stripMargin,

    "doc_fingerprint" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 10)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM d a, d b
        |WHERE md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_embedding" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |v AS (SELECT vec_id + 100000 AS vec_id,
        |    list_concat([emb[1] + 0.05], emb[2:64]) AS emb FROM e WHERE vec_id < 20),
        |a AS (SELECT * FROM e UNION ALL SELECT * FROM v),
        |dup AS (SELECT DISTINCT y.vec_id FROM a x, a y
        |  WHERE x.vec_id < y.vec_id
        |    AND list_dot_product(x.emb, y.emb)
        |      / (sqrt(list_dot_product(x.emb, x.emb)) * sqrt(list_dot_product(y.emb, y.emb))) > 0.9)
        |SELECT vec_id FROM a WHERE vec_id NOT IN (SELECT vec_id FROM dup)
        |ORDER BY vec_id""".stripMargin,

    "mm_pipeline" ->
      // the stub codec is md5-derived on purpose (Multimodal.decodeBytes /
      // fakeFeature): meanLuma = md5 byte 0 / 255, feature[i] = float of
      // (md5(text || '#0') byte i) / 127.5 - 1 for dim=16 — recomputable
      // here byte-for-byte. feat_sum folds elements in array order on
      // both sides.
      """WITH m AS (SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |    ('0x' || substring(md5(text), 1, 2))::INT / 255.0 AS luma,
        |    list_sum(list_transform(range(0, 16), i ->
        |      CAST(CAST(('0x' || substring(md5(text || '#0'), i*2 + 1, 2))::INT
        |           / 127.5 - 1 AS FLOAT) AS DOUBLE))) AS feat_sum
        |  FROM documents)
        |SELECT kind, count(*) AS n, avg(luma) AS avg_luma,
        |  avg(feat_sum) AS avg_feat_sum
        |FROM m GROUP BY kind ORDER BY kind""".stripMargin,

    "mm_frames" ->
      // closed-form mirror of Multimodal.sampleFrames' stub slicing:
      // n = min(durationMs/2000, 32) frames per video (doc_id % 3 = 2),
      // frame i starts at min(i * max(len/max(n,1), 1), max(len-1, 0))
      // and takes min(16, len - start) bytes of the utf-8 content
      """WITH v AS (SELECT doc_id AS media_id,
        |    octet_length(encode(text)) AS len,
        |    least((n_chars * 10) // 2000, 32) AS n
        |  FROM documents WHERE doc_id < 200 AND doc_id % 3 = 2),
        |f AS (SELECT media_id, n,
        |    list_sum(list_transform(range(0, n), i ->
        |      least(least(i * greatest(len // greatest(n, 1), 1),
        |                  greatest(len - 1, 0)) + 16, len)
        |      - least(i * greatest(len // greatest(n, 1), 1),
        |              greatest(len - 1, 0)))) AS sampled_bytes
        |  FROM v WHERE n >= 1)
        |SELECT media_id, CAST(n AS BIGINT) AS n_frames,
        |  CAST(sampled_bytes AS BIGINT) AS sampled_bytes
        |FROM f ORDER BY media_id""".stripMargin,

    "mm_tone_detect" ->
      // the analytic prediction of the synth recipe — pure doc_id
      // arithmetic, no audio on the oracle side by construction
      """SELECT doc_id, CAST(300 + (doc_id % 8) * 200 AS BIGINT)
        |  AS dom_freq
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,

    "mm_audio_fingerprint" ->
      // the watermark round-trip's analytic prediction: 4 base-8 digits
      // recovered from audio ≡ doc_id mod 8⁴
      """SELECT doc_id, CAST(doc_id % 4096 AS BIGINT) AS fingerprint
        |FROM documents WHERE doc_id < 150 ORDER BY doc_id""".stripMargin,

    "mm_scene_cut" ->
      // the analytic prediction of the synth recipe: exactly one cut,
      // at 1 + doc_id % 7 — no video on the oracle side by construction
      """SELECT doc_id, CAST(1 + doc_id % 7 AS BIGINT) AS cut_idx
        |FROM documents WHERE doc_id < 120 ORDER BY doc_id""".stripMargin,

    "mm_phash_dedup" ->
      // stub-lane aHash recomputed from the md5 feature-byte chain:
      // byte i = md5(text || '#' || i//16) hex pair i%16; bit i set iff
      // 64*b_i > sum(b); halves packed little-endian into two 32-bit
      // BIGINTs; hamming = bit_count(xor) on each half
      """WITH m AS (SELECT doc_id AS media_id, text FROM documents
        |    WHERE doc_id < 300
        |  UNION ALL
        |  SELECT doc_id + 4000000, text FROM documents WHERE doc_id < 10),
        |b AS (SELECT media_id, sub.i,
        |    ('0x' || substring(md5(text || '#' || CAST(sub.i // 16 AS VARCHAR)),
        |      (sub.i % 16) * 2 + 1, 2))::BIGINT AS v
        |  FROM m CROSS JOIN (SELECT unnest(range(0, 64)) AS i) sub),
        |s AS (SELECT media_id, CAST(sum(v) AS BIGINT) AS tot
        |  FROM b GROUP BY media_id),
        |bits AS (SELECT b.media_id, b.i,
        |    CASE WHEN 64 * b.v > s.tot THEN 1 ELSE 0 END AS bit
        |  FROM b JOIN s USING (media_id)),
        |h AS (SELECT media_id,
        |    CAST(sum(CASE WHEN i < 32 THEN bit * (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS h1,
        |    CAST(sum(CASE WHEN i >= 32 THEN bit * (1::BIGINT << (i - 32)) ELSE 0 END) AS BIGINT) AS h2
        |  FROM bits GROUP BY media_id)
        |SELECT a.media_id AS media_a, b2.media_id AS media_b,
        |  CAST(bit_count(xor(a.h1, b2.h1)) + bit_count(xor(a.h2, b2.h2)) AS BIGINT) AS hamming
        |FROM h a JOIN h b2 ON a.media_id < b2.media_id
        |WHERE bit_count(xor(a.h1, b2.h1)) + bit_count(xor(a.h2, b2.h2)) <= 3
        |ORDER BY media_a, media_b""".stripMargin,

    "emb_ann_lsh" -> {
      // generated with the SAME plane-component literals the Spark operator
      // embeds (Similarity.planeComponent), so bucket assignment matches
      // bit-for-bit; DuckDB arrays are 1-based hence emb[j+1]
      val bucket = (0 until 8).map { p =>
        val terms = (0 until 64)
          .map(j => s"emb[${j + 1}] * ${operators.Similarity.planeComponent(p, j)}")
          .mkString(" + ")
        s"(CASE WHEN ($terms) >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |b AS (SELECT vec_id, emb, $bucket AS bucket FROM e),
        |p AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    list_dot_product(q.emb, c.emb)
        |      / (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb))) AS sim
        |  FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id),
        |r AS (SELECT qid, cid, sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rnk
        |  FROM p)
        |SELECT qid, cid, rnk, round(sim, 6) AS sim FROM r WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin
    },

    "emb_ann_binary" ->
      // the oracle needn't pack bits: xor+popcount over two 32-bit
      // halves == counting dims whose (x > 0) sign test disagrees
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 20),
        |h AS (SELECT q.qid, e.vec_id AS cid, e.emb, q.qemb,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      j -> CASE WHEN (q.qemb[j] > 0) <> (e.emb[j] > 0)
        |        THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
        |  FROM q JOIN e ON e.vec_id <> q.qid),
        |c AS (SELECT qid, cid, emb, qemb, hamming,
        |    row_number() OVER (PARTITION BY qid ORDER BY hamming, cid)
        |      AS crnk
        |  FROM h),
        |r AS (SELECT qid, cid, hamming,
        |    list_dot_product(qemb, emb) / (sqrt(list_dot_product(qemb, qemb))
        |      * sqrt(list_dot_product(emb, emb))) AS sim
        |  FROM c WHERE crnk <= 10),
        |t AS (SELECT qid, cid, hamming, sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid)
        |      AS BIGINT) AS rnk
        |  FROM r)
        |SELECT qid, cid, rnk, hamming, round(sim, 6) AS sim FROM t
        |WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,

    "emb_ann_ivf" -> ivfOracleSql,

    // identical computation through the PERSISTED index — same oracle
    "emb_ann_ivf_indexed" -> ivfOracleSql,

    // same replay with the attribute predicate on the CANDIDATE side
    // only (queries stay unfiltered); rank over the filtered candidate
    // set, so sparse queries legitimately return < k rows
    "emb_ann_ivf_filtered" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id % 50 = 0),
        |s AS (SELECT e.vec_id, e.emb, c.cent_id,
        |    list_dot_product(e.emb, c.cemb)
        |      / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim
        |  FROM e, c),
        |r AS (SELECT vec_id, emb, cent_id, csim,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crnk
        |  FROM s),
        |cells AS (SELECT vec_id, emb, cent_id AS cell FROM r WHERE crnk = 1),
        |probes AS (SELECT vec_id AS qid, emb AS qemb, cent_id AS cell FROM r WHERE crnk <= 2),
        |p AS (SELECT qid, cells.vec_id AS cid,
        |    list_dot_product(qemb, emb)
        |      / (sqrt(list_dot_product(qemb, qemb)) * sqrt(list_dot_product(emb, emb))) AS sim
        |  FROM probes JOIN cells USING (cell)
        |  WHERE cells.vec_id <> qid AND cells.vec_id % 4 = 1),
        |t AS (SELECT qid, cid, sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rnk
        |  FROM p)
        |SELECT qid, cid, rnk, round(sim, 6) AS sim FROM t WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin,

    // build+append+delete lifecycle nets out to the full corpus under
    // the same frozen quantizer — same oracle verbatim
    "emb_ann_ivf_maintained" -> ivfOracleSql,
    // tombstone-masked content nets to the corpus — same oracle verbatim
    "emb_ann_ivf_mor" -> ivfOracleSql,
    // compaction is content-preserving — same search, same oracle
    "emb_ann_ivf_compacted" -> ivfOracleSql,

    // streaming scrub-then-append maintenance converges to the batch
    // build (re-delivered batch included) — same oracle verbatim
    "emb_ann_ivf_stream" -> ivfOracleSql,

    "emb_ann_ivf_stats" ->
      // home-cell assignment cardinalities: the crnk=1 cells of the
      // shared IVF chain, counted per centroid
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id % 50 = 0),
        |s AS (SELECT e.vec_id, c.cent_id,
        |    list_dot_product(e.emb, c.cemb)
        |      / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim
        |  FROM e, c),
        |r AS (SELECT vec_id, cent_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crnk
        |  FROM s)
        |SELECT cent_id AS cell, count(*) AS n_vecs
        |FROM r WHERE crnk = 1 GROUP BY cent_id ORDER BY cell""".stripMargin,

    "q_bm25_index_stats" ->
      // bucket-independent index totals: a token's postings live wholly
      // in its bucket, so the per-bucket sums equal these corpus counts
      """WITH t0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents),
        |t AS (SELECT * FROM t0 WHERE tok <> '')
        |SELECT
        |  (SELECT count(*) FROM (SELECT DISTINCT doc_id, tok FROM t))
        |    AS n_postings,
        |  (SELECT count(DISTINCT tok) FROM t) AS n_tokens,
        |  (SELECT count(DISTINCT doc_id) FROM t) AS n_docs,
        |  (SELECT count(*) FROM t) AS total_len""".stripMargin,

    "emb_ann_recall" ->
      // IVF lane = emb_ann_ivf's CTE chain with probes restricted to the
      // 20 eval queries; exact lane = brute-force top-3 for the same
      // queries; overlap and bp are exact integers
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id % 50 = 0),
        |s AS (SELECT e.vec_id, e.emb, c.cent_id,
        |    list_dot_product(e.emb, c.cemb)
        |      / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim
        |  FROM e, c),
        |r AS (SELECT vec_id, emb, cent_id, csim,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crnk
        |  FROM s),
        |cells AS (SELECT vec_id, emb, cent_id AS cell FROM r WHERE crnk = 1),
        |probes AS (SELECT vec_id AS qid, emb AS qemb, cent_id AS cell
        |  FROM r WHERE crnk <= 2 AND vec_id < 20),
        |p AS (SELECT qid, cells.vec_id AS cid,
        |    list_dot_product(qemb, emb)
        |      / (sqrt(list_dot_product(qemb, qemb)) * sqrt(list_dot_product(emb, emb))) AS sim
        |  FROM probes JOIN cells USING (cell) WHERE cells.vec_id <> qid),
        |ivf AS (SELECT qid, cid FROM (SELECT qid, cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rnk
        |  FROM p) WHERE rnk <= 3),
        |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 20),
        |xp AS (SELECT qid, e.vec_id AS cid,
        |    list_dot_product(qemb, emb)
        |      / (sqrt(list_dot_product(qemb, qemb)) * sqrt(list_dot_product(emb, emb))) AS sim
        |  FROM q, e WHERE e.vec_id <> qid),
        |exact AS (SELECT qid, cid FROM (SELECT qid, cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rnk
        |  FROM xp) WHERE rnk <= 3),
        |h AS (SELECT exact.qid, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM exact JOIN ivf ON ivf.qid = exact.qid AND ivf.cid = exact.cid
        |  GROUP BY exact.qid)
        |SELECT q.qid, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  (10000 * CAST(coalesce(h.n_hits, 0) AS BIGINT)) // 3 AS recall_bp
        |FROM q LEFT JOIN h ON h.qid = q.qid ORDER BY q.qid""".stripMargin,

    // IVF probe skeleton (stride-50 centroids, float-cosine argmax,
    // nprobe 2) + the SQ8 quantization CTEs; scoring = integer code
    // dots, rank (dot desc, cid) — no fp tolerance anywhere
    "emb_ann_ivf_sq8" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cent_id, emb AS cemb FROM e
        |  WHERE vec_id % 50 = 0),
        |s AS (SELECT e.vec_id, e.emb, c.cent_id,
        |    list_dot_product(e.emb, c.cemb)
        |      / (sqrt(list_dot_product(e.emb, e.emb))
        |         * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim
        |  FROM e, c),
        |r AS (SELECT vec_id, cent_id, csim,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY csim DESC, cent_id) AS crnk
        |  FROM s),
        |cells AS (SELECT vec_id, cent_id AS cell FROM r WHERE crnk = 1),
        |probes AS (SELECT vec_id AS qid, cent_id AS cell FROM r
        |  WHERE crnk <= 2),
        |x AS (SELECT vec_id, CAST(generate_subscripts(emb, 1) AS BIGINT)
        |    AS dim, unnest(emb) AS raw FROM e),
        |pr AS (SELECT dim, min(raw) AS vmin, max(raw) - min(raw) AS sp
        |  FROM x GROUP BY dim),
        |q8 AS (SELECT vec_id, x.dim,
        |    CASE WHEN sp = 0 THEN 0.0
        |      ELSE least(255.0, floor((raw - vmin) * 255.0 / sp)) END AS qv
        |  FROM x JOIN pr USING (dim)),
        |code AS (SELECT vec_id, list(qv ORDER BY dim) AS qc
        |  FROM q8 GROUP BY vec_id),
        |p AS (SELECT probes.qid, cells.vec_id AS cid,
        |    CAST(list_dot_product(qa.qc, ca.qc) AS BIGINT) AS dot
        |  FROM probes JOIN cells USING (cell)
        |  JOIN code qa ON qa.vec_id = probes.qid
        |  JOIN code ca ON ca.vec_id = cells.vec_id
        |  WHERE cells.vec_id <> probes.qid),
        |t AS (SELECT qid, cid, dot,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY dot DESC, cid) AS BIGINT) AS rnk
        |  FROM p)
        |SELECT qid, cid, rnk, dot FROM t WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin,

    "emb_ann_ivf_trained" -> ivfTrainedOracleSql,
    "emb_ann_ivf_rebuilt" -> ivfTrainedOracleSql,
    // audit-triggered rebuild on full content ⇒ the trained lane exactly;
    // a silent non-firing audit would hash-diverge from this oracle
    "emb_ann_ivf_audited" -> ivfTrainedOracleSql,

    "emb_ann_ivfpq" -> ivfpqOracleSql,

    "emb_ann_ivfpq_indexed" -> ivfpqOracleSql,
    "emb_ann_ivfpq_filtered" -> ivfpqFilteredOracleSql,
    "emb_ann_ivf_postfiltered" -> ivfPostFilteredOracleSql,

    "emb_ann_ivfpq_appended" -> ivfpqOracleSql,

    "emb_ann_ivfpq_stream" -> ivfpqOracleSql,

    "emb_ann_ivfpq_refined" -> ivfpqRefinedOracleSql,

    // staged (batch, cell) COW delete of the decoys leaves content ≡
    // corpus; compaction is content-preserving — same oracle verbatim
    "emb_ann_ivfpq_deleted" -> ivfpqOracleSql,
    "emb_ann_ivfpq_compacted" -> ivfpqOracleSql,
    // audit-triggered re-encode on full content ⇒ the oracle's own
    // sampling exactly; a silent non-firing audit would hash-diverge
    "emb_ann_ivfpq_maintained" -> ivfpqOracleSql,

    "emb_ann_ivfpq_stats" ->
      // home-cell assignment cardinalities — the emb_ann_ivf_stats rule
      // on the codes-only index
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id % 50 = 0),
        |s AS (SELECT e.vec_id, c.cent_id,
        |    list_dot_product(e.emb, c.cemb)
        |      / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim
        |  FROM e, c),
        |r AS (SELECT vec_id, cent_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crnk
        |  FROM s)
        |SELECT cent_id AS cell, count(*) AS n_codes
        |FROM r WHERE crnk = 1 GROUP BY cent_id ORDER BY cell""".stripMargin,

    "emb_ann_ivfpq_audited" -> ivfpqAuditOracleSql,

    "emb_centroids" ->
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |x AS (SELECT label, CAST(generate_subscripts(emb, 1) AS BIGINT) AS dim,
        |    unnest(emb) AS v FROM e)
        |SELECT label, dim, round(avg(v), 6) AS centroid
        |FROM x GROUP BY label, dim
        |ORDER BY label, dim""".stripMargin,

    "emb_sq8_topk" ->
      // min/max of doubles are order-insensitive; the quantize keeps the
      // Spark parenthesization (x − vmin) * 255.0 / span; code dots are
      // integer-valued sums, exact at any order
      """WITH e AS (SELECT vec_id, list_transform(embedding,
        |      x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |x AS (SELECT vec_id, CAST(generate_subscripts(v, 1) AS BIGINT)
        |    AS dim, unnest(v) AS raw FROM e),
        |p AS (SELECT dim, min(raw) AS vmin, max(raw) - min(raw) AS sp
        |  FROM x GROUP BY dim),
        |q AS (SELECT vec_id, x.dim,
        |    CASE WHEN sp = 0 THEN 0.0
        |      ELSE least(255.0, floor((raw - vmin) * 255.0 / sp)) END AS qv
        |  FROM x JOIN p USING (dim)),
        |qq AS (SELECT dim, qv FROM q WHERE vec_id = 7),
        |d AS (SELECT q.vec_id, CAST(sum(q.qv * qq.qv) AS BIGINT) AS dot
        |  FROM q JOIN qq USING (dim) GROUP BY q.vec_id)
        |SELECT vec_id, dot FROM d
        |ORDER BY dot DESC, vec_id LIMIT 20""".stripMargin,

    "emb_dim_stats" ->
      // same BIGINT fixed-point (floor(v*1e6)) sums; mean/std derive
      // from the exact integer sums in identical double arithmetic, so
      // no rounding lane is needed
      """WITH e AS (SELECT list_transform(embedding,
        |      x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |x AS (SELECT CAST(generate_subscripts(v, 1) AS BIGINT) AS dim,
        |    unnest(v) AS raw FROM e),
        |f AS (SELECT dim, raw,
        |    CAST(floor(raw * 1000000.0) AS BIGINT) AS fp FROM x),
        |a AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(fp) AS BIGINT) AS sum_fp,
        |    CAST(sum(fp * fp) AS BIGINT) AS sumsq_fp,
        |    min(raw) AS vmin, max(raw) AS vmax
        |  FROM f GROUP BY dim)
        |SELECT dim, n, sum_fp, sumsq_fp,
        |  CAST(sum_fp AS DOUBLE) / (n * 1000000.0) AS mean,
        |  sqrt(greatest(0.0,
        |    CAST(sumsq_fp AS DOUBLE) / (n * 1000000000000.0)
        |      - (CAST(sum_fp AS DOUBLE) / (n * 1000000.0))
        |        * (CAST(sum_fp AS DOUBLE) / (n * 1000000.0)))) AS std_dev,
        |  vmin, vmax
        |FROM a ORDER BY dim""".stripMargin,

    "emb_ood_score" ->
      // same fixed-point profile; the per-vector sum is unordered here
      // vs graft_dot's ascending loop — fp-lane-only difference
      """WITH e AS (SELECT vec_id, list_transform(embedding,
        |      x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |x AS (SELECT vec_id, CAST(generate_subscripts(v, 1) AS BIGINT)
        |    AS dim, unnest(v) AS raw FROM e),
        |f AS (SELECT vec_id, dim, raw,
        |    CAST(floor(raw * 1000000.0) AS BIGINT) AS fp FROM x),
        |a AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(fp) AS BIGINT) AS sum_fp,
        |    CAST(sum(fp * fp) AS BIGINT) AS sumsq_fp
        |  FROM f GROUP BY dim),
        |st AS (SELECT dim,
        |    CAST(sum_fp AS DOUBLE) / (n * 1000000.0) AS mean,
        |    sqrt(greatest(0.0,
        |      CAST(sumsq_fp AS DOUBLE) / (n * 1000000000000.0)
        |        - (CAST(sum_fp AS DOUBLE) / (n * 1000000.0))
        |          * (CAST(sum_fp AS DOUBLE) / (n * 1000000.0)))) AS sd
        |  FROM a),
        |z AS (SELECT f.vec_id,
        |    CASE WHEN st.sd = 0 THEN 0.0
        |      ELSE (f.raw - st.mean) / st.sd END AS zv
        |  FROM f JOIN st ON f.dim = st.dim)
        |SELECT vec_id, round(sum(zv * zv), 6) AS ood
        |FROM z GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "emb_pca_gram" ->
      // Gram scale is 2^16 (shared with graft_gram_agg); the float-
      // widening to double is exact, so floor matches bit-for-bit
      """WITH f AS (SELECT list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 65536.0) AS BIGINT))
        |      AS q FROM embeddings),
        |pairs AS (SELECT a.i, b.j FROM
        |    (SELECT unnest(range(0, 64)) AS i) a,
        |    (SELECT unnest(range(0, 64)) AS j) b
        |  WHERE a.i <= b.j),
        |s AS (SELECT p.i, p.j,
        |    CAST(sum(q[p.i + 1] * q[p.j + 1]) AS BIGINT) AS gram_fp
        |  FROM f, pairs p GROUP BY p.i, p.j),
        |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
        |SELECT CAST(s.i AS BIGINT) AS i, CAST(s.j AS BIGINT) AS j,
        |  s.gram_fp, cnt.n
        |FROM s, cnt ORDER BY i, j""".stripMargin,

    "emb_kcenter" -> kcenterOracleSql,

    "mm_patch_grid" ->
      // each 8x8 patch mean recomputed from the gradient formula;
      // grayscale pixels contribute 299+587+114 = 1000 x v to the luma
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
        |px AS (SELECT doc_id, unnest(range(0, 4)) AS px FROM ids),
        |pxy AS (SELECT doc_id, px, unnest(range(0, 4)) AS py FROM px),
        |cells AS (SELECT doc_id, px, py,
        |    unnest(range(8 * px, 8 * px + 8)) AS x FROM pxy),
        |pix AS (SELECT doc_id, px, py, x,
        |    unnest(range(8 * py, 8 * py + 8)) AS y FROM cells)
        |SELECT doc_id, CAST(px AS INT) AS px, CAST(py AS INT) AS py,
        |  CAST(sum(1000 * ((doc_id + 7 * x + 13 * y) % 256)) // 64
        |    AS BIGINT) AS luma_pm
        |FROM pix GROUP BY doc_id, px, py
        |ORDER BY doc_id, py, px""".stripMargin,

    "pipe_span_corrupt" ->
      // same md5→BIGINT span mask; string_agg ORDER BY pos skips NULL
      // placeholders exactly like Spark's array_join; target coalesces
      // to '' for mask-free docs (string_agg of no rows is NULL where
      // array_join of an all-null array is '')
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |pt AS (SELECT doc_id, unnest(tk) AS tok,
        |    CAST(generate_subscripts(tk, 1) - 1 AS BIGINT) AS pos FROM t),
        |x AS (SELECT doc_id, tok, pos, pos // 3 AS span,
        |    (('0x' || substring(md5(doc_id || ':' || (pos // 3)), 1, 15))
        |      ::BIGINT % 5 = 0) AS flag
        |  FROM pt)
        |SELECT doc_id,
        |  CAST(max(span) + 1 AS BIGINT) AS n_spans,
        |  CAST(count(DISTINCT CASE WHEN flag THEN span END) AS BIGINT)
        |    AS n_corrupted,
        |  string_agg(CASE WHEN NOT flag THEN tok
        |    WHEN pos % 3 = 0 THEN '<X>' END, ' ' ORDER BY pos)
        |    AS corrupted,
        |  coalesce(string_agg(CASE WHEN flag THEN tok END, ' '
        |    ORDER BY pos), '') AS target
        |FROM x GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "mm_resize_img" ->
      // NN 2:1 maps output (x,y) to source (2x,2y): the 16×16 image is
      // the gradient at doubled coordinates; 4×4 patches of 4×4 px
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
        |px AS (SELECT doc_id, unnest(range(0, 4)) AS px FROM ids),
        |pxy AS (SELECT doc_id, px, unnest(range(0, 4)) AS py FROM px),
        |cells AS (SELECT doc_id, px, py,
        |    unnest(range(4 * px, 4 * px + 4)) AS x FROM pxy),
        |pix AS (SELECT doc_id, px, py, x,
        |    unnest(range(4 * py, 4 * py + 4)) AS y FROM cells)
        |SELECT doc_id, CAST(px AS INT) AS px, CAST(py AS INT) AS py,
        |  CAST(sum(1000 * ((doc_id + 14 * x + 26 * y) % 256)) // 16
        |    AS BIGINT) AS luma_pm
        |FROM pix GROUP BY doc_id, px, py
        |ORDER BY doc_id, py, px""".stripMargin,

    "mm_augment" ->
      // permuted gradient per variant k: identity (d+7x+13y), rot90
      // (d+403+7y−13x — in(y,31−x)), flipH (d+217−7x+13y — in(31−x,y));
      // all operands non-negative so % is safe on both engines
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
        |vk AS (SELECT doc_id, unnest(range(0, 3)) AS k FROM ids),
        |px AS (SELECT doc_id, k, unnest(range(0, 4)) AS px FROM vk),
        |pxy AS (SELECT doc_id, k, px, unnest(range(0, 4)) AS py FROM px),
        |cells AS (SELECT doc_id, k, px, py,
        |    unnest(range(8 * px, 8 * px + 8)) AS x FROM pxy),
        |pix AS (SELECT doc_id, k, px, py, x,
        |    unnest(range(8 * py, 8 * py + 8)) AS y FROM cells),
        |v AS (SELECT doc_id * 10 + k AS variant_id, px, py,
        |    CASE k
        |      WHEN 0 THEN (doc_id + 7 * x + 13 * y) % 256
        |      WHEN 1 THEN (doc_id + 403 + 7 * y - 13 * x) % 256
        |      ELSE (doc_id + 217 - 7 * x + 13 * y) % 256
        |    END AS pv
        |  FROM pix)
        |SELECT variant_id, CAST(px AS INT) AS px, CAST(py AS INT) AS py,
        |  CAST(sum(1000 * pv) // 64 AS BIGINT) AS luma_pm
        |FROM v GROUP BY variant_id, px, py
        |ORDER BY variant_id, py, px""".stripMargin,

    "mm_img_hist" ->
      // every pixel recomputed from the gradient formula; grayscale
      // luma_pm = 1000·v so bin = (1000·v·8) // 256000 = v // 32 exactly
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
        |xs AS (SELECT doc_id, unnest(range(0, 32)) AS x FROM ids),
        |pix AS (SELECT doc_id, x, unnest(range(0, 32)) AS y FROM xs)
        |SELECT doc_id,
        |  CAST(((doc_id + 7 * x + 13 * y) % 256) // 32 AS INT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_px
        |FROM pix GROUP BY 1, 2
        |ORDER BY doc_id, bin""".stripMargin,

    "pipe_bounded_contrib" ->
      """WITH ev AS (SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS rn
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_contrib,
        |  CAST(sum(greatest(0, least(20000, cents))) AS BIGINT)
        |    AS sum_clamped_cents
        |FROM ev WHERE rn <= 10
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "mm_vad_segments" ->
      // pure doc_id arithmetic: segment k is silent iff bit k is set;
      // each 800-sample segment is exactly 4 VAD windows
      """WITH b AS (SELECT doc_id,
        |    (doc_id >> 0) & 1 AS b0, (doc_id >> 1) & 1 AS b1,
        |    (doc_id >> 2) & 1 AS b2, (doc_id >> 3) & 1 AS b3,
        |    (doc_id >> 4) & 1 AS b4, (doc_id >> 5) & 1 AS b5
        |  FROM documents WHERE doc_id < 150)
        |SELECT doc_id,
        |  CAST((CASE WHEN b0 = 0 THEN 1 ELSE 0 END) +
        |    (CASE WHEN b1 = 0 AND b0 = 1 THEN 1 ELSE 0 END) +
        |    (CASE WHEN b2 = 0 AND b1 = 1 THEN 1 ELSE 0 END) +
        |    (CASE WHEN b3 = 0 AND b2 = 1 THEN 1 ELSE 0 END) +
        |    (CASE WHEN b4 = 0 AND b3 = 1 THEN 1 ELSE 0 END) +
        |    (CASE WHEN b5 = 0 AND b4 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_segments,
        |  CAST(4 * (6 - b0 - b1 - b2 - b3 - b4 - b5) AS BIGINT) AS n_voiced,
        |  CAST(CASE WHEN b0 = 0 THEN 0 WHEN b1 = 0 THEN 4
        |    WHEN b2 = 0 THEN 8 WHEN b3 = 0 THEN 12 WHEN b4 = 0 THEN 16
        |    WHEN b5 = 0 THEN 20 ELSE -1 END AS BIGINT) AS first_voiced
        |FROM b ORDER BY doc_id""".stripMargin,

    "pipe_dedup_eval" ->
      // predicted = exact >=0.3 Jaccard pairs INVOLVING a variant
      // (variants x corpus — bounded, never all-pairs); truth is the
      // injected (i, i+1000000) set
      """WITH base AS (SELECT doc_id, text FROM documents),
        |vars AS (SELECT doc_id + 1000000 AS doc_id,
        |    concat('zz yy ', array_to_string(string_split(text, ' ')[3:], ' ')) AS text
        |  FROM base WHERE doc_id < 20),
        |docs AS (SELECT * FROM base UNION ALL SELECT * FROM vars),
        |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM docs),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(words) - 3, 0) + 2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS s FROM w),
        |shv AS (SELECT * FROM sh WHERE doc_id >= 1000000),
        |pred AS (SELECT a.doc_id AS da, b.doc_id AS db FROM sh a, shv b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s))
        |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.3),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_pred,
        |    CAST(sum(CASE WHEN db = da + 1000000 AND da < 20
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tp
        |  FROM pred)
        |SELECT CAST(20 AS BIGINT) AS n_true, n_pred, tp,
        |  n_pred - tp AS fp, CAST(20 AS BIGINT) - tp AS fn,
        |  (1000000 * tp) // n_pred AS precision_ppm,
        |  (1000000 * tp) // 20 AS recall_ppm
        |FROM m""".stripMargin,

    "emb_mmr" ->
      // greedy MMR unrolled to 10 explicit steps (a recurrence isn't
      // plain-SQL-expressible); MATERIALIZED pins each step to one
      // evaluation — without it the u-chain re-inlines exponentially
      ("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |    FROM embeddings),
        |qv AS (SELECT emb AS qemb FROM e WHERE vec_id = 0),
        |scored AS (SELECT e.vec_id, e.emb,
        |    list_dot_product(qemb, emb)
        |      / (sqrt(list_dot_product(qemb, qemb))
        |        * sqrt(list_dot_product(emb, emb))) AS rel
        |  FROM e, qv WHERE e.vec_id <> 0),
        |cand AS MATERIALIZED (SELECT vec_id, emb, rel FROM scored
        |  ORDER BY rel DESC, vec_id LIMIT 30),
        |p1 AS (SELECT vec_id, emb, rel, 0.7 * rel AS mmr FROM cand
        |  ORDER BY rel DESC, vec_id LIMIT 1),
        |u1 AS MATERIALIZED (SELECT vec_id, emb, rel, mmr, 1 AS rnk
        |  FROM p1),
        |""".stripMargin +
        (2 to 10).map(i =>
          s"""p$i AS MATERIALIZED (SELECT c.vec_id, c.emb, c.rel,
             |    0.7 * c.rel - 0.3 * (SELECT max(list_dot_product(c.emb, u.emb)
             |      / (sqrt(list_dot_product(c.emb, c.emb))
             |        * sqrt(list_dot_product(u.emb, u.emb))))
             |      FROM u${i - 1} u) AS mmr
             |  FROM cand c
             |  WHERE c.vec_id NOT IN (SELECT vec_id FROM u${i - 1})
             |  ORDER BY mmr DESC, c.vec_id LIMIT 1),
             |u$i AS MATERIALIZED (SELECT * FROM u${i - 1}
             |  UNION ALL SELECT vec_id, emb, rel, mmr, $i FROM p$i)"""
            .stripMargin).mkString(",\n") +
        """
        |SELECT rnk, vec_id, round(rel, 6) AS rel,
        |  round(mmr, 6) AS mmr_score
        |FROM u10 ORDER BY rnk""".stripMargin),

    "graph_bfs_hops" ->
      // same support-2 co-purchase edges as graph_triangles; the
      // UNION-dedup recursion keeps state bounded by V x maxHops, and
      // min(dist) over enumerated (v, dist) pairs IS the BFS hop count
      """WITH RECURSIVE lp AS (SELECT DISTINCT l_orderkey, l_partkey
        |  FROM lineitem),
        |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        |seeds AS (SELECT DISTINCT k AS v FROM
        |    (SELECT u AS k FROM e UNION ALL SELECT v FROM e)
        |  WHERE k % 50 = 0),
        |walk AS (SELECT v, CAST(0 AS BIGINT) AS dist FROM seeds
        |  UNION
        |  SELECT und.v, walk.dist + 1 FROM walk
        |  JOIN und ON und.u = walk.v WHERE walk.dist < 3)
        |SELECT v, min(dist) AS dist FROM walk GROUP BY v
        |ORDER BY v""".stripMargin,

    "graph_sssp" ->
      // 4 unrolled Bellman–Ford rounds (fixed-round iterative rule); a
      // bounded recursion would enumerate PATHS — combinatorial on this
      // graph — where relax-and-min keeps state V-bounded per round
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v,
        |    1000000 // CAST(count(*) AS BIGINT) AS w
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS MATERIALIZED (SELECT u, v, w FROM e0
        |  UNION ALL SELECT v AS u, u AS v, w FROM e0),
        |d0 AS MATERIALIZED (SELECT min(u) AS v, CAST(0 AS BIGINT) AS dist
        |  FROM und),
        |d1 AS MATERIALIZED (SELECT v, min(dist) AS dist FROM (
        |  SELECT v, dist FROM d0 UNION ALL
        |  SELECT und.v, d0.dist + und.w FROM und JOIN d0 ON und.u = d0.v)
        |  GROUP BY v),
        |d2 AS MATERIALIZED (SELECT v, min(dist) AS dist FROM (
        |  SELECT v, dist FROM d1 UNION ALL
        |  SELECT und.v, d1.dist + und.w FROM und JOIN d1 ON und.u = d1.v)
        |  GROUP BY v),
        |d3 AS MATERIALIZED (SELECT v, min(dist) AS dist FROM (
        |  SELECT v, dist FROM d2 UNION ALL
        |  SELECT und.v, d2.dist + und.w FROM und JOIN d2 ON und.u = d2.v)
        |  GROUP BY v),
        |d4 AS MATERIALIZED (SELECT v, min(dist) AS dist FROM (
        |  SELECT v, dist FROM d3 UNION ALL
        |  SELECT und.v, d3.dist + und.w FROM und JOIN d3 ON und.u = d3.v)
        |  GROUP BY v)
        |SELECT v, dist FROM d4 ORDER BY v""".stripMargin,

    "graph_jaccard_links" ->
      // same support-2 edges; exact integer counts, one division
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
        |  FROM und GROUP BY u),
        |paths AS (SELECT x.u AS a, y.v AS c FROM und x
        |  JOIN und y ON x.v = y.u WHERE x.u < y.v),
        |cnt AS (SELECT a, c, CAST(count(*) AS BIGINT) AS cn
        |  FROM paths GROUP BY a, c),
        |nl AS (SELECT cnt.a, cnt.c, cnt.cn FROM cnt
        |  LEFT JOIN e0 ON e0.u = cnt.a AND e0.v = cnt.c
        |  WHERE e0.u IS NULL)
        |SELECT nl.a, nl.c, nl.cn,
        |  CAST(nl.cn AS DOUBLE) / (da.deg + dc.deg - nl.cn) AS jaccard
        |FROM nl JOIN deg da ON da.u = nl.a JOIN deg dc ON dc.u = nl.c
        |ORDER BY jaccard DESC, a, c LIMIT 20""".stripMargin,

    "graph_ra_links" ->
      // same support-2 edges; midpoint degree joins BEFORE the per-pair
      // agg, score is the exact 10⁹-div-deg BIGINT sum
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
        |  FROM und GROUP BY u),
        |paths AS (SELECT x.u AS a, x.v AS b, y.v AS c FROM und x
        |  JOIN und y ON x.v = y.u WHERE x.u < y.v),
        |sc AS (SELECT p.a, p.c, CAST(count(*) AS BIGINT) AS cn,
        |    CAST(sum(1000000000 // d.deg) AS BIGINT) AS ra_ppb
        |  FROM paths p JOIN deg d ON d.u = p.b GROUP BY p.a, p.c)
        |SELECT sc.a, sc.c, sc.cn, sc.ra_ppb FROM sc
        |LEFT JOIN e0 ON e0.u = sc.a AND e0.v = sc.c WHERE e0.u IS NULL
        |ORDER BY ra_ppb DESC, a, c LIMIT 20""".stripMargin,

    "pipe_k_anonymity" ->
      """SELECT c_nationkey,
        |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kb,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l_diversity,
        |  count(*) < 5 AS suppressed
        |FROM customer GROUP BY 1, 2
        |ORDER BY c_nationkey, bal_kb""".stripMargin,

    "pipe_t_closeness" ->
      """WITH base AS (SELECT c_nationkey,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kb, c_mktsegment
        |  FROM customer),
        |cv AS (SELECT c_nationkey, bal_kb, c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2, 3),
        |cls AS (SELECT c_nationkey, bal_kb, CAST(sum(c) AS BIGINT) AS n
        |  FROM cv GROUP BY 1, 2),
        |gv AS (SELECT c_mktsegment, CAST(sum(c) AS BIGINT) AS g
        |  FROM cv GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM cv),
        |grid AS (SELECT cls.c_nationkey, cls.bal_kb, cls.n, gv.g,
        |    coalesce(cv.c, 0) AS c
        |  FROM cls CROSS JOIN gv LEFT JOIN cv
        |    ON cv.c_nationkey = cls.c_nationkey AND cv.bal_kb = cls.bal_kb
        |    AND cv.c_mktsegment = gv.c_mktsegment),
        |agg AS (SELECT g2.c_nationkey, g2.bal_kb, g2.n, tot.n_total,
        |    CAST(sum(abs(g2.c * tot.n_total - g2.g * g2.n)) AS BIGINT)
        |      AS tvd_num
        |  FROM grid g2 CROSS JOIN tot GROUP BY 1, 2, 3, 4)
        |SELECT c_nationkey, bal_kb, n, tvd_num,
        |  (1000000 * tvd_num) // (2 * n * n_total) AS tvd_ppm
        |FROM agg ORDER BY c_nationkey, bal_kb""".stripMargin,

    "pipe_pii_scan" ->
      """WITH inj AS (SELECT source,
        |  CASE WHEN doc_id < 30 THEN text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' contact me at user'
        |        || CAST(doc_id AS VARCHAR) || '@example.com today'
        |      WHEN doc_id % 3 = 1 THEN ' call 555-'
        |        || CAST(doc_id + 1000 AS VARCHAR) || ' extension now'
        |      ELSE ' see https://example.org/page'
        |        || CAST(doc_id AS VARCHAR) || ' info' END
        |    ELSE text END AS text
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN regexp_matches(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_email,
        |  CAST(sum(CASE WHEN regexp_matches(text, '[0-9]{3}-[0-9]{4}')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_phone,
        |  CAST(sum(CASE WHEN regexp_matches(text, 'https?://[^ ]+')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_url
        |FROM inj GROUP BY source ORDER BY source""".stripMargin,

    "q_fuzzy_match" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |t AS (SELECT tok, count(*) AS cnt FROM toks WHERE tok <> ''
        |  GROUP BY 1),
        |q AS (SELECT substring(tok, 1, 2) || substring(tok, 4) AS qtok
        |  FROM (SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok)
        |      AS rk FROM t WHERE length(tok) >= 5)
        |  WHERE rk <= 10),
        |vk AS (SELECT tok AS term, unnest(list_distinct(list_transform(
        |    range(0, length(tok) + 1),
        |    i -> CASE WHEN i = 0 THEN tok
        |      ELSE substring(tok, 1, i - 1) || substring(tok, i + 1) END)))
        |    AS key
        |  FROM t),
        |qk AS (SELECT qtok, unnest(list_distinct(list_transform(
        |    range(0, length(qtok) + 1),
        |    i -> CASE WHEN i = 0 THEN qtok
        |      ELSE substring(qtok, 1, i - 1) || substring(qtok, i + 1) END)))
        |    AS key
        |  FROM q),
        |cand AS (SELECT DISTINCT qk.qtok, vk.term
        |  FROM qk JOIN vk USING (key))
        |SELECT qtok, term, CAST(levenshtein(qtok, term) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(qtok, term) <= 1
        |ORDER BY qtok, term""".stripMargin,

    "text_heavy_hitters" ->
      // direct full groupBy — the MG candidate pass is output-invariant
      // (structural recall + exact recount)
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
        |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        |  FROM t GROUP BY tok)
        |SELECT tok, cnt, (1000000 * cnt) // n AS freq_ppm
        |FROM c, tot WHERE cnt * 64 > n
        |ORDER BY cnt DESC, tok""".stripMargin,

    "text_oov_rate" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tt AS (SELECT * FROM t WHERE tok <> ''),
        |cnts AS (SELECT tok, count(*) AS c FROM tt GROUP BY tok),
        |v AS (SELECT tok FROM (SELECT tok,
        |    row_number() OVER (ORDER BY c DESC, tok) AS rk FROM cnts)
        |  WHERE rk <= 1000)
        |SELECT tt.source, CAST(count(*) AS BIGINT) AS n_toks,
        |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  (1000000 * CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT)) // CAST(count(*) AS BIGINT) AS oov_ppm
        |FROM tt LEFT JOIN v ON v.tok = tt.tok
        |GROUP BY tt.source ORDER BY tt.source""".stripMargin,

    "q_fingerprint_incremental" ->
      // both lanes closed-form from the change recipe; xor() is the
      // DuckDB spelling of bitwise xor (its ^ is exponentiation)
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |final AS (
        |  SELECT k, CASE WHEN k % 21 = 1 THEN cents + 6000
        |      WHEN k % 7 = 1 THEN cents + 1000 ELSE cents END AS cents
        |    FROM base WHERE k % 7 <> 2
        |  UNION ALL
        |  SELECT k + 100000000, 4242 FROM base WHERE k % 7 = 3),
        |fp0 AS (SELECT bit_xor(('0x' || substring(md5(
        |    CAST(k AS VARCHAR) || ':' || CAST(cents AS VARCHAR)),
        |    1, 15))::BIGINT) AS fp_v0 FROM base),
        |fp2 AS (SELECT bit_xor(('0x' || substring(md5(
        |    CAST(k AS VARCHAR) || ':' || CAST(cents AS VARCHAR)),
        |    1, 15))::BIGINT) AS fp_v2 FROM final),
        |chg AS (
        |  SELECT k, cents AS bc, CASE WHEN k % 21 = 1 THEN cents + 6000
        |      ELSE cents + 1000 END AS ac
        |    FROM base WHERE k % 7 = 1
        |  UNION ALL SELECT k, cents, CAST(NULL AS BIGINT)
        |    FROM base WHERE k % 7 = 2
        |  UNION ALL SELECT k + 100000000, CAST(NULL AS BIGINT), 4242
        |    FROM base WHERE k % 7 = 3),
        |d AS (SELECT bit_xor(xor(
        |    coalesce(('0x' || substring(md5(CAST(k AS VARCHAR) || ':' ||
        |      CAST(bc AS VARCHAR)), 1, 15))::BIGINT, 0),
        |    coalesce(('0x' || substring(md5(CAST(k AS VARCHAR) || ':' ||
        |      CAST(ac AS VARCHAR)), 1, 15))::BIGINT, 0))) AS delta
        |  FROM chg)
        |SELECT fp0.fp_v0, fp2.fp_v2 AS fp_v2_direct,
        |  xor(fp0.fp_v0, d.delta) AS fp_v2_incremental,
        |  fp2.fp_v2 = xor(fp0.fp_v0, d.delta) AS consistent
        |FROM fp0 CROSS JOIN fp2 CROSS JOIN d""".stripMargin,

    "text_collocations" ->
      // DuckDB arrays are 1-based: words[i] || ' ' pairs with words[i+1]
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |bi AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
        |  FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM w
        |    WHERE len(ws) >= 2)
        |  WHERE ws[i] <> '' AND ws[i + 1] <> ''),
        |toks AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(ws) AS tok FROM w) WHERE tok <> '' GROUP BY 1),
        |ntot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM toks),
        |cxy AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cxy FROM bi
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT cxy.w1, cxy.w2, cxy.cxy,
        |  (1000000 * cxy.cxy * ntot.n_total) // (t1.c * t2.c) AS lift_ppm
        |FROM cxy JOIN toks t1 ON t1.tok = cxy.w1
        |JOIN toks t2 ON t2.tok = cxy.w2 CROSS JOIN ntot
        |ORDER BY lift_ppm DESC, w1, w2 LIMIT 20""".stripMargin,

    "pipe_dataset_fingerprint" ->
      """WITH h AS (SELECT source,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || text),
        |      1, 15))::BIGINT AS h
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  bit_xor(h) AS xor_fp,
        |  CAST(sum(h % 1000000000) AS BIGINT) AS modsum_fp
        |FROM h GROUP BY source ORDER BY source""".stripMargin,

    "pipe_quantile_norm" ->
      // same CDF-join semantics: g = ceil(r*N/n_g) in integer form,
      // qnorm = the distinct value whose cumulative span covers g
      """WITH rows_ AS (SELECT doc_id, source, n_chars FROM documents),
        |cnt AS (SELECT n_chars AS qnorm,
        |    CAST(sum(count(*)) OVER (ORDER BY n_chars) AS BIGINT) AS hi,
        |    CAST(sum(count(*)) OVER (ORDER BY n_chars) AS BIGINT)
        |      - CAST(count(*) AS BIGINT) AS lo
        |  FROM rows_ GROUP BY n_chars),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_g
        |  FROM rows_ GROUP BY source),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM rows_),
        |r AS (SELECT doc_id, source, n_chars, CAST(row_number() OVER (
        |    PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS r
        |  FROM rows_),
        |g AS (SELECT r.doc_id, r.source, r.n_chars,
        |    (r.r * tot.n_total + ns.n_g - 1) // ns.n_g AS g
        |  FROM r JOIN ns USING (source) CROSS JOIN tot)
        |SELECT g.doc_id, g.source, g.n_chars, cnt.qnorm
        |FROM g JOIN cnt ON g.g > cnt.lo AND g.g <= cnt.hi
        |ORDER BY doc_id""".stripMargin,

    "emb_hard_negatives" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    label FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qemb, label AS qlabel FROM e
        |  WHERE vec_id < 20),
        |scored AS (SELECT q.qid, q.qlabel, e.vec_id, e.label,
        |    list_dot_product(q.qemb, e.emb)
        |      / (sqrt(list_dot_product(q.qemb, q.qemb))
        |        * sqrt(list_dot_product(e.emb, e.emb))) AS sim
        |  FROM q JOIN e ON e.vec_id <> q.qid),
        |hn AS (SELECT qid, qlabel, vec_id AS hn_id, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id)
        |      AS rn
        |  FROM scored WHERE label <> qlabel),
        |hp AS (SELECT qid, vec_id AS hp_id, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim, vec_id)
        |      AS rn
        |  FROM scored WHERE label = qlabel)
        |SELECT hn.qid, hn.qlabel, hn.hn_id, round(hn.sim, 6) AS hn_sim,
        |  hp.hp_id, round(hp.sim, 6) AS hp_sim
        |FROM hn JOIN hp ON hp.qid = hn.qid AND hn.rn = 1 AND hp.rn = 1
        |ORDER BY hn.qid""".stripMargin,

    "emb_rocchio" ->
      // the two MIPS passes + the fixed-point centroid replayed with
      // list ops; dimension indexes are engine-local but consistently
      // ordered, so the assembled q' aligns
      """WITH e AS (SELECT vec_id, list_transform(embedding,
        |      x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 5),
        |d1 AS (SELECT q.qid, e.vec_id AS cid,
        |    list_dot_product(q.qemb, e.emb) AS ip
        |  FROM q JOIN e ON e.vec_id != q.qid),
        |fb AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
        |    PARTITION BY qid ORDER BY ip DESC, cid) AS rnk FROM d1)
        |  WHERE rnk <= 3),
        |fx AS (SELECT fb.qid,
        |    CAST(generate_subscripts(e.emb, 1) AS BIGINT) AS j,
        |    unnest(e.emb) AS v
        |  FROM fb JOIN e ON e.vec_id = fb.cid),
        |cfp AS (SELECT qid, j,
        |    CAST(sum(CAST(floor(v * 1000000.0) AS BIGINT)) AS BIGINT) AS cfp
        |  FROM fx GROUP BY qid, j),
        |qx AS (SELECT qid,
        |    CAST(generate_subscripts(qemb, 1) AS BIGINT) AS j,
        |    unnest(qemb) AS qv FROM q),
        |qp AS (SELECT qx.qid, qx.j,
        |    1.0 * qx.qv + 0.75 * (CAST(cfp.cfp AS DOUBLE) / 3000000.0)
        |      AS qpj
        |  FROM qx JOIN cfp ON cfp.qid = qx.qid AND cfp.j = qx.j),
        |qv2 AS (SELECT qid, list(qpj ORDER BY j) AS qemb FROM qp
        |  GROUP BY qid),
        |d2 AS (SELECT qv2.qid, e.vec_id AS cid,
        |    list_dot_product(qv2.qemb, e.emb) AS ip
        |  FROM qv2 JOIN e ON e.vec_id != qv2.qid)
        |SELECT qid, cid, CAST(rnk AS BIGINT) AS rnk, ip FROM (
        |  SELECT qid, cid, ip, row_number() OVER (
        |    PARTITION BY qid ORDER BY ip DESC, cid) AS rnk FROM d2)
        |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    "pipe_quota_split" ->
      """WITH ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
        |  FROM documents GROUP BY 1),
        |w AS (SELECT * FROM (VALUES ('train', 80, 0), ('dev', 10, 1),
        |    ('test', 10, 2)) AS t(split, w, ord)),
        |q0 AS (SELECT ns.source, ns.n_s, w.split, w.ord,
        |    (ns.n_s * w.w) // 100 AS base, (ns.n_s * w.w) % 100 AS frac
        |  FROM ns CROSS JOIN w),
        |q1 AS (SELECT *, row_number() OVER (PARTITION BY source
        |      ORDER BY frac DESC, ord) AS rem_rank,
        |    n_s - CAST(sum(base) OVER (PARTITION BY source) AS BIGINT)
        |      AS rem_total
        |  FROM q0),
        |q2 AS (SELECT source, split, ord, base +
        |    CASE WHEN rem_rank <= rem_total THEN 1 ELSE 0 END AS quota
        |  FROM q1),
        |qb AS (SELECT source, split,
        |    CAST(sum(quota) OVER (PARTITION BY source ORDER BY ord)
        |      AS BIGINT) AS hi,
        |    CAST(sum(quota) OVER (PARTITION BY source ORDER BY ord)
        |      AS BIGINT) - quota AS lo
        |  FROM q2),
        |rn AS (SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source ORDER BY doc_id) AS rn FROM documents)
        |SELECT rn.doc_id, rn.source, qb.split
        |FROM rn JOIN qb ON qb.source = rn.source
        |  AND rn.rn > qb.lo AND rn.rn <= qb.hi
        |ORDER BY doc_id""".stripMargin,

    "pipe_target_encode" ->
      """WITH o AS (SELECT o_orderkey, o_orderpriority AS cat,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |stats AS (SELECT cat, CAST(sum(cents) AS BIGINT) AS csum,
        |    CAST(count(*) AS BIGINT) AS n FROM o GROUP BY 1),
        |g AS (SELECT CAST(sum(cents) AS BIGINT) // CAST(count(*) AS BIGINT)
        |    AS prior_cents FROM o)
        |SELECT o.o_orderkey, o.cat,
        |  (stats.csum - o.cents + 100 * g.prior_cents) // (stats.n - 1 + 100)
        |    AS enc_cents
        |FROM o JOIN stats USING (cat) CROSS JOIN g
        |WHERE o.o_orderkey < 5000 ORDER BY o_orderkey""".stripMargin,

    "q_bucket_join" ->
      // the bucketed layout is a Spark-side physical property; the
      // oracle sees the same logical join on the raw tables
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "ds_resample_linear" ->
      // identical bracketing: points sort before the grid instant at
      // equal t, closed-form interpolation with the same operation order
      """WITH p AS (SELECT concat(user_id, ':', event_type) AS stream_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t, value AS v
        |  FROM events WHERE user_id < 5),
        |sec AS (SELECT stream_id, t, sum(v) AS v
        |  FROM p GROUP BY 1, 2),
        |ext AS (SELECT stream_id,
        |    ((min(t) + 599) // 600) * 600 AS g0,
        |    (max(t) // 600) * 600 AS g1
        |  FROM sec GROUP BY stream_id),
        |g AS (SELECT stream_id, unnest(range(g0, g1 + 1, 600)) AS t
        |  FROM ext WHERE g0 <= g1),
        |u AS (SELECT stream_id, t, v, 0 AS srt, t AS pt FROM sec
        |  UNION ALL SELECT stream_id, t, NULL, 1, NULL FROM g),
        |b AS (SELECT stream_id, t, srt,
        |    last_value(v IGNORE NULLS) OVER wp AS prev_v,
        |    last_value(pt IGNORE NULLS) OVER wp AS prev_t,
        |    first_value(v IGNORE NULLS) OVER wn AS next_v,
        |    first_value(pt IGNORE NULLS) OVER wn AS next_t
        |  FROM u
        |  WINDOW wp AS (PARTITION BY stream_id ORDER BY t, srt
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY stream_id ORDER BY t, srt
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT stream_id, t,
        |  CASE WHEN prev_t = t THEN prev_v
        |    ELSE prev_v + (next_v - prev_v) *
        |      (CAST(t - prev_t AS DOUBLE) / CAST(next_t - prev_t AS DOUBLE))
        |    END AS v_interp
        |FROM b WHERE srt = 1 ORDER BY stream_id, t""".stripMargin,

    "emb_quantize" ->
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM v),
        |q AS (SELECT vec_id, scale, v, list_transform(v,
        |    x -> CAST(round(CASE WHEN scale = 0 THEN 0 ELSE x / scale END)
        |      AS INTEGER)) AS q FROM s)
        |SELECT vec_id, scale, CAST(list_sum(q) AS BIGINT) AS sum_q,
        |  list_max(list_transform(range(1, len(q) + 1),
        |    i -> abs(q[i] * scale - v[i]))) AS max_err
        |FROM q ORDER BY vec_id""".stripMargin,

    "q_null_filter_nations" ->
      """SELECT n.n_nationkey, n.n_name
        |FROM nation n LEFT JOIN supplier s ON n.n_nationkey = s.s_nationkey
        |WHERE s.s_suppkey IS NULL
        |ORDER BY n.n_nationkey""".stripMargin,

    "q_except_custkeys" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,

    "q_window_rankfuncs" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  lead(o_orderdate, 1) OVER w2 AS next_order,
        |  first_value(o_totalprice) OVER w AS min_price,
        |  cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
        |  w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_returned_items" ->
      """SELECT c_custkey, c_name,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue, c_acctbal
        |FROM customer, orders, lineitem
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal
        |ORDER BY c_custkey""".stripMargin,

    "q_case_date_arith" ->
      """SELECT o_orderkey,
        |  datediff('day', o_orderdate, TIMESTAMP '2002-01-01') AS age_days,
        |  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'expedite'
        |       WHEN o_orderpriority = '3-MEDIUM' THEN 'normal'
        |       ELSE 'low' END AS class,
        |  round(o_totalprice * 0.1, 4) AS fee,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "ds_downtime" -> downtimeOracleSql,
    // outage events aggregate to EXACTLY the batch summary (an outage is
    // only knowable when the next point arrives, in both lanes) — the
    // streaming replay shares the oracle verbatim
    "ds_stream_downtime" -> downtimeOracleSql,

    "pipe_ks_drift" ->
      // one-vs-rest KS on integer counts: the supremum is evaluated
      // just after each step of the combined empirical CDF — i.e. at
      // every distinct length — which is where a max of right-
      // continuous step functions lives
      """WITH d AS (SELECT source, n_chars FROM documents),
        |cnt AS (SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
        |  FROM d GROUP BY source, n_chars),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n1
        |  FROM d GROUP BY source),
        |ac AS (SELECT n_chars, CAST(sum(count(*))
        |    OVER (ORDER BY n_chars) AS BIGINT) AS c_all
        |  FROM d GROUP BY n_chars),
        |grid AS (SELECT ns.source, ns.n1, ac.n_chars, ac.c_all,
        |    coalesce(cnt.c, 0) AS c
        |  FROM ns CROSS JOIN ac
        |  LEFT JOIN cnt ON cnt.source = ns.source
        |    AND cnt.n_chars = ac.n_chars),
        |cum AS (SELECT source, n1, c_all,
        |    CAST(sum(c) OVER (PARTITION BY source ORDER BY n_chars)
        |      AS BIGINT) AS c1,
        |    (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_total
        |  FROM grid)
        |SELECT source, n1,
        |  max(abs(c1 * (n_total - n1) - (c_all - c1) * n1)) AS ks_num,
        |  (10000 * max(abs(c1 * (n_total - n1) - (c_all - c1) * n1)))
        |    // (n1 * (n_total - n1)) AS ks_bp
        |FROM cum GROUP BY source, n1, n_total ORDER BY source""".stripMargin,

    "pipe_mw_drift" ->
      // doubled midranks keep tie-corrected ranks in integers:
      // 2·midrank(v) = 2·(count below v) + (count at v) + 1
      """WITH cnt AS (SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n1
        |  FROM cnt GROUP BY 1),
        |av AS (SELECT n_chars, CAST(sum(c) AS BIGINT) AS ca
        |  FROM cnt GROUP BY 1),
        |dr AS (SELECT n_chars,
        |    2 * (CAST(sum(ca) OVER (ORDER BY n_chars) AS BIGINT) - ca)
        |      + ca + 1 AS dr
        |  FROM av),
        |tr AS (SELECT cnt.source, CAST(sum(cnt.c * dr.dr) AS BIGINT)
        |    AS two_r1
        |  FROM cnt JOIN dr USING (n_chars) GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM cnt)
        |SELECT tr.source, ns.n1,
        |  tr.two_r1 - ns.n1 * (ns.n1 + 1) AS two_u1,
        |  (1000000 * (tr.two_r1 - ns.n1 * (ns.n1 + 1)))
        |    // (2 * ns.n1 * (tot.n_total - ns.n1)) AS auc_ppm
        |FROM tr JOIN ns USING (source) CROSS JOIN tot
        |ORDER BY source""".stripMargin,

    "q_percentile_disc" ->
      // identical integer rank arithmetic: ceil(a*n/b) = (a*n+b-1)//b
      """WITH li AS (SELECT l_returnflag AS flag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |r AS (SELECT flag, cents,
        |    CAST(row_number() OVER (PARTITION BY flag ORDER BY cents)
        |      AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY flag) AS BIGINT) AS n
        |  FROM li)
        |SELECT flag, max(n) AS n_rows,
        |  max(CASE WHEN rn = (n + 3) // 4 THEN cents END) AS p25_cents,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS p50_cents,
        |  max(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END) AS p90_cents
        |FROM r GROUP BY flag ORDER BY flag""".stripMargin,

    "q_weighted_median" ->
      // same integer crossing test; RANGE frame pins peer handling,
      // CASTs collapse DuckDB's HUGEINT sums back to BIGINT
      """WITH li AS (SELECT l_returnflag AS flag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(round(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem),
        |tot AS (SELECT flag, CAST(sum(qty) AS BIGINT) AS totw
        |  FROM li GROUP BY flag),
        |c AS (SELECT flag, cents, CAST(sum(qty) OVER (
        |      PARTITION BY flag ORDER BY cents
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cumw
        |  FROM li)
        |SELECT c.flag, max(totw) AS total_weight,
        |  min(CASE WHEN 2 * cumw >= totw THEN cents END) AS wmed_lo_cents,
        |  min(CASE WHEN 2 * cumw > totw THEN cents END) AS wmed_hi_cents
        |FROM c JOIN tot ON c.flag = tot.flag
        |GROUP BY c.flag ORDER BY c.flag""".stripMargin,

    "pipe_curriculum" ->
      // identical rank-quartile staging + 60-bit md5 shuffle lane
      """WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
        |n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM d GROUP BY lang),
        |staged AS (SELECT d.doc_id, d.lang,
        |    (4 * (CAST(row_number() OVER (PARTITION BY d.lang
        |        ORDER BY n_chars, doc_id) AS BIGINT) - 1)) // n AS stage,
        |    ('0x' || substring(md5('cur:' || CAST(doc_id AS VARCHAR)),
        |      1, 15))::BIGINT AS shuf
        |  FROM d JOIN n ON d.lang = n.lang)
        |SELECT lang, stage,
        |  CAST(row_number() OVER (PARTITION BY lang, stage
        |    ORDER BY shuf, doc_id) AS BIGINT) AS pos,
        |  doc_id
        |FROM staged ORDER BY lang, stage, pos""".stripMargin,

    "ds_motifs" ->
      // same rank symbolization + contiguity guard; floor(epoch()) is
      // the event-seconds invariant
      """WITH e AS (SELECT event_type AS etype,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr FROM events),
        |hc AS (SELECT etype, hr, CAST(count(*) AS BIGINT) AS cnt
        |  FROM e GROUP BY etype, hr),
        |n AS (SELECT etype, CAST(count(*) AS BIGINT) AS nh
        |  FROM hc GROUP BY etype),
        |sym AS (SELECT hc.etype, hr,
        |    (4 * (CAST(row_number() OVER (PARTITION BY hc.etype
        |        ORDER BY cnt, hr) AS BIGINT) - 1)) // nh AS sym
        |  FROM hc JOIN n ON hc.etype = n.etype),
        |m AS (SELECT etype, hr, sym,
        |    lag(sym, 2) OVER w AS s1, lag(sym, 1) OVER w AS s2,
        |    lag(hr, 2) OVER w AS h1, lag(hr, 1) OVER w AS h2
        |  FROM sym WINDOW w AS (PARTITION BY etype ORDER BY hr)),
        |mot AS (SELECT etype, s1 * 16 + s2 * 4 + sym AS motif
        |  FROM m WHERE h1 = hr - 2 AND h2 = hr - 1),
        |cc AS (SELECT etype, motif, CAST(count(*) AS BIGINT) AS n_occ
        |  FROM mot GROUP BY etype, motif)
        |SELECT etype, rk, motif, n_occ FROM (
        |  SELECT etype, motif, n_occ,
        |    CAST(row_number() OVER (PARTITION BY etype
        |      ORDER BY n_occ DESC, motif) AS BIGINT) AS rk
        |  FROM cc) WHERE rk <= 5 ORDER BY etype, rk""".stripMargin,

    "q_assoc_rules" ->
      // distinct (basket, item) base; pair support via the u<v
      // self-join; HUGEINT counts cast back; ppm = 1e6 floor division
      """WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |p AS (SELECT a.pk AS u, b.pk AS v,
        |    CAST(count(*) AS BIGINT) AS support
        |  FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |n AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_item
        |  FROM lp GROUP BY pk),
        |tot AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets
        |  FROM lp),
        |r AS (SELECT u AS a, v AS b, support FROM p
        |  UNION ALL SELECT v AS a, u AS b, support FROM p)
        |SELECT r.a, r.b, r.support, na.n_item AS n_a, nb.n_item AS n_b,
        |  (1000000 * r.support) // na.n_item AS conf_ppm,
        |  (1000000 * r.support * tot.n_baskets)
        |    // (na.n_item * nb.n_item) AS lift_ppm
        |FROM r JOIN n na ON na.pk = r.a JOIN n nb ON nb.pk = r.b, tot
        |ORDER BY a, b""".stripMargin,

    "q_cohort_ltv" ->
      // same epoch-week cohorting; floor(epoch()) is the event-seconds
      // invariant, floor(value·100) the cents lane
      """WITH ev AS (SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk,
        |    event_type,
        |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |f AS (SELECT user_id, min(wk) AS w0 FROM ev GROUP BY user_id),
        |sz AS (SELECT w0, CAST(count(*) AS BIGINT) AS n_users
        |  FROM f GROUP BY w0),
        |rev AS (SELECT f.w0, ev.wk - f.w0 AS age,
        |    CAST(sum(cents) AS BIGINT) AS week_cents
        |  FROM ev JOIN f ON ev.user_id = f.user_id
        |  WHERE ev.event_type = 'purchase'
        |  GROUP BY f.w0, ev.wk - f.w0),
        |c AS (SELECT w0, age, CAST(sum(week_cents) OVER (
        |      PARTITION BY w0 ORDER BY age
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_cents
        |  FROM rev)
        |SELECT c.w0 AS cohort_week, c.age, sz.n_users, c.cum_cents,
        |  c.cum_cents // sz.n_users AS ltv_cents
        |FROM c JOIN sz ON c.w0 = sz.w0
        |ORDER BY cohort_week, age""".stripMargin,

    "text_rake_keywords" ->
      // same filtered-array positions + island grouping; HUGEINT sums
      // cast back, ppm floor division
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |ix AS (SELECT doc_id, w[i + 1] AS word, i AS p FROM (
        |    SELECT doc_id, w, unnest(range(0, len(w))) AS i FROM d)),
        |ns AS (SELECT doc_id, p, word,
        |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
        |  FROM ix
        |  WHERE word NOT IN ('the', 'a', 'fast', 'slow', 'big', 'small')),
        |pl AS (SELECT word,
        |    count(*) OVER (PARTITION BY doc_id, grp) AS len FROM ns),
        |st AS (SELECT word, CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(len) AS BIGINT) AS deg FROM pl GROUP BY word)
        |SELECT word, freq, deg, (1000000 * deg) // freq AS score_ppm
        |FROM st ORDER BY score_ppm DESC, freq DESC, word
        |LIMIT 25""".stripMargin,

    "q_attribution" ->
      // same packed-BIGINT last-touch carry; floor(epoch()) pins the
      // fractional-seconds invariant, floor(value*100) the cents lane
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |t AS (SELECT *, last_value(
        |      CASE WHEN event_type = 'click' THEN sec * 4 + 1
        |           WHEN event_type = 'view' THEN sec * 4 + 2 END
        |      IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY sec, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM ev),
        |p AS (SELECT CASE
        |      WHEN touch IS NULL OR sec - touch // 4 > 1800 THEN 'none'
        |      WHEN touch % 4 = 1 THEN 'click' ELSE 'view' END AS attr,
        |    cents
        |  FROM t WHERE event_type = 'purchase')
        |SELECT attr, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(cents) AS BIGINT) AS revenue_cents
        |FROM p GROUP BY attr ORDER BY attr""".stripMargin)

  /** Fitted PCA model captured by the emb_pca query run. Verify writes
    * oracle_sql.json AFTER the queries execute in the same JVM, so the
    * driver-side Jacobi eigenvectors can ride into the oracle as double
    * literals — the same literal-injection trick as the PQ codebooks,
    * which closes the one eigensolve gap that kept emb_pca rows-only.
    */
  @volatile private var pcaFitted
      : Option[(Array[Double], Array[Array[Double]])] = None

  /** The emb_pca oracle, generated from the captured model: per
    * component, an explicit `0.0 + (x1−m1)·w1 + …` left-associated chain
    * — EXACTLY graft_dot's ascending fold over the zip_with-centered
    * vector, so the doubles match bit-for-bit before the shared
    * round(·, 6). Literals are Double.toString shortest round-trip reprs
    * (both engines parse them back to the identical double). Absent
    * until the emb_pca query has run (a filtered Verify dump that skips
    * it simply records no oracle, as before).
    */
  /** Shared literal-injection oracle generator for shuffle-free centered
    * projections: per output column an explicit left-associated
    * `0.0 + (x1−m1)·w1 + …` chain — EXACTLY graft_dot's ascending fold
    * over the zip_with-centered vector.
    */
  private def projOracleSql(mean: Array[Double],
      comps: Array[Array[Double]], aliases: Seq[String]): String = {
    def chain(w: Array[Double]): String =
      w.indices.map { i =>
        s"(CAST(embedding[${i + 1}] AS DOUBLE) - (${mean(i)})) * (${w(i)})"
      }.mkString("0.0 + ", " + ", "")
    val pcs = comps.zip(aliases).map { case (w, a) =>
      s"round(${chain(w)}, 6) AS $a"
    }.mkString(",\n  ")
    s"""SELECT vec_id,
       |  $pcs
       |FROM embeddings ORDER BY vec_id""".stripMargin
  }

  private def pcaOracle: Map[String, String] = pcaFitted.map {
    case (mean, comps) =>
      "emb_pca" -> projOracleSql(mean, comps, Seq("pc1", "pc2"))
  }.toMap

  /** Whitened-projection model captured by the emb_whiten query run —
    * the [[pcaFitted]] discipline with the 1/√λ scaling already FOLDED
    * INTO the eigenvector literals driver-side, so query and oracle
    * share the identical scaled doubles.
    */
  @volatile private var whitenFitted
      : Option[(Array[Double], Array[Array[Double]])] = None

  private def whitenOracle: Map[String, String] = whitenFitted.map {
    case (mean, scaled) =>
      "emb_whiten" -> projOracleSql(mean, scaled, Seq("w1", "w2"))
  }.toMap

  /** Learned BPE merge table captured by the text_bpe_encode query run
    * (the [[pcaFitted]] discipline — Verify dumps oracle_sql.json after
    * the queries execute, so the table rides into the oracle as
    * literals).
    */
  @volatile private[graft] var bpeFitted: Option[Seq[(String, String)]] = None

  /** The text_bpe_encode oracle, generated from the captured merges.
    * Encoding replays in SQL through a SEPARATOR-FRAMED replace chain:
    * a word becomes `␟c1␟␟c2␟…␟</w>␟` (each symbol individually wrapped
    * in chr(31), which the ASCII corpus never contains), and merge
    * (a,b)→ab is `replace(s, '␟a␟␟b␟', '␟ab␟')` — SQL replace scans
    * left-to-right, non-overlapping, resuming AFTER each replacement,
    * which is EXACTLY mergePair's skip-after-merge rule (pinned in
    * OperatorsSpec on adversarial overlap corpora). Per-symbol framing
    * (not shared boundaries) is what lets a later occurrence in the
    * same word still match after an earlier replacement consumed its
    * neighbor's separator. Symbol count = #chr(31) / 2. Absent until
    * the query has run, exactly like emb_pca.
    */
  private def bpeOracle: Map[String, String] = bpeFitted.map { merges =>
    val S = "chr(31)"
    def lit(s: String) = "'" + s.replace("'", "''") + "'"
    val s0 = s"$S || array_to_string(string_split(w, ''), $S || $S) || " +
      s"$S || $S || '</w>' || $S"
    val chain = merges.foldLeft(s0) { case (acc, (a, b)) =>
      s"replace($acc, $S || ${lit(a)} || $S || $S || ${lit(b)} || $S, " +
        s"$S || ${lit(a + b)} || $S)"
    }
    "text_bpe_encode" ->
      s"""WITH d AS (SELECT doc_id, source,
         |    list_filter(string_split(text, ' '), w -> w <> '') AS ws
         |  FROM documents),
         |enc AS (SELECT doc_id, source,
         |    CAST(len(ws) AS BIGINT) AS n_words,
         |    CAST(coalesce(list_sum(list_transform(
         |      list_transform(ws, w -> $chain),
         |      s -> (length(s) - length(replace(s, chr(31), ''))) // 2)),
         |      0) AS BIGINT) AS n_subwords
         |  FROM d)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS n_words,
         |  CAST(sum(n_subwords) AS BIGINT) AS n_subwords
         |FROM enc GROUP BY source ORDER BY source""".stripMargin
  }.toMap
}
