package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Graphs, Retrieval, Similarity}
import graft.obs.GraftSession

/** Shared gate fixtures: the table readers, the events-as-streams
  * builders, the MemoryStream replay harness, the per-JVM memo maps and
  * base indexes that several gates read, and the DuckDB CTE fragments
  * (`srcSql`, `pointSql`, `counterSql`) that mirror the stream builders
  * in oracle SQL.
  */
object Fixtures {

  private[graft] def tbl(s: SparkSession, dir: String, name: String): DataFrame =
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
  private[graft] def eventStreams(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(
      concat_ws(":", col("user_id"), col("event_type")).as("stream_id"),
      timestamp_seconds(unix_timestamp(col("ts"))).as("t"),
      col("value").as("v"))

  /** Deterministic per-(stream, second) points: same-second values summed
    * so lag-based derive ops have a total order (ties would otherwise make
    * lag() nondeterministic in both engines).
    */
  private[graft] def pointStreams(s: SparkSession, dir: String): DataFrame =
    eventStreams(s, dir).groupBy("stream_id", "t").agg(sum("v").as("v"))

  /** MemoryStream replay harness for the point-stream gate twins: feeds
    * [[pointStreams]] rows in GLOBAL (t, stream_id) order cut into
    * `nBatches` micro-batches (the ordered-replay rule — open-bucket
    * state assumes per-key in-order delivery), runs `op` on the live
    * Dataset, and returns the memory-sink table of everything emitted.
    */
  private[graft] def replayPointStream(s: SparkSession, dir: String,
      nBatches: Int)(
      op: org.apache.spark.sql.Dataset[graft.streaming.Streaming.Point] =>
        org.apache.spark.sql.Dataset[_]): DataFrame =
    replayStream(s, pointStreams(s, dir), nBatches)(op)

  /** Like [[replayPointStream]] but over any (stream_id, t, v) frame —
    * the counter-stream twins replay the same derived counter the batch
    * gates read.
    */
  private[graft] def replayStream(s: SparkSession, input: DataFrame,
      nBatches: Int)(
      op: org.apache.spark.sql.Dataset[graft.streaming.Streaming.Point] =>
        org.apache.spark.sql.Dataset[_]): DataFrame = {
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.Streaming.Point]
    val name = s"replay_${System.nanoTime()}"
    GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> "8") {
      val rows = input.select("stream_id", "t", "v")
        .orderBy("t", "stream_id").collect()
        .map(r => graft.streaming.Streaming.Point(
          r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      val q = op(mem.toDS()).toDF().writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      try rows.grouped(rows.length / nBatches + 1).foreach { b =>
        mem.addData(b.toSeq); q.processAllAvailable()
      } finally q.stop()
    }
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
  private[graft] def replayStreamSkewed(s: SparkSession, input: DataFrame,
      nBatches: Int, skewSec: Int)(
      op: org.apache.spark.sql.Dataset[graft.streaming.Streaming.Point] =>
        org.apache.spark.sql.Dataset[_]): DataFrame = {
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.Streaming.Point]
    val name = s"replay_skew_${System.nanoTime()}"
    val sentinelKey = "zzz_wm_sentinel"
    GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> "8") {
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
      val q = op(mem.toDS())
        .toDF().writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      try {
        rows.grouped(rows.length / nBatches + 1).foreach { b =>
          mem.addData(b.toSeq); q.processAllAvailable()
        }
        sentinels.foreach { p => mem.addData(Seq(p)); q.processAllAvailable() }
      } finally q.stop()
    }
    s.table(name).where(col("stream_id") =!= sentinelKey)
  }

  /** Gap-based user sessions over events: a session breaks after >30 min
    * of silence; one row per session with count and [start, end] seconds.
    * Shared by q_sessionize and the interval-overlap join.
    */
  private[graft] def sessionIntervals(s: SparkSession, dir: String,
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
  private[graft] def counterStreams(s: SparkSession, dir: String): DataFrame = {
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
  private[graft] def graphSnapshots(s: SparkSession, dir: String): DataFrame = {
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

  private[graft] def bm25BaseIndex(s: SparkSession, dir: String): String =
    roIndexes.computeIfAbsent(s"bm25:$dir", _ => {
      val work = java.nio.file.Files
        .createTempDirectory("graft-bm25-base").toString + "/idx"
      Retrieval.buildIndex(tbl(s, dir, "documents")
        .select("doc_id", "text"), work)
      work
    })

  private[graft] def bm25PosBaseIndex(s: SparkSession, dir: String): String =
    roIndexes.computeIfAbsent(s"bm25pos:$dir", _ => {
      val work = java.nio.file.Files
        .createTempDirectory("graft-bm25-pos-base").toString + "/idx"
      Retrieval.buildIndex(tbl(s, dir, "documents")
        .select("doc_id", "text"), work, positional = true)
      work
    })

  private[graft] def ivfpqBaseIndex(s: SparkSession, dir: String): String =
    roIndexes.computeIfAbsent(s"ivfpq:$dir", _ => {
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivfpq-base").toString + "/idx"
      Similarity.buildIvfPqIndex(tbl(s, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb")),
        work, stride = 50, m = 16)
      work
    })

  private[graft] def ivfBaseIndex(s: SparkSession, dir: String): String =
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

  private[graft] def copurchaseEdges(s: SparkSession, dir: String): DataFrame =
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

  private[graft] def timeTravelTable(s: SparkSession,
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

  private[graft] val srcSql =
    """src AS (SELECT concat(user_id, ':', event_type) AS stream_id,
      |  CAST(to_timestamp(CAST(floor(epoch(ts)) AS BIGINT)) AS TIMESTAMP) AS t, value AS v
      |  FROM events)""".stripMargin

  private[graft] val pointSql =
    """pts AS (SELECT stream_id, t, sum(v) AS v FROM src GROUP BY stream_id, t)"""

  private[graft] val counterSql =
    """ctr AS (SELECT stream_id, t,
      |  fmod(sum(v) OVER (PARTITION BY stream_id ORDER BY t
      |       RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1000) AS v
      |  FROM pts)""".stripMargin
}
