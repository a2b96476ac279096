package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.model.Granularity
import graft.sources.Sources

/** Multi-format source readers: batch CSV/JSONL/parquet parity and the
  * streaming file source.
  */
class SourcesSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.obs.GraftSession.local(4)

  val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("n", LongType)))

  def sample = {
    import spark.implicits._
    Seq((1L, "alpha beta", 10L), (2L, "gamma", 20L), (3L, "delta eps", 30L))
      .toDF("doc_id", "text", "n")
  }

  test("csv/jsonl/parquet/orc reads agree with the written frame") {
    val base = Files.createTempDirectory("graft-src").toString
    sample.write.option("header", "true").csv(s"$base/csv")
    sample.write.json(s"$base/jsonl")
    sample.write.parquet(s"$base/parquet")
    sample.write.orc(s"$base/orc")
    val want = sample.collect().map(_.toSeq).toSet
    for (fmt <- Seq("csv", "jsonl", "parquet", "orc")) {
      val got = Sources.read(spark, s"$base/$fmt", fmt, schema)
      assert(got.schema == schema, s"$fmt schema drift")
      assert(got.collect().map(_.toSeq).toSet == want, s"$fmt content drift")
    }
    // columnar formats push filters to the scan
    val plan = Sources.read(spark, s"$base/orc", "orc", schema)
      .where(col("doc_id") > 1).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan"))
  }

  test("text source: one document per line, batch and streaming") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-txt").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.txt"),
      "first doc\nsecond doc\n".getBytes("UTF-8"))
    val sch = StructType(Seq(StructField("text", StringType)))
    val got = Sources.read(spark, dir, "text", sch)
    assert(got.schema.fieldNames.toSeq == Seq("text"))
    assert(got.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("first doc", "second doc"))
    // wrong-shape schema rejected up front
    intercept[IllegalArgumentException] {
      Sources.read(spark, dir, "text", StructType(Seq(
        StructField("a", StringType), StructField("b", StringType))))
    }
    // streaming lane: same rename contract
    val stream = Sources.stream(spark, dir, "text", sch)
    assert(stream.isStreaming && stream.schema.fieldNames.toSeq == Seq("text"))
  }

  test("strict csv read fails fast on malformed rows") {
    val dir = Files.createTempDirectory("graft-badcsv").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "bad.csv"),
      "doc_id,text,n\n1,ok,10\nnot_a_long,broken,xyz\n".getBytes)
    intercept[org.apache.spark.SparkException] {
      Sources.read(spark, dir, "csv", schema).collect()
    }
    // permissive mode absorbs the row as nulls instead
    val loose = Sources.read(spark, dir, "csv", schema, strict = false).collect()
    assert(loose.length == 2)
  }

  test("binaryFile source feeds the multimodal pipeline; oversized files rejected") {
    val dir = Files.createTempDirectory("graft-bin").toFile
    Files.write(new java.io.File(dir, "a.png").toPath,
      "fake-png-bytes".getBytes("UTF-8"))
    Files.write(new java.io.File(dir, "b.wav").toPath,
      "fake-wav-bytes-longer".getBytes("UTF-8"))
    Files.write(new java.io.File(dir, "c.mp4").toPath,
      ("x" * 4000).getBytes("UTF-8"))
    val files = Sources.readBinary(spark, dir.toString)
    assert(files.count() == 3)
    val media = graft.operators.Multimodal.mediaFromBinary(files)
    val byKind = media.collect().map(m => m.meta.kind -> m).toMap
    assert(byKind.keySet == Set("image", "audio", "video"))
    assert(byKind("image").content.length == 14)
    // decode runs over file-sourced media exactly like fixture media
    val dec = graft.operators.Multimodal.decodeImages(media).collect()
    assert(dec.length == 3 && dec.forall(d => d.meanLuma >= 0 && d.meanLuma <= 1))
    // frame sampling picks only the video (duration = length/100 * ms)
    val frames = graft.operators.Multimodal
      .sampleFrames(media, everyMs = 10).collect()
    assert(frames.nonEmpty &&
      frames.forall(_.media_id == byKind("video").media_id))
    // glob filter narrows by extension
    assert(Sources.readBinary(spark, dir.toString, "*.png").count() == 1)
    // oversized file -> typed rejection naming the file
    val e = intercept[IllegalArgumentException] {
      Sources.readBinary(spark, dir.toString, maxBytes = 100)
    }
    assert(e.getMessage.contains("c.mp4"))
  }

  test("streaming file source picks up dropped files") {
    val dir = Files.createTempDirectory("graft-srcstream").toString
    sample.write.json(s"$dir/in")
    val q = Sources.stream(spark, s"$dir/in", "jsonl", schema)
      .groupBy().agg(count(lit(1)).as("n"), sum("n").as("s"))
      .writeStream.format("memory").queryName("src_stream")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val r = spark.table("src_stream").head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 60L)
  }

  test("file source feeds the store ingest end-to-end (files -> ladder)") {
    import java.nio.file.{Files => JFiles, Paths}
    val root = Files.createTempDirectory("graft-e2e").toString
    val inDir = s"$root/in"
    JFiles.createDirectories(Paths.get(inDir))
    val store = new graft.core.Datastream(spark,
      s"$root/store")
    val id = store.ensureStream(Map("name" -> "filefeed"))
    val pointSchema = StructType(Seq(
      StructField("stream_id", StringType),
      StructField("t", TimestampType),
      StructField("v", DoubleType)))
    def drop(name: String, lines: String*): Unit =
      JFiles.write(Paths.get(inDir, name),
        lines.mkString("\n").getBytes("UTF-8"))

    drop("b1.json",
      s"""{"stream_id":"$id","t":"2024-01-01T00:00:01.000Z","v":1.0}""",
      s"""{"stream_id":"$id","t":"2024-01-01T00:00:11.000Z","v":2.0}""")
    val q = graft.streaming.Streaming.ingest(
      Sources.stream(spark, inDir, "jsonl", pointSchema), store).start()
    q.processAllAvailable()
    // a later file lands in a later micro-batch and extends the ladder
    drop("b2.json",
      s"""{"stream_id":"$id","t":"2024-01-01T00:01:05.000Z","v":4.0}""")
    q.processAllAvailable()
    q.stop()

    assert(store.getData(id, Granularity.Seconds).count() == 3)
    val mins = store.getData(id, Granularity.Minutes)
      .select("t", "count", "sum").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(mins == Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 2L, 3.0)))
  }

  test("events() reads NANOS and MICROS ts encodings identically") {
    // the driver's testdata generator has emitted BOTH encodings across
    // rounds (r1-r7: INT64 TIMESTAMP(NANOS), r9 regen: TIMESTAMP(MICROS)
    // NTZ) — the r7/r8 correctness boards went red because the pinned
    // nanos reader interpreted micros as nanos (timestamps shrank 1000×).
    // events() must sniff the footer and produce identical rows either
    // way. Fixture: src/test/resources/events_nanos.parquet (pyarrow,
    // timestamp[ns], no arrow schema sidecar).
    import java.nio.file.{Files => JF, Paths, StandardCopyOption}
    val nanosDir = JF.createTempDirectory("graft-events-nanos").toString
    JF.copy(Paths.get("src/test/resources/events_nanos.parquet"),
      Paths.get(nanosDir, "events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val microsDir = JF.createTempDirectory("graft-events-micros").toString
    val rows = Seq(
      (0L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01.5"), 3L,
        "click", 1.5, """{"k": 1}"""),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:02.25"), 4L,
        "view", 2.5, """{"k": 2}"""),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 12:30:00"), 3L,
        "error", -1.0, """{"k": 3}"""))
    import spark.implicits._
    // Spark writes TIMESTAMP(MICROS) — exactly the r9 generator encoding
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$microsDir/events.parquet")
    def dump(dir: String) = SparkEntry.events(spark, dir)
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4), r.getString(5))).toSeq
    val n = dump(nanosDir)
    val m = dump(microsDir)
    assert(n == m, s"encodings diverge:\nnanos : $n\nmicros: $m")
    assert(n == rows, s"decoded rows drifted from fixture:\n$n")
    // schema parity: downstream is pinned on (long, TIMESTAMP_LTZ, long,
    // string, double, string) regardless of source encoding
    assert(SparkEntry.events(spark, nanosDir).schema ==
      SparkEntry.events(spark, microsDir).schema)
  }

  override def afterAll(): Unit = spark.stop()
}
