package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core.Datastream
import graft.model._

/** The r13 Hadoop-FS migration's claim, exercised: every root below is an
  * EXPLICIT `file:`-scheme URI, the shape any non-local deployment hands
  * in (hdfs://… / s3a://…). Plain-path tests cannot catch scheme-handling
  * bugs — a java.io.File remnant, a Path-vs-string concatenation that
  * drops the scheme, a listing compared against scheme-less strings —
  * because on plain paths File and Hadoop-FS behave identically. Here a
  * single File remnant reads "missing" and trips the assertions.
  */
class FsSchemeSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.obs.GraftSession.local(4)

  private def schemeRoot(prefix: String): String =
    "file:" + Files.createTempDirectory(prefix).toString

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  test("store lifecycle under a file:-scheme root: append, ladder, sidecar replay, flush, reopen") {
    import spark.implicits._
    val root = schemeRoot("graft-scheme-store") + "/store"
    val ds = new Datastream(spark, root)
    val id = ds.ensureStream(Map("name" -> "sch"))
    val r = ds.appendMultiple(
      (0 until 120).map(i => (id, ts(f"2024-04-01 10:${i / 2}%02d:${i % 2 * 30}%02d"), i.toDouble))
        .toDF("stream_id", "t", "v"))
    r.maxT.foreach(hi => ds.downsampleStreams(hi))
    assert(ds.getData(id, Granularity.Seconds).count() == 120)
    assert(ds.getData(id, Granularity.Minutes10).count() > 0,
      "ladder rollups must land under the scheme root")
    // crash-shaped reopen BEFORE flush: the segment sidecar must replay
    val d2 = new Datastream(spark, root)
    intercept[InvalidTimestamp] {
      d2.append(id, 1.0, ts("2024-04-01 10:00:00"))
    }
    d2.flush()
    val d3 = new Datastream(spark, root)
    assert(d3.getData(id, Granularity.Seconds).count() == 120)
    // derived stream + coverage markers under the scheme root
    val drv = d3.ensureStream(Map("name" -> "sch-drv"),
      deriveFrom = Seq(id), deriveOp = Some(DeriveOps.Derivative))
    assert(d3.getData(drv, Granularity.Seconds).count() > 0,
      "backprocess must write the derived partitions under the scheme root")
  }

  test("versioned table + MV under file:-scheme roots: init, merge, time travel, cdc, vacuum") {
    import spark.implicits._
    import graft.operators.{Mutations, VersionedTable}
    import org.apache.spark.sql.types._
    val root = schemeRoot("graft-scheme-vt") + "/tbl"
    val base = (0L until 100L).map(k => (k, k * 10L)).toDF("k", "cents")
    val pexpr = pmod(col("k"), lit(8L))
    VersionedTable.init(spark, root, base, pexpr)
    val upd = (0L until 10L).map(k => (k, k * 10L + 5L, "U", 1L))
      .toDF("k", "cents", "op", "version")
    VersionedTable.merge(spark, root, upd, Seq("k"), pexpr)
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("cents", LongType)))
    assert(VersionedTable.readAt(spark, root, schema, 0L).count() == 100)
    val v1 = VersionedTable.readAt(spark, root, schema, 1L)
      .where(col("k") < 10).agg(sum("cents")).head().getLong(0)
    assert(v1 == (0L until 10L).map(_ * 10 + 5).sum)
    assert(VersionedTable.changes(spark, root, schema, Seq("k"), 0L, 1L)
      .count() == 10)
    VersionedTable.vacuum(root, keep = 1)
    intercept[IllegalArgumentException] {
      VersionedTable.readAt(spark, root, schema, 0L)
    }
    // streaming MV commit markers under the scheme root
    val mvRoot = schemeRoot("graft-scheme-mv") + "/mv"
    val cdc = (0L until 20L).map(k => (k, "I", 0L, k))
      .toDF("k", "change_op", "before_v", "after_v")
    assert(Mutations.applyMvBatch(spark, mvRoot, cdc, 0L,
      pmod(col("k"), lit(4L)), col("before_v"), col("after_v")))
    assert(!Mutations.applyMvBatch(spark, mvRoot, cdc, 0L,
      pmod(col("k"), lit(4L)), col("before_v"), col("after_v")),
      "re-delivered batch id must skip via the commit marker")
    assert(Mutations.readMv(spark, mvRoot).agg(sum("n_rows"))
      .head().getLong(0) == 20L)
  }

  test("bm25 + pq indexes under file:-scheme roots: build, delete, stats sidecar, search") {
    import spark.implicits._
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 60)
    val root = schemeRoot("graft-scheme-bm25") + "/idx"
    graft.operators.Retrieval.buildIndex(d, root, nBuckets = 8)
    graft.operators.Retrieval.deleteFromIndex(spark, root,
      Seq(3L, 7L).toDF("doc_id"))
    assert(graft.operators.Retrieval.corpusStats(spark, root)._1 == 58L,
      "stats sidecar must follow the delete under the scheme root")
    val q = d.where(col("doc_id") < 2)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    assert(graft.operators.Retrieval
      .bm25TopKIndexed(spark, root, q, 5, nBuckets = 8).count() > 0)
    // PQ lifecycle
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .where(col("vec_id") < 200)
    val proot = schemeRoot("graft-scheme-pq") + "/idx"
    graft.operators.Similarity.writeIvfPqQuantizers(e, proot, stride = 40, m = 16)
    (0 to 1).foreach(i => graft.operators.Similarity
      .appendToIvfPqIndex(e.where(col("vec_id") % 2 === i), proot))
    graft.operators.Similarity.compactIvfPqIndex(spark, proot)
    graft.operators.Similarity.deleteFromIvfPqIndex(spark, proot,
      (0L until 10L))
    val qs = e.where(col("vec_id").between(20, 25))
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    val hits = graft.operators.Similarity
      .ivfPqIndexTopK(spark, proot, qs, 3, 2)
    assert(hits.count() > 0 &&
      hits.where(col("cid") < 10).count() == 0,
      "deleted codes must be gone under the scheme root")
  }

  override def afterAll(): Unit = spark.stop()
}
