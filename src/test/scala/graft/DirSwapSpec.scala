package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core.{DatapointStore, DirSwap}

/** Pins [[DirSwap]]'s crash windows: in each one, heal (plus dropStage,
  * the writer-side rollback) leaves every unit wholly old or wholly new
  * and no stage or backup behind. Units are 3-segment rels that carry a
  * UUID, the derived-root leaf shape, so the backup's one-name encoding
  * of a nested rel is exercised too.
  */
class DirSwapSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.obs.GraftSession.local(4)

  private val fs = FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
  private val Seq(relA, relB) = Seq("seconds/ymd=000019723", "minutes/ymd=000019724")
    .map(g => s"stream_id=${java.util.UUID.randomUUID()}/granularity=$g")

  /** A table whose units hold "old", each with a staged "new" copy. */
  private def fixture(): Path = {
    val table = new Path(Files.createTempDirectory("graft-dirswap").toString, "t")
    Seq(relA, relB).foreach { rel =>
      put(new Path(table, rel), "old")
      put(new Path(DirSwap.stage(table), rel), "new")
    }
    table
  }

  private def put(unit: Path, v: String): Unit = {
    val out = fs.create(new Path(unit, "part"), true)
    try out.write(v.getBytes(UTF_8)) finally out.close()
  }

  private def state(table: Path, rel: String): String = {
    val f = new Path(new Path(table, rel), "part")
    if (!fs.exists(f)) "missing"
    else { val in = fs.open(f); try new String(in.readAllBytes(), UTF_8) finally in.close() }
  }

  private def noDebris(table: Path): Boolean =
    !fs.exists(DirSwap.stage(table)) && !fs.exists(DirSwap.backup(table))

  /** The reader/writer recovery, then: no debris, each unit old or new. */
  private def recover(table: Path): (String, String) = {
    DirSwap.heal(fs, table)
    DirSwap.dropStage(fs, table)
    assert(noDebris(table), "recovery left stage or backup debris")
    (state(table, relA), state(table, relB))
  }

  /** Move `rel`'s live unit into the backup, as publish's first rename. */
  private def moveAside(table: Path, rel: String): Unit = {
    fs.mkdirs(DirSwap.backup(table))
    assert(fs.rename(new Path(table, rel), DirSwap.backupOf(table, rel)))
  }

  test("a clean publish swaps every staged unit and leaves no stage or backup") {
    val table = fixture()
    DirSwap.publish(fs, table, Seq(relA, relB))
    assert(noDebris(table) && state(table, relA) == "new" && state(table, relB) == "new")
  }

  test("stage left, never published: rolls back to old") {
    assert(recover(fixture()) == ("old", "old"))
  }

  test("unit in backup, live missing: heal alone restores the old unit, keeping the stage") {
    val table = fixture()
    moveAside(table, relA)
    assert(state(table, relA) == "missing")
    DirSwap.heal(fs, table)
    assert(state(table, relA) == "old" && fs.exists(DirSwap.stage(table)))
    assert(recover(table) == ("old", "old"))
  }

  test("unit in backup, live present: heal drops the backup, the new unit stays") {
    val table = fixture()
    moveAside(table, relA)
    assert(fs.rename(new Path(DirSwap.stage(table), relA), new Path(table, relA)))
    assert(recover(table) == ("new", "old"))
  }

  test("retire interrupted: the retired unit comes back whole; a finished retire removes it") {
    val table = fixture()
    DirSwap.dropStage(fs, table)
    moveAside(table, relB) // publish retires a rel with no staged copy
    assert(recover(table) == ("old", "old"))
    DirSwap.publish(fs, table, Seq(relB))
    assert(noDebris(table) && state(table, relA) == "old" && state(table, relB) == "missing")
  }

  test("fence throwing between two units: the first is new, the second old") {
    val table = fixture()
    var calls = 0
    intercept[IllegalStateException](DirSwap.publish(fs, table, Seq(relA, relB), () => {
      calls += 1
      if (calls == 2) throw new IllegalStateException("lease lost")
    }))
    // nothing after the throw touched the second unit
    assert(state(table, relB) == "old" && fs.exists(new Path(DirSwap.stage(table), relB)))
    assert(recover(table) == ("new", "old"))
  }

  test("a store read during a staged, unpublished compaction keeps the stage") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-dirswap-read").toString + "/dp"
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:10")
    DatapointStore.append(Seq(("s1", t0, 1.0, "seconds"))
      .toDF("stream_id", "t", "v_num", "granularity"), root)
    val table = new Path(root)
    val rel = s"granularity=seconds/ymd=${DatapointStore.ymdKey(t0)}"
    // the compaction's write landed; its publish has not run yet
    val staged = new Path(DirSwap.stage(table), rel)
    fs.mkdirs(staged.getParent)
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, new Path(table, rel), fs,
      staged, false, fs.getConf))
    assert(DatapointStore.read(spark, root, Seq(root)).count() == 1L)
    assert(fs.exists(staged), "a read dropped the stage: publish would retire its leaves")
    DirSwap.publish(fs, table, Seq(rel))
    assert(DatapointStore.read(spark, root, Seq(root)).count() == 1L)
  }

  override def afterAll(): Unit = spark.stop()
}
