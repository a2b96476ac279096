package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Pins the driver contract itself: queries/oracleSql key hygiene (a
  * typo'd oracle key would silently demote its query to the weaker
  * rows-only check and strand an orphan oracle) and the entry() smoke
  * gate the driver runs (rows > 0 at sf0.001).
  */
class ContractSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("Verify's git stamp runs in the given directory and fails on a non-zero git exit") {
    import java.nio.file.Files
    def run(dir: java.io.File, args: String*): Int =
      scala.util.Try(new ProcessBuilder(args: _*).directory(dir)
        .redirectErrorStream(true).redirectOutput(ProcessBuilder.Redirect.DISCARD)
        .start().waitFor()).getOrElse(-1)
    val repo = Files.createTempDirectory("graft-stamp-repo").toFile
    assume(run(repo, "git", "init", "-q") == 0, "git is not available")
    assert(run(repo, "git", "-c", "user.name=t", "-c", "user.email=t@t",
      "commit", "-q", "--allow-empty", "-m", "init") == 0)
    val (sha, dirty) = Verify.gitStamp(repo.toString)
    assert(sha.matches("[0-9a-f]{40}") && !dirty, s"stamp: $sha $dirty")
    Files.writeString(repo.toPath.resolve("untracked"), "x")
    assert(Verify.gitStamp(repo.toString) == (sha, true))
    // outside any work tree git exits non-zero: the stamp fails instead
    // of recording git's error text as the sha
    val plain = Files.createTempDirectory("graft-stamp-plain").toString
    intercept[IllegalStateException](Verify.gitStamp(plain))
  }

  test("every query is oracled unless on the explicit rows-only list") {
    // rows-only means the op is genuinely not SQL-expressible in DuckDB.
    // Since r5 the multimodal stub codec is md5-derived, so even mm_* are
    // oracled. The list is EMPTY since r11: emb_pca left in r10 via
    // run-captured eigenvector literals (pcaOracle), and text_bpe_encode
    // left in r11 the same way — the trained merge table rides into the
    // oracle as literals and a chr(31)-framed replace chain replays the
    // encode (bpeOracle); only the TRAINING argmax has no SQL mirror,
    // and the oracle doesn't need it once the table is literal. Growing
    // this list is a deliberate decision, not a silent default. Verify
    // dumps oracle_sql.json after the queries run, which this test
    // mirrors by running the capture queries (emb_pca, emb_whiten,
    // text_bpe_encode) first.
    val rowsOnly = Set.empty[String]
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    SparkEntry.queries("emb_pca")(spark, "/root/testdata/sf0.001").count()
    SparkEntry.queries("emb_whiten")(spark, "/root/testdata/sf0.001").count()
    SparkEntry.queries("text_bpe_encode")(spark, "/root/testdata/sf0.001")
      .count()
    val orphanOracles = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphanOracles.isEmpty,
      s"oracleSql keys with no matching query (typo?): $orphanOracles")
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled == rowsOnly,
      s"queries silently missing an oracle: ${unoracled -- rowsOnly}; " +
        s"stale rows-only entries: ${rowsOnly -- unoracled}")
  }

  test("registry construction rejects duplicate keys (no silent last-wins)") {
    // Both registries build via distinctToMap from a Seq of pairs — a Map
    // literal with a repeated key silently last-wins and LOSES a gate (the
    // r14 mm_frames collision; caught then only by a schema mismatch).
    // Inject a duplicate and require the throw.
    val ex = intercept[IllegalArgumentException] {
      SparkEntry.distinctToMap("probe",
        Seq("a" -> 1, "b" -> 2, "a" -> 3))
    }
    assert(ex.getMessage.contains("duplicate probe keys: a"))
    // And the real registries pass the same gate at their full size: the
    // map cardinality must equal the backing Seq cardinality (each map
    // materializes through distinctToMap, so reaching here means no dups).
    assert(SparkEntry.queries.size >= 351,
      s"queries registry shrank: ${SparkEntry.queries.size}")
  }

  test("entry() flagship returns rows at sf0.001 (driver smoke gate)") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    assert(SparkEntry.entry(spark).count() > 0)
  }

  override def afterAll(): Unit = spark.stop()
}
