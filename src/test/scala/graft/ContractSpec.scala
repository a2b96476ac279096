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
  lazy val spark: SparkSession = graft.obs.GraftSession.local(4)

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
    // run-captured eigenvector literals (its `Gate.captured` oracle in
    // EmbGates), and text_bpe_encode left in r11 the same way — the
    // trained merge table rides into the oracle as literals and a
    // chr(31)-framed replace chain replays the encode (its
    // `Gate.captured` oracle in TextGates); only the TRAINING argmax has
    // no SQL mirror,
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

  test("directory renames live only in DirSwap and the single-path publishes") {
    // every crash-safe directory swap goes through graft.core.DirSwap;
    // the others are one-path publishes (the coverage marker, the BM25
    // delete intent, the PQ compaction's marker-committed stage) and
    // Bpe's session-scratch table, which needs no crash safety. A new
    // hand-rolled swap fails here: route it through DirSwap instead.
    val allowed = Map(
      "core/Datastream.scala" -> 1, "operators/Retrieval.scala" -> 1,
      "operators/Similarity.scala" -> 1, "operators/Bpe.scala" -> 1)
    val base = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(base), s"no sources at $base")
    val found = java.nio.file.Files.walk(base).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
      .map { f =>
        // ISO-8859-1: Bpe.scala carries raw control bytes
        val text = new String(java.nio.file.Files.readAllBytes(f),
          java.nio.charset.StandardCharsets.ISO_8859_1)
        base.relativize(f).toString -> (text.split(
          java.util.regex.Pattern.quote(".rename("), -1).length - 1)
      }.filter(_._2 > 0).toMap
    assert(found.getOrElse("core/DirSwap.scala", 0) > 0)
    assert(found - "core/DirSwap.scala" == allowed,
      s"rename sites outside DirSwap: $found")
  }

  test("registry construction rejects duplicate keys (no silent last-wins)") {
    // The one gate list builds via distinctToMap from a Seq of pairs — a
    // Map literal with a repeated key silently last-wins and LOSES a gate
    // (the r14 mm_frames collision; caught then only by a schema
    // mismatch). Inject a duplicate and require the throw.
    val ex = intercept[IllegalArgumentException] {
      SparkEntry.distinctToMap("probe",
        Seq("a" -> 1, "b" -> 2, "a" -> 3))
    }
    assert(ex.getMessage.contains("duplicate probe keys: a"))
    // And the real gate list passes the same check at its full size: the
    // map cardinality must equal the backing Seq cardinality (the map
    // materializes through distinctToMap, so reaching here means no dups).
    assert(SparkEntry.queries.size >= 351,
      s"queries registry shrank: ${SparkEntry.queries.size}")
  }

  test("entry() flagship returns rows at sf0.001 (driver smoke gate)") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("Meter: tagged, untagged and micro-batch sites; sites sum to Spark's own job and task counts; a read needs no wait") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.obs.Meter
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sc = spark.sparkContext
    val tracker = sc.statusTracker
    val mem = MemoryStream[Int]
    val before = tracker.getJobIdsForGroup(null).toSet
    val m = Meter.attach(spark)
    // delayed bus delivery: a slow listener behind the meter on the same
    // queue holds back every later task-end event, so a read that did not
    // drain the bus would miss tasks of a job that has already finished
    val slow = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Thread.sleep(50)
    }
    sc.addSparkListener(slow)
    val (r, streamGroup) = try {
      sc.setJobDescription("pin:tagged")
      try sc.parallelize(1 to 100, 7).count() finally sc.setJobDescription(null)
      // no sleep between the action and the read: the read drains the
      // listener bus, so every task of the job is already charged
      val first = m.read()
      assert(first.sites.keySet == Set("pin:tagged"), first.sites)
      assert(first.sites("pin:tagged").jobs == 1 &&
        first.sites("pin:tagged").tasks == 7, first.sites)
      sc.parallelize(1 to 10, 3).count()
      val q = mem.toDS().map(_ * 2).writeStream.format("memory")
        .queryName("meter_pin").outputMode("append").start()
      try Seq(Seq(1, 2, 3), Seq(4, 5)).foreach { b =>
        mem.addData(b); q.processAllAvailable()
      } finally q.stop()
      (m.read(), q.runId.toString)
    } finally { sc.removeSparkListener(slow); m.close() }
    assert(Set("pin:tagged", Meter.Untagged, "uBatch 0", "uBatch 1")
      .subsetOf(r.sites.keySet), r.sites)
    assert(r.sites(Meter.Untagged).jobs == 1 &&
      r.sites(Meter.Untagged).tasks == 3, r.sites)
    // Spark's status store, fed by its own listener, counts the same
    // window independently: micro-batch jobs run in the query's job group
    val jobs = (tracker.getJobIdsForGroup(null).toSet -- before) ++
      tracker.getJobIdsForGroup(streamGroup)
    val stages = jobs.flatMap(j => tracker.getJobInfo(j).get.stageIds.toSeq)
    val tasks = stages.toSeq.map(s => tracker.getStageInfo(s).fold(0)(_.numCompletedTasks))
    assert(r.jobs == jobs.size && r.tasks == tasks.sum,
      s"meter ${r.jobs} jobs/${r.tasks} tasks vs Spark ${jobs.size}/${tasks.sum}: ${r.sites}")
  }

  test("GraftSession.withConf restores a set key, unsets an unset key, also when the body throws") {
    import graft.obs.GraftSession
    val set = "spark.sql.shuffle.partitions"
    val unset = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val before = spark.conf.get(set)
    spark.conf.unset(unset)
    def check(): Unit = {
      assert(spark.conf.get(set) == before)
      assert(!spark.conf.getAll.contains(unset), spark.conf.getOption(unset))
    }
    val seen = GraftSession.withConf(spark, set -> "3", unset -> "2MB") {
      (spark.conf.get(set), spark.conf.get(unset))
    }
    assert(seen == ("3", "2MB"))
    check()
    intercept[IllegalStateException] {
      GraftSession.withConf(spark, set -> "5", unset -> "4MB") {
        assert(spark.conf.get(set) == "5")
        throw new IllegalStateException("body fails")
      }
    }
    check()
  }

  test("GraftFunctions.register is idempotent: a repeat replaces no function and adds no rule; the extension injects the same table") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import graft.functions.{GraftExtensions, GraftFunctions,
      ReduceSplitSizeToNTokens}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("graft-register-pin", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        seen.add(e.getMessage.getFormattedMessage); ()
      }
    }
    app.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(app)
    try { GraftFunctions.register(spark); GraftFunctions.register(spark) }
    finally { root.removeAppender(app); app.stop() }
    import scala.jdk.CollectionConverters._
    val replaced = seen.asScala.filter(_.contains("replaced a previously registered"))
    assert(replaced.isEmpty, replaced)
    assert(spark.experimental.extraOptimizations
      .count(_ eq ReduceSplitSizeToNTokens) == 1)
    val names = GraftFunctions.table.map(_.name)
    assert(names.distinct.size == names.size)
    val reg = spark.sessionState.functionRegistry
    assert(names.forall(n => reg.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier(n))))
    val injected = scala.collection.mutable.Buffer.empty[String]
    new GraftExtensions()(new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: (org.apache.spark.sql.catalyst.FunctionIdentifier,
          org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
          Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
            org.apache.spark.sql.catalyst.expressions.Expression)): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    })
    assert(injected.toSet == names.toSet && injected.size == names.size)
  }

  override def afterAll(): Unit = spark.stop()
}
