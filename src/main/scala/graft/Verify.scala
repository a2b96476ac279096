package graft
import java.nio.file.{Files, Paths}
import graft.obs.{GraftSession, Json}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd+ args: query names to dump (default all) — lets local
    // iteration re-check one query without a full 106-query dump.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = GraftSession.local(GraftSession.envCpus)
    // native fns + the size(split)->graft_ntokens optimizer rule, installed
    // up front so every query plans identically regardless of run order
    graft.functions.GraftFunctions.register(spark)
    graft.core.DatapointStore.fsFor(outDir)
      .mkdirs(new org.apache.hadoop.fs.Path(outDir))
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Json.str escapes every control char: a tab or CR in oracle SQL would
    // otherwise make the oracle compare's json.load reject the whole file
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // provenance stamp (r16 ADVICE): the compare's mtime-only staleness
    // guard false-positives after a git checkout (mtimes rewritten on
    // unchanged files). Stamp the dump with the builder tree's SHA +
    // dirty flag so compare_oracle.py can prove freshness by identity:
    // equal clean SHAs ⇒ fresh regardless of mtimes. Best-effort — a
    // missing stamp just falls back to the mtime guard. git runs in the
    // tree these classes were loaded from (a classes directory, or the
    // directory of the jar `sbt runMain` copies them into under target/),
    // never the JVM's working directory, which may be another repository.
    try {
      val loc = Paths.get(getClass.getProtectionDomain.getCodeSource
        .getLocation.toURI)
      val (sha, dirty) =
        gitStamp((if (Files.isDirectory(loc)) loc else loc.getParent).toString)
      Files.writeString(Paths.get(s"$outDir/_verify_meta.json"),
        s"""{"sha": ${Json.str(sha)}, "dirty": $dirty}""")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] meta stamp failed: $e") }
    spark.stop()
  }

  /** (HEAD sha, dirty) of the git work tree holding `dir`. A non-zero git
    * exit throws: git's error text must never be recorded as a sha.
    */
  private[graft] def gitStamp(dir: String): (String, Boolean) = {
    def git(cmd: String*): String = {
      val p = new ProcessBuilder((Seq("git", "-C", dir) ++ cmd): _*)
        .redirectError(ProcessBuilder.Redirect.DISCARD).start()
      val out = new String(p.getInputStream.readAllBytes()).trim
      val rc = p.waitFor()
      if (rc != 0)
        throw new IllegalStateException(s"git ${cmd.mkString(" ")} exited $rc")
      out
    }
    (git("rev-parse", "HEAD"), git("status", "--porcelain").nonEmpty)
  }
}
