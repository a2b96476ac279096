package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one crash-safe directory swap every rewritten-in-place structure
  * uses: the store roots' leaves, the catalog shards, the index cells and
  * buckets, the streaming-dedup state dirs.
  *
  * A `table` is a directory whose units (direct or nested partition
  * directories, named by a root-relative `rel`) are replaced whole. A
  * writer lands the new units under [[stage]]`(table)`, then [[publish]]
  * swaps each one in with two renames: the live unit moves into the
  * backup, the staged unit moves live, the backup copy is dropped. Stage
  * and backup are hidden (dot-prefixed) siblings of the table, so no
  * Spark file index over the table ever lists them.
  *
  * Every crash point leaves each unit wholly old or wholly new:
  *  - before a unit's first rename: the live unit is the old one and the
  *    stage holds the new one — [[dropStage]] rolls it back;
  *  - between the renames: the old unit sits in the backup and the live
  *    one is missing — [[heal]] moves it back (roll back);
  *  - after the second rename: the live unit is the new one and the
  *    backup still holds the old — [[heal]] drops it.
  * Each backed-up unit is a direct child of the backup directory, its
  * `rel` encoded injectively into one name, so [[heal]] needs no
  * knowledge of the table's layout and costs one `exists` when nothing
  * crashed.
  *
  * The caller decides when stage trees are crash leftovers: a reader
  * must never drop a stage a live writer may be about to publish
  * ([[publish]] retires every `rel` without a staged copy).
  */
object DirSwap {
  def stage(table: Path): Path = sibling(table, "stage")
  def backup(table: Path): Path = sibling(table, "bak")
  /** Where [[publish]] keeps unit `rel` between its two renames. */
  def backupOf(table: Path, rel: String): Path =
    new Path(backup(table), rel.replace("%", "%25").replace("/", "%2F"))

  private def sibling(table: Path, kind: String): Path =
    new Path(table.getParent, s".${table.getName}.$kind")

  private def relOf(name: String): String =
    name.replace("%2F", "/").replace("%25", "%")

  /** Swap every staged unit `stage(table)/rel` into `table/rel`; a `rel`
    * with no staged copy is retired. `fence` runs before each unit's
    * renames (a lease check: a holder stalled past its lease must not
    * rename over state a successor now owns) and aborts the publish by
    * throwing. A unit whose renames fail is put back at once and the
    * remaining units still publish; the first such failure is rethrown
    * at the end. A finished publish leaves no stage or backup behind.
    */
  def publish(fs: FileSystem, table: Path, rels: Seq[String],
      fence: () => Unit = () => ()): Unit = {
    val staging = stage(table)
    var failed: Option[java.io.IOException] = None
    if (rels.nonEmpty) fs.mkdirs(backup(table))
    rels.foreach { rel =>
      fence()
      val live = new Path(table, rel)
      val staged = new Path(staging, rel)
      val bak = backupOf(table, rel)
      try {
        if (fs.exists(live) && !fs.rename(live, bak))
          throw new java.io.IOException(s"cannot move $live aside")
        if (fs.exists(staged)) {
          fs.mkdirs(live.getParent)
          if (!fs.rename(staged, live))
            throw new java.io.IOException(s"cannot move $staged to $live")
        }
        if (fs.exists(bak)) DatapointStore.rmTree(fs, bak)
      } catch {
        case e: java.io.IOException =>
          if (!fs.exists(live) && fs.exists(bak)) fs.rename(bak, live)
          failed = failed.orElse(Some(e))
      }
    }
    heal(fs, table)
    dropStage(fs, table)
    failed.foreach(e => throw e)
  }

  /** Restore every backed-up unit whose live copy is missing, drop the
    * other backups. One `exists` when no publish crashed. */
  def heal(fs: FileSystem, table: Path): Unit = {
    val bak = backup(table)
    if (!fs.exists(bak)) return
    fs.listStatus(bak).foreach { st =>
      val live = new Path(table, relOf(st.getPath.getName))
      if (fs.exists(live)) DatapointStore.rmTree(fs, st.getPath)
      else {
        fs.mkdirs(live.getParent)
        if (!fs.rename(st.getPath, live))
          throw new java.io.IOException(s"cannot restore $live")
      }
    }
    DatapointStore.rmTree(fs, bak)
  }

  /** Drop the stage tree: rolls back a write that never published. */
  def dropStage(fs: FileSystem, table: Path): Unit = {
    val s = stage(table)
    if (fs.exists(s)) DatapointStore.rmTree(fs, s)
  }
}
