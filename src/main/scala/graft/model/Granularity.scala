package graft.model

import java.sql.Timestamp

/** The reference's fixed seven-level granularity ladder.
  *
  * Semantics per SURVEY.md §1.3 (derived from the public
  * wlanslovenija/datastream API — `datastream/api.py`, `class Granularity`;
  * /root/reference was empty at survey time, so no file:line citation is
  * possible). Each level floors timestamps to its bucket start
  * (`roundTimestamp`); `Seconds` is finest, `Days` coarsest. All levels
  * divide the UTC epoch evenly, so flooring epoch seconds is exact
  * (Days = UTC midnight, Hours6 = 00/06/12/18 UTC).
  *
  * Scale note: granularity is a *partition column* of the datapoints table
  * (SURVEY §1.5) — at 100 TB a query for one level prunes all others before
  * any IO happens.
  */
sealed abstract class Granularity(val name: String, val seconds: Long) extends Serializable {
  /** Position in the ladder: 0 = finest (Seconds) .. 6 = coarsest (Days). */
  def level: Int = Granularity.ladder.indexOf(this)

  /** Floor an epoch-second count to this granularity's bucket start. */
  def roundEpochSeconds(epoch: Long): Long = {
    // Correct floor for pre-epoch timestamps too (Java / rounds toward zero).
    val r = epoch % seconds
    if (r < 0) epoch - r - seconds else epoch - r
  }

  def roundTimestamp(ts: Timestamp): Timestamp =
    new Timestamp(roundEpochSeconds(Math.floorDiv(ts.getTime, 1000L)) * 1000L)

  /** Spark window duration string, e.g. "10 seconds". */
  def windowDuration: String = s"$seconds seconds"

  override def toString: String = name
}

object Granularity {
  case object Seconds   extends Granularity("seconds", 1L)
  case object Seconds10 extends Granularity("seconds10", 10L)
  case object Minutes   extends Granularity("minutes", 60L)
  case object Minutes10 extends Granularity("minutes10", 600L)
  case object Hours     extends Granularity("hours", 3600L)
  case object Hours6    extends Granularity("hours6", 21600L)
  case object Days      extends Granularity("days", 86400L)

  /** Finest → coarsest. */
  val ladder: Vector[Granularity] =
    Vector(Seconds, Seconds10, Minutes, Minutes10, Hours, Hours6, Days)

  val byName: Map[String, Granularity] = ladder.map(g => g.name -> g).toMap

  def apply(name: String): Granularity =
    byName.getOrElse(name.toLowerCase, throw UnsupportedGranularity(name))

  /** All levels strictly coarser than `g` (the downsample targets). */
  def coarserThan(g: Granularity): Vector[Granularity] =
    ladder.filter(_.seconds > g.seconds)
}
