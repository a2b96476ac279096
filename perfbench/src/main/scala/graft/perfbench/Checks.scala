package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Datastream
import graft.model.Granularity

/** Correctness checks run after the timed section. The reference is an
  * independent Spark aggregation of the delivered points, never the
  * store's own code path.
  *
  * Tolerance: `c` is exact everywhere; `l` and `u` are exact on source
  * streams; `s` (and `l`, `u` on derived streams, whose raw values are
  * themselves sums) may differ by at most 1024 ulp of the bucket's sum of
  * absolute values, which covers any summation order.
  */
object Checks {
  /** (stream key, ladder level 0..6, bucket start epoch second) */
  type Key = (String, Int, Long)
  final case class Agg(c: Long, s: Double, l: Double, u: Double, sa: Double)

  /** Raw series of every stream: delivered source points plus each
    * derived stream's relational definition over the complete source
    * series (the shape of the `store_derive_pipeline` oracle).
    */
  def referenceRaw(spark: SparkSession, delivered: Seq[Pt],
      derivs: Seq[String], sums: Seq[Long]): DataFrame = {
    import spark.implicits._
    val src = delivered.map(p => (p.key, p.user, p.sec, p.v))
      .toDF("key", "user", "sec", "v")
    val w = Window.partitionBy("key").orderBy("sec")
    val drv = src.where(col("key").isin(derivs: _*))
      .withColumn("pv", lag("v", 1).over(w))
      .withColumn("ps", lag("sec", 1).over(w))
      .where(col("pv").isNotNull && col("sec") =!= col("ps"))
      .select(concat(lit("d:"), col("key")).as("key"), col("sec"),
        ((col("v") - col("pv")) / (col("sec") - col("ps"))).as("v"))
    val sm = src.where(col("user").isin(sums: _*))
      .groupBy("user", "sec").agg(sum("v").as("v"))
      .select(concat(lit("s:"), col("user").cast("string")).as("key"),
        col("sec"), col("v"))
    src.select("key", "sec", "v").unionByName(drv).unionByName(sm)
  }

  /** Every level of every stream: raw points at level 0, and at each
    * coarser level the buckets that closed by `untilSec`.
    */
  def referenceLevels(raw: DataFrame, untilSec: Long): Map[Key, Agg] = {
    val lv = Granularity.ladder.zipWithIndex.tail.map { case (g, i) =>
      raw.withColumn("b", floor(col("sec") / g.seconds) * g.seconds)
        .where(col("b") + g.seconds <= untilSec)
        .groupBy("key", "b")
        .agg(count(lit(1)).as("c"), sum("v").as("s"), min("v").as("l"),
          max("v").as("u"), sum(abs(col("v"))).as("sa"))
        .select(lit(i).as("lvl"), col("key"), col("b"), col("c"), col("s"),
          col("l"), col("u"), col("sa"))
    }
    val level0 = raw.select(lit(0).as("lvl"), col("key"), col("sec").as("b"),
      lit(1L).as("c"), col("v").as("s"), col("v").as("l"), col("v").as("u"),
      abs(col("v")).as("sa"))
    lv.foldLeft(level0)(_.unionByName(_)).collect().map { r =>
      (r.getString(1), r.getInt(0), r.getLong(2)) ->
        Agg(r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
          r.getDouble(7))
    }.toMap
  }

  /** Everything the store holds, keyed like the reference. Duplicate
    * keys are returned separately: the store must hold none.
    */
  def storeLevels(ds: Datastream, keyOf: Map[String, String])
      : (Map[Key, Agg], Seq[Key]) = {
    val lvl = Granularity.ladder.map(g => g.name -> g.level).toMap
    val rows = ds.datapoints.select(col("stream_id"), col("granularity"),
      unix_timestamp(col("t")), col("v_num"), col("c"), col("s"), col("l"),
      col("u")).collect()
    val seen = mutable.HashMap.empty[Key, Agg]
    val dups = mutable.ArrayBuffer.empty[Key]
    rows.foreach { r =>
      val k = (keyOf.getOrElse(r.getString(0), r.getString(0)),
        lvl(r.getString(1)), r.getLong(2))
      val a =
        if (k._2 == 0) { val v = r.getDouble(3); Agg(1L, v, v, v, math.abs(v)) }
        else Agg(r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7),
          math.abs(r.getDouble(5)))
      if (seen.contains(k)) dups += k else seen(k) = a
    }
    (seen.toMap, dups.toSeq)
  }

  private def close(a: Double, b: Double, sa: Double): Boolean =
    a == b || math.abs(a - b) <= 1024 * math.ulp(math.max(sa, math.abs(a)))

  /** Derived streams are keyed `d:<source key>` and `s:<user>`. */
  def isDerived(key: String): Boolean = key.startsWith("d:") || key.startsWith("s:")

  /** Values that differ, by the tolerance stated above. */
  def differs(key: String, ref: Agg, got: Agg): Boolean =
    ref.c != got.c || !close(ref.s, got.s, ref.sa) ||
      (if (isDerived(key)) !close(ref.l, got.l, ref.sa) || !close(ref.u, got.u, ref.sa)
       else ref.l != got.l || ref.u != got.u)

  /** Mismatch descriptions between the reference and the store, over the
    * keys `inScope` selects.
    */
  def compare(ref: Map[Key, Agg], got: Map[Key, Agg],
      inScope: Key => Boolean): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    ref.foreach { case (k, a) if inScope(k) =>
      got.get(k) match {
        case None => out += s"missing $k"
        case Some(b) if differs(k._1, a, b) => out += s"$k expected $a got $b"
        case _ =>
      }
      case _ =>
    }
    got.keys.foreach(k => if (inScope(k) && !ref.contains(k)) out += s"unexpected $k")
    out.toSeq
  }

  /** A kept read against the reference as of the moment it was made. */
  def checkRead(r: Read, byStream: Map[(String, Int), Array[(Long, Agg)]])
      : Option[String] = {
    val gs = r.g.seconds
    val want = byStream.getOrElse((r.key, r.g.level), Array.empty[(Long, Agg)])
      .filter { case (b, _) =>
        (if (r.g.level == 0) b < r.deliveredHi else b + gs <= r.untilSec) &&
          r.start.forall(b >= _) && r.end.forall(b <= _)
      }
    val got = r.rows
    if (want.length != got.length)
      Some(s"read ${r.key}/${r.g.name}: ${got.length} rows, expected ${want.length}")
    else want.zip(got).collectFirst {
      case ((b, a), (t, s, l, u, c))
          if b != t || differs(r.key, a, Agg(c, s, l, u, math.abs(s))) =>
        s"read ${r.key}/${r.g.name} at $t: got ($c, $s, $l, $u) expected $a"
    }
  }

  def index(ref: Map[Key, Agg]): Map[(String, Int), Array[(Long, Agg)]] =
    ref.toSeq.groupBy { case ((k, l, _), _) => (k, l) }
      .map { case (kl, xs) => kl -> xs.map { case ((_, _, b), a) => (b, a) }
        .sortBy(_._1).toArray }
}
