package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.Granularity

/** The reference's ten downsamplers (SURVEY.md §2.2: value c,s,q,l,u,m,d;
  * time first/last/mean) as *declarative* Spark aggregate columns.
  *
  * Design notes (100 TB):
  *  - Everything is built from codegen'd built-in aggregates, so Spark
  *    plans a partial (map-side) + final hash aggregation — no shuffle of
  *    raw rows, only of per-bucket partial buffers.
  *  - `mean` and `std_dev` are *derived* from (c, s, q) with the
  *    reference's naive formula `sqrt(q/c − (s/c)²)` — NOT Spark's Welford
  *    `stddev_pop` — for oracle-exact parity (SURVEY §2.2 D7 warning).
  *  - Hierarchical: level g+1 folds from level g's partial aggregates
  *    (`foldAggColumns`) — coarse rollups never re-read raw history.
  *  - Time mean is defined at second resolution as
  *    `bucket_start + floor(avg(epoch_sec − bucket_start_epoch))`: the
  *    offsets are small integers, so the double-precision average is exact
  *    and reproducible across engines (same value in DuckDB).
  */
object Downsample {

  /** Aggregate columns for one bucket fold over raw values.
    * @param v    raw numeric value column
    * @param t    raw timestamp column
    * @param bucketEpoch epoch-second of the bucket start (for exact t-mean)
    */
  def aggColumns(v: Column, t: Column, bucketEpoch: Column): Seq[Column] = {
    val c = count(v)
    val s = sum(v)
    val q = sum(v * v)
    Seq(
      c.as("c"),
      s.as("s"),
      q.as("q"),
      min(v).as("l"),
      max(v).as("u"),
      (s / c).as("m"),
      sqrt(greatest(q / c - (s / c) * (s / c), lit(0.0))).as("d"),
      min(t).as("t_first"),
      max(t).as("t_last"),
      timestamp_seconds(bucketEpoch +
        floor(avg(unix_timestamp(t) - bucketEpoch))).as("t_mean"))
  }

  /** Fold already-downsampled buckets (level g) into a coarser level —
    * partial-aggregate composition, the scale path for the rollup ladder.
    * Input columns: c,s,q,l,u,t_first,t_last,t_mean + coarse bucketEpoch.
    */
  def foldAggColumns(bucketEpoch: Column): Seq[Column] = {
    val c = sum(col("c"))
    val s = sum(col("s"))
    val q = sum(col("q"))
    Seq(
      c.as("c"),
      s.as("s"),
      q.as("q"),
      min(col("l")).as("l"),
      max(col("u")).as("u"),
      (s / c).as("m"),
      sqrt(greatest(q / c - (s / c) * (s / c), lit(0.0))).as("d"),
      min(col("t_first")).as("t_first"),
      max(col("t_last")).as("t_last"),
      // weighted mean of per-bucket mean offsets, weights = counts; a
      // bucket of only null values (Σc = 0) has none: null, not an ANSI
      // divide-by-zero
      timestamp_seconds(bucketEpoch + floor(
        sum((unix_timestamp(col("t_mean")) - bucketEpoch) * col("c")) /
          when(c =!= 0, c)))
        .as("t_mean"))
  }

  /** Downsample raw datapoints to one granularity.
    * Input df needs columns: stream_id, t, v (numeric). Output: one row per
    * (stream_id, bucket) with t = bucket start + the 10 aggregates.
    * `until`: only *completed* buckets (bucket end <= until) are emitted —
    * the reference's completed-bucket rule (SURVEY §2.2 note b); pass None
    * to emit everything (backprocessing).
    */
  def toGranularity(df: DataFrame, g: Granularity,
      until: Option[java.sql.Timestamp] = None): DataFrame = {
    val bucketEpoch = floor(unix_timestamp(col("t")) / g.seconds) * g.seconds
    val aggs = aggColumns(col("v"), col("t"), col("bucket_epoch"))
    val base = df
      .withColumn("bucket_epoch", bucketEpoch)
      .groupBy(col("stream_id"), col("bucket_epoch"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("granularity", lit(g.name))
      .withColumn("t", timestamp_seconds(col("bucket_epoch")))
    val completed = until match {
      case Some(u) =>
        base.where(col("bucket_epoch") + g.seconds <=
          lit(u.getTime / 1000L))
      case None => base
    }
    completed.drop("bucket_epoch")
  }

  /** Count-only downsampling for nominal/graph streams (SURVEY §1.4: only
    * the `count` value downsampler applies; time downsamplers still run).
    * Input: stream_id, t, v_json. Value aggregates other than c are null.
    */
  def countOnlyToGranularity(df: DataFrame, g: Granularity,
      until: Option[java.sql.Timestamp] = None): DataFrame = {
    val bucketEpoch = floor(unix_timestamp(col("t")) / g.seconds) * g.seconds
    val base = df
      .withColumn("bucket_epoch", bucketEpoch)
      .groupBy(col("stream_id"), col("bucket_epoch"))
      .agg(
        count(col("v_json")).as("c"),
        min(col("t")).as("t_first"),
        max(col("t")).as("t_last"),
        timestamp_seconds(col("bucket_epoch") +
          floor(avg(unix_timestamp(col("t")) - col("bucket_epoch")))).as("t_mean"))
      .withColumn("granularity", lit(g.name))
      .withColumn("t", timestamp_seconds(col("bucket_epoch")))
    val completed = until match {
      case Some(u) => base.where(col("bucket_epoch") + g.seconds <= lit(u.getTime / 1000L))
      case None => base
    }
    completed.drop("bucket_epoch")
  }

  /** Count-only partial fold (nominal/graph rollup ladder). */
  def countOnlyFold(aggDf: DataFrame, target: Granularity): DataFrame = {
    val bucketEpoch =
      floor(unix_timestamp(col("t")) / target.seconds) * target.seconds
    val c = sum(col("c"))
    aggDf
      .withColumn("bucket_epoch", bucketEpoch)
      .groupBy(col("stream_id"), col("bucket_epoch"))
      .agg(
        c.as("c"),
        min(col("t_first")).as("t_first"),
        max(col("t_last")).as("t_last"),
        timestamp_seconds(col("bucket_epoch") + floor(
          sum((unix_timestamp(col("t_mean")) - col("bucket_epoch")) * col("c")) /
            when(c =!= 0, c)))
          .as("t_mean"))
      .withColumn("granularity", lit(target.name))
      .withColumn("t", timestamp_seconds(col("bucket_epoch")))
      .drop("bucket_epoch")
  }

  /** Roll a downsampled level up to a coarser one from partials only. */
  def foldToCoarser(aggDf: DataFrame, target: Granularity): DataFrame = {
    val bucketEpoch =
      floor(unix_timestamp(col("t")) / target.seconds) * target.seconds
    val aggs = foldAggColumns(col("bucket_epoch"))
    aggDf
      .withColumn("bucket_epoch", bucketEpoch)
      .groupBy(col("stream_id"), col("bucket_epoch"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("granularity", lit(target.name))
      .withColumn("t", timestamp_seconds(col("bucket_epoch")))
      .drop("bucket_epoch")
  }
}
