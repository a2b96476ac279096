package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling utilities (SURVEY "spill-aware" scale notes).
  *
  * Algebraic aggregates (sum/count/min/max) already survive skew via
  * Spark's partial (map-side) aggregation, and AQE splits skewed join
  * partitions at runtime. The remaining hard case is per-key DISTINCT
  * aggregation over a hot key: every distinct value of the hot key lands
  * in one reducer. `saltedDistinctCount` spreads that key over
  * `saltBuckets` reducers with a two-stage exact merge.
  */
object Skew {

  /** Exact count(DISTINCT valueCol) per key, skew-spread over salt
    * buckets. Stage 1 dedups (key, salt-of-value, value) — the hot key's
    * values split across `saltBuckets` reducers; stage 2 sums per-salt
    * distinct counts (no overlap between salt buckets, so the sum is
    * exact).
    */
  def saltedDistinctCount(df: DataFrame, keyCol: String, valueCol: String,
      saltBuckets: Int = 32): DataFrame = {
    val salted = df.select(col(keyCol), col(valueCol),
      pmod(xxhash64(col(valueCol)), lit(saltBuckets)).as("__salt"))
    salted
      .groupBy(col(keyCol), col("__salt"))
      .agg(countDistinct(col(valueCol)).as("__partial"))
      .groupBy(col(keyCol))
      .agg(sum("__partial").as("n_distinct"))
  }

  /** Skew-safe equi-join: spread a HOT join key across `buckets` salt
    * shards. The big (probe) side salts each row deterministically from
    * a caller-named `entropy` column (any well-distributed per-row
    * value); the small (build) side replicates each row into every
    * bucket, so the join key becomes (key, salt) and a hot key's probe
    * rows land on `buckets` reducers instead of one. The build side
    * grows ×buckets — size it accordingly. Result ≡ the plain equi-join
    * row-for-row (ScaleSpec pins it); reach for this where AQE's
    * runtime skew split can't help (broadcast-ineligible build side in
    * a non-sort-merge path, or pre-AQE stages).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      entropy: Column, buckets: Int): DataFrame = {
    val salted = big.withColumn("__salt",
      pmod(xxhash64(entropy), lit(buckets.toLong)))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0L), lit(buckets.toLong - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }
}
