package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact interpolated per-group percentiles in the DISTRIBUTED rank
  * lane — the scale-safe replacement for `percentile(col, array(...))`:
  * that built-in is an ObjectHashAggregate whose buffer holds every
  * distinct (value → count) of the group and merges them into ONE
  * reducer per group, so a 3-group query at 100 TB ends as 3 final-merge
  * tasks holding GB-scale maps. Here nothing ever buffers a group:
  *
  *  1. distinct-value counts — `groupBy(group, value).count` (partial
  *     map-side aggregation, the only corpus-wide shuffle);
  *  2. a running-count CDF over the DISTINCT table only (per-group sort
  *     window, O(1) memory per row — the [[graft.gates.PipeGates]]
  *     pipe_quantile_norm discipline; per-group DISTINCT cardinality is
  *     the sort span, never the row count);
  *  3. target ranks per (group, p) from broadcast group totals —
  *     `pos = p·(n−1)` (0-based), bracketing 1-based ranks
  *     `floor(pos)+1` / `ceil(pos)+1`;
  *  4. ONE broadcast range join locates both bracketing values (rank r
  *     lives in the distinct value whose `[cum−cnt+1, cum]` interval
  *     contains it) and the interpolation reproduces Spark
  *     `percentile`'s exact arithmetic — `(ceil(pos)−pos)·v_lo +
  *     (pos−floor(pos))·v_hi`, `v_lo` when pos is integral — so results
  *     are bit-identical to the built-in (and to DuckDB quantile_cont,
  *     as the oracle gate already established for the built-in).
  *
  * Output: one row per group with one DOUBLE column per requested
  * percentile, named by `names` (parallel to `ps`).
  */
object Percentiles {

  def exactInterpolated(df: DataFrame, groupCol: String, valCol: String,
      ps: Seq[(Double, String)], checkpoint: Boolean = true): DataFrame = {
    require(ps.nonEmpty, "need at least one percentile")
    val g = col(groupCol)
    // builtin percentile IGNORES nulls (n = non-null count); a null
    // value row would otherwise become a NULLS FIRST CDF entry. A group
    // whose values are ALL null disappears here — callers that must
    // keep such groups (builtin yields a null percentile row) left-join
    // this output (ds_staleness does).
    val vc = df.where(col(valCol).isNotNull)
      .groupBy(groupCol, valCol).agg(count(lit(1)).as("cnt"))
    val wcum = Window.partitionBy(groupCol).orderBy(valCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf0 = vc.withColumn("cum", sum("cnt").over(wcum))
    // feeds the totals AND the range join — never recompute the window
    val cdf = if (checkpoint) cdf0.localCheckpoint(true) else cdf0
    val totals = cdf.groupBy(groupCol).agg(max("cum").as("n"))
    // 2 target rows per (group, percentile): the lo and hi bracketing
    // ranks, exploded so ONE pass over the CDF serves both
    val targets = totals.select(g.as("tg"), col("n"),
        explode(array(ps.map { case (p, _) => lit(p) }: _*)).as("p"))
      .withColumn("pos", col("p") * (col("n") - 1).cast("double"))
      .select(col("tg"), col("p"), col("pos"),
        explode(array(
          struct(lit("lo").as("role"), (floor(col("pos")) + 1).as("r")),
          struct(lit("hi").as("role"), (ceil(col("pos")) + 1).as("r"))))
          .as("rr"))
      .select(col("tg"), col("p"), col("pos"),
        col("rr.role").as("role"), col("rr.r").as("r"))
    val bracket = cdf.join(broadcast(targets),
        g === col("tg") &&
          col("r") >= col("cum") - col("cnt") + 1 && col("r") <= col("cum"))
      .groupBy("tg", "p", "pos")
      .agg(max(when(col("role") === "lo", col(valCol))).as("v_lo"),
        max(when(col("role") === "hi", col(valCol))).as("v_hi"))
      .withColumn("v",
        when(col("pos") === floor(col("pos")).cast("double"), col("v_lo"))
          .otherwise(
            (ceil(col("pos")).cast("double") - col("pos")) * col("v_lo") +
              (col("pos") - floor(col("pos")).cast("double")) * col("v_hi")))
    bracket.groupBy(col("tg").as(groupCol))
      .agg(ps.map { case (p, name) =>
        max(when(col("p") === p, col("v"))).as(name)
      }.head, ps.tail.map { case (p, name) =>
        max(when(col("p") === p, col("v"))).as(name)
      }: _*)
  }

  /** Convenience overload: percentile list with auto names p<pct>. */
  def exactInterpolated(df: DataFrame, groupCol: String, valCol: String,
      ps: Seq[Double]): DataFrame =
    exactInterpolated(df, groupCol, valCol,
      ps.map(p => p -> s"p${(p * 100).round}"))

  /** Exact DISCRETE per-group order statistics (type 1: the element at
    * rank ceil(p·n)) in the same distributed rank lane — strictly
    * simpler than [[exactInterpolated]] because a discrete percentile
    * needs only the ONE distinct value whose CDF interval
    * `[cum−cnt+1, cum]` contains the target rank, no interpolation
    * arithmetic. The scale point (the r15 `weak`): ranking every fact
    * row with `row_number().over(partitionBy(group))` shuffles the
    * whole table into #groups partitions — parallelism capped at the
    * group count (3 tasks externally sorting n/3 rows each at 100 TB).
    * Here the only corpus-wide shuffle is a partial-aggregated
    * `groupBy(group, value).count`; the sort window runs over the
    * DISTINCT table only and the target ranks ride a broadcast.
    *
    * Ranks are pure integer (never a float p·n — 0.9·n rounds UP
    * through IEEE on some n): p given as `num/den`,
    * rank = `(num·n + den − 1) div den` = ceil(num·n/den).
    *
    * Output: one row per group — `groupCol`, `nName` (BIGINT group row
    * count), one value column per requested rank, named by `ps._3`.
    */
  def exactDiscrete(df: DataFrame, groupCol: String, valCol: String,
      ps: Seq[(Int, Int, String)], nName: String = "n_rows",
      checkpoint: Boolean = true): DataFrame = {
    require(ps.nonEmpty, "need at least one rank")
    val g = col(groupCol)
    // builtin percentile_disc semantics: nulls never count toward n nor
    // become NULLS FIRST CDF entries (aligned with exactInterpolated —
    // the r16 ADVICE null-contract drift). All-null groups disappear;
    // callers that must keep them left-join this output.
    val vc = df.where(col(valCol).isNotNull)
      .groupBy(groupCol, valCol).agg(count(lit(1)).as("cnt"))
    val wcum = Window.partitionBy(groupCol).orderBy(valCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf0 = vc.withColumn("cum", sum("cnt").over(wcum))
    // feeds the totals AND the range join — never recompute the window
    val cdf = if (checkpoint) cdf0.localCheckpoint(true) else cdf0
    val totals = cdf.groupBy(groupCol).agg(max("cum").as("n"))
    // one target row per (group, rank), broadcast onto the CDF
    val targets = totals.select(g.as("tg"),
        explode(array(ps.map { case (num, den, name) =>
          struct(lit(name).as("pname"),
            expr(s"(${num}L * n + $den - 1) div $den").as("r"))
        }: _*)).as("t"), col("n"))
      .select(col("tg"), col("t.pname").as("pname"), col("t.r").as("r"),
        col("n"))
    cdf.join(broadcast(targets),
        g === col("tg") &&
          col("r") >= col("cum") - col("cnt") + 1 && col("r") <= col("cum"))
      .groupBy(col("tg").as(groupCol))
      .agg(max("n").as(nName),
        ps.map { case (_, _, name) =>
          max(when(col("pname") === name, col(valCol))).as(name) }: _*)
  }

  /** Exact per-group WEIGHTED order statistics — the lower/upper
    * weighted median (smallest value whose cumulative weight reaches /
    * exceeds half the group total) — over the DISTINCT-value table
    * only (the skyline discipline). The raw-row formulation's
    * cumulative RANGE window is a whole-partition pass over fact rows
    * partitioned by the group key — the same parallelism-capped class
    * as the discrete-percentile row_number. Here weights fold map-side
    * into per-(group, value) sums (the only corpus shuffle), the
    * cumulative window spans per-group DISTINCT cardinality, and group
    * totals ride a broadcast. Crossing tests are pure integer
    * (`2·cumw >= totw`, never `0.5·totw`); the distinct-table cumw at
    * value v equals the raw RANGE-frame cumw of every row with that
    * value (peers share one deterministic cumw), so results are
    * identical row-for-row.
    *
    * Output: one row per group — `groupCol`, `totName` (BIGINT total
    * weight), `loName` / `hiName` (the lower/upper weighted median).
    */
  def weightedMedian(df: DataFrame, groupCol: String, valCol: String,
      wCol: String, totName: String = "total_weight",
      loName: String = "wmed_lo", hiName: String = "wmed_hi",
      checkpoint: Boolean = true): DataFrame = {
    // null values are never order statistics (the exactDiscrete /
    // exactInterpolated contract); null weights contribute nothing
    val vc = df.where(col(valCol).isNotNull)
      .groupBy(groupCol, valCol).agg(sum(wCol).as("w"))
    val wcum = Window.partitionBy(groupCol).orderBy(valCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf0 = vc.withColumn("cumw", sum("w").over(wcum))
    val cdf = if (checkpoint) cdf0.localCheckpoint(true) else cdf0
    val tot = cdf.groupBy(groupCol).agg(max("cumw").as("totw"))
    cdf.join(broadcast(tot), Seq(groupCol))
      .groupBy(groupCol)
      .agg(max("totw").as(totName),
        min(when(col("cumw") * 2 >= col("totw"), col(valCol))).as(loName),
        min(when(col("cumw") * 2 > col("totw"), col(valCol))).as(hiName))
  }
}
