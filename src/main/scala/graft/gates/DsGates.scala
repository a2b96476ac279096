package graft
package gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Granularity
import graft.operators.{Downsample, FreqRollup, HistRollup, Percentiles}
import Fixtures._

/** Datastream analytics gates (`ds_*`): per-stream aggregates, rollup
  * folds, sketches, autocorrelation, change points and their streaming
  * replay twins over the events-as-streams fixture.
  */
object DsGates {

  def gates: Seq[Gate] = Seq(

    Gate("ds_autocorr", { (s, dir) =>
      // lag-k autocorrelation per stream (Temporal.autocorr): the
      // sufficient statistics are exact BIGINT fixed-point sums from ONE
      // window pass (all three leads share a sort) + one keyed hash agg;
      // the Pearson ACF derives from those integers in a fixed-shape
      // double expression, so even the float lane is bit-identical
      // cross-engine.
      graft.operators.Temporal.autocorr(
          pointStreams(s, dir).withColumn("sec", unix_timestamp(col("t"))),
          "stream_id", "sec", "v", Seq(1, 2, 3))
        .orderBy("stream_id", "lag")
    }, acfOracleSql),

    Gate("ds_changepoint", { (s, dir) =>
      // single level-shift changepoint per stream (Temporal.changepoint):
      // every split position scored in O(n) per key via BIGINT prefix
      // sums; argmax ranked on round(score, 6) with the split position
      // as tiebreak (CLAUDE float-rank rule).
      graft.operators.Temporal.changepoint(
          pointStreams(s, dir).withColumn("sec", unix_timestamp(col("t"))),
          "stream_id", "sec", "v")
        .orderBy("stream_id")
    },
      // BIGINT prefix-sum split scan; rank on round(score, 6) with the
      // split position as tiebreak (CLAUDE float-rank rule)
      s"""WITH $srcSql, $pointSql,
        |q AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec,
        |    CAST(floor(v * 1000.0) AS BIGINT) AS q FROM pts),
        |c AS (SELECT stream_id, sec,
        |    CAST(row_number() OVER (PARTITION BY stream_id ORDER BY sec)
        |      AS BIGINT) AS p,
        |    CAST(sum(q) OVER (PARTITION BY stream_id ORDER BY sec
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS s_p,
        |    CAST(count(*) OVER (PARTITION BY stream_id) AS BIGINT) AS n,
        |    CAST(sum(q) OVER (PARTITION BY stream_id) AS BIGINT) AS s_n
        |  FROM q),
        |s AS (SELECT stream_id, sec, p, n,
        |    s_p * (n - p) - (s_n - s_p) * p AS diff_fp,
        |    round(abs(CAST(s_p * (n - p) - (s_n - s_p) * p AS DOUBLE))
        |      / sqrt(CAST(p AS DOUBLE) * CAST(n - p AS DOUBLE)
        |        * CAST(n AS DOUBLE)) / 1000.0, 6) AS score,
        |    round(CAST(s_p AS DOUBLE) / (CAST(p AS DOUBLE) * 1000.0), 6)
        |      AS mean_left,
        |    round(CAST(s_n - s_p AS DOUBLE)
        |      / (CAST(n - p AS DOUBLE) * 1000.0), 6) AS mean_right
        |  FROM c WHERE p < n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY stream_id
        |    ORDER BY score DESC, p) AS rk FROM s)
        |SELECT stream_id, n, p AS split_pos, sec AS split_at, diff_fp,
        |  score, mean_left, mean_right
        |FROM r WHERE rk = 1 ORDER BY stream_id""".stripMargin),

    Gate("ds_periodicity", { (s, dir) =>
      // daily-cycle strength per stream: Goertzel power at period 24
      // over the hourly series (the single-bin DFT probe — no spectrum
      // materialized). Hourly sums stay BIGINT fixed point until ONE
      // power-of-ten division, so the recurrence input is bit-exact
      // cross-engine; coef = 2·cos(2π/24) rides as the same decimal
      // literal in both engines. Oracle = recursive CTE (two scalar
      // state fields, the drv_holt shape).
      val hourly = pointStreams(s, dir)
        .select(col("stream_id"),
          expr("unix_timestamp(t) div 3600").as("hr"),
          expr("CAST(round(v * 1000) AS BIGINT)").as("q"))
        .groupBy("stream_id", "hr").agg(sum("q").as("xq"))
        .withColumn("x", col("xq").cast("double") / 1000.0)
      graft.operators.Temporal
        .goertzelPower(hourly, "stream_id", "hr", "x",
          coef = 1.9318516525781366)
        // floor of the RAW double, never round(4): the fold is
        // bit-identical, but engine round() implementations disagree on
        // half-way doubles (one flip observed at sf0.01) — floor takes
        // no multiply, so identical bits ⇒ identical integer
        .select(col("stream_id"), col("n_points"),
          expr("CAST(floor(power) AS BIGINT)").as("pow24_floor"))
        .orderBy("stream_id")
    },
      // same fixed-point hourly series; the recurrence replays with the
      // identical decimal-literal coefficient and left-assoc expression
      s"""WITH RECURSIVE $srcSql, $pointSql,
        |h AS (SELECT stream_id,
        |    CAST(floor(epoch(t)) AS BIGINT) // 3600 AS hr,
        |    CAST(sum(CAST(round(v * 1000) AS BIGINT)) AS BIGINT) AS xq
        |  FROM pts GROUP BY 1, 2),
        |p AS (SELECT stream_id, CAST(xq AS DOUBLE) / 1000.0 AS x,
        |    row_number() OVER (PARTITION BY stream_id ORDER BY hr) AS i
        |  FROM h),
        |n AS (SELECT stream_id, count(*) AS nn FROM p GROUP BY 1),
        |g AS (
        |  SELECT stream_id, i, x AS s1, CAST(0 AS DOUBLE) AS s2
        |  FROM p WHERE i = 1
        |  UNION ALL
        |  SELECT q.stream_id, q.i,
        |    q.x + 1.9318516525781366 * g.s1 - g.s2,
        |    g.s1
        |  FROM g JOIN p q ON q.stream_id = g.stream_id AND q.i = g.i + 1),
        |f AS (SELECT g.stream_id, n.nn, g.s1, g.s2
        |  FROM g JOIN n ON n.stream_id = g.stream_id AND g.i = n.nn)
        |SELECT stream_id, CAST(nn AS BIGINT) AS n_points,
        |  CAST(floor(s1 * s1 + s2 * s2 - 1.9318516525781366 * s1 * s2)
        |    AS BIGINT) AS pow24_floor
        |FROM f ORDER BY stream_id""".stripMargin),

    Gate("ds_cusum", { (s, dir) =>
      // two-sided CUSUM drift summary per stream (Temporal.cusumPoints):
      // the recurrence runs as its prefix closed form — two growing-frame
      // window passes, all-integer, O(n) per key; target = per-stream
      // integer-div mean, threshold 5.0 (5000 milli-units). Aggregated to
      // one row per stream: peak excursions + first alarm second.
      val pts = graft.operators.Temporal.cusumPoints(
        pointStreams(s, dir).withColumn("sec", unix_timestamp(col("t"))),
        "stream_id", "sec", "v", None, 5000L)
      pts.groupBy("stream_id")
        .agg(count(lit(1)).as("n"),
          min("target_fp").as("target_fp"), // constant per stream
          max("s_plus_fp").as("s_plus_max"),
          max("s_minus_fp").as("s_minus_max"),
          min(when(col("alarm"), col("sec"))).as("first_alarm_sec"))
        .orderBy("stream_id")
    },
      // same integer closed form: P = prefix sum of (q − target),
      // S⁺ = P − min(0, min P), S⁻ = max(0, max P) − P
      s"""WITH $srcSql, $pointSql,
        |q AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec,
        |    CAST(floor(v * 1000.0) AS BIGINT) AS q FROM pts),
        |tg AS (SELECT stream_id, sec, q,
        |    CAST(sum(q) OVER (PARTITION BY stream_id) AS BIGINT)
        |      // CAST(count(*) OVER (PARTITION BY stream_id) AS BIGINT)
        |      AS target_fp
        |  FROM q),
        |p AS (SELECT stream_id, sec, q, target_fp,
        |    CAST(sum(q - target_fp) OVER w AS BIGINT) AS pp
        |  FROM tg WINDOW w AS (PARTITION BY stream_id ORDER BY sec
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s AS (SELECT stream_id, sec, target_fp,
        |    pp - least(CAST(0 AS BIGINT), min(pp) OVER w) AS s_plus,
        |    greatest(CAST(0 AS BIGINT), max(pp) OVER w) - pp AS s_minus
        |  FROM p WINDOW w AS (PARTITION BY stream_id ORDER BY sec
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT stream_id, CAST(count(*) AS BIGINT) AS n,
        |  min(target_fp) AS target_fp,
        |  CAST(max(s_plus) AS BIGINT) AS s_plus_max,
        |  CAST(max(s_minus) AS BIGINT) AS s_minus_max,
        |  min(CASE WHEN s_plus > 5000 OR s_minus > 5000 THEN sec END)
        |    AS first_alarm_sec
        |FROM s GROUP BY stream_id ORDER BY stream_id""".stripMargin),

    Gate("ds_xcorr", { (s, dir) =>
      // cross-stream correlation: does a user's daily click volume move
      // with their view volume? Values quantize to BIGINT BEFORE any
      // summing (a float sum drifts in the last ulp per partitioning);
      // day alignment + both aggregations are keyed hash aggs, Pearson
      // derives from the exact integer sums in one fixed-shape double
      // expression (bit-identical cross-engine, like ds_autocorr).
      val ev = events(s, dir)
        .withColumn("day", expr("unix_timestamp(ts) div 86400"))
        .withColumn("q", floor(col("value") * 1000.0).cast("long"))
      val daily = ev.groupBy("user_id", "day")
        .agg(sum(when(col("event_type") === "click", col("q"))).as("a"),
          sum(when(col("event_type") === "view", col("q"))).as("b"))
        .where(col("a").isNotNull && col("b").isNotNull)
      val agg = daily.groupBy("user_id")
        .agg(count(lit(1)).as("n_days"),
          sum("a").as("sa_fp"), sum("b").as("sb_fp"),
          sum(col("a") * col("a")).as("saa_fp"),
          sum(col("b") * col("b")).as("sbb_fp"),
          sum(col("a") * col("b")).as("sab_fp"))
        .where(col("n_days") >= 3)
      val num = col("n_days").cast("double") * col("sab_fp").cast("double") -
        col("sa_fp").cast("double") * col("sb_fp").cast("double")
      val da = col("n_days").cast("double") * col("saa_fp").cast("double") -
        col("sa_fp").cast("double") * col("sa_fp").cast("double")
      val db = col("n_days").cast("double") * col("sbb_fp").cast("double") -
        col("sb_fp").cast("double") * col("sb_fp").cast("double")
      agg.withColumn("xcorr",
          when(da > 0.0 && db > 0.0, round(num / sqrt(da * db), 6)))
        .select("user_id", "n_days", "sa_fp", "sb_fp", "sab_fp", "xcorr")
        .orderBy("user_id")
    },
      // same quantize-then-sum discipline; Pearson from exact BIGINTs
      """WITH e AS (SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    event_type, CAST(floor(value * 1000.0) AS BIGINT) AS q
        |  FROM events),
        |d AS (SELECT user_id, day,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN q END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN q END)
        |      AS BIGINT) AS b
        |  FROM e GROUP BY user_id, day
        |  HAVING a IS NOT NULL AND b IS NOT NULL),
        |g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(a) AS BIGINT) AS sa_fp,
        |    CAST(sum(b) AS BIGINT) AS sb_fp,
        |    CAST(sum(a * a) AS BIGINT) AS saa_fp,
        |    CAST(sum(b * b) AS BIGINT) AS sbb_fp,
        |    CAST(sum(a * b) AS BIGINT) AS sab_fp
        |  FROM d GROUP BY user_id HAVING count(*) >= 3)
        |SELECT user_id, n_days, sa_fp, sb_fp, sab_fp,
        |  CASE WHEN (CAST(n_days AS DOUBLE) * CAST(saa_fp AS DOUBLE)
        |        - CAST(sa_fp AS DOUBLE) * CAST(sa_fp AS DOUBLE)) > 0
        |    AND (CAST(n_days AS DOUBLE) * CAST(sbb_fp AS DOUBLE)
        |        - CAST(sb_fp AS DOUBLE) * CAST(sb_fp AS DOUBLE)) > 0
        |  THEN round((CAST(n_days AS DOUBLE) * CAST(sab_fp AS DOUBLE)
        |        - CAST(sa_fp AS DOUBLE) * CAST(sb_fp AS DOUBLE))
        |    / sqrt((CAST(n_days AS DOUBLE) * CAST(saa_fp AS DOUBLE)
        |        - CAST(sa_fp AS DOUBLE) * CAST(sa_fp AS DOUBLE))
        |      * (CAST(n_days AS DOUBLE) * CAST(sbb_fp AS DOUBLE)
        |        - CAST(sb_fp AS DOUBLE) * CAST(sb_fp AS DOUBLE))), 6)
        |  END AS xcorr
        |FROM g ORDER BY user_id""".stripMargin),

    Gate("ds_heatmap", { (s, dir) =>
      // hour-of-day × day-of-week occupancy heatmap — the ops-dashboard
      // view of load shape. Day-of-week derives from the epoch day
      // ((day + 4) % 7, 1970-01-01 = Thursday ⇒ 0 = Sunday) because the
      // engines' dayofweek() builtins disagree on origin (Spark 1-7
      // Sun-first vs DuckDB 0-6); epoch arithmetic is engine-neutral.
      // One hash agg over the scan; counts are exact integers.
      events(s, dir)
        .select(expr("unix_timestamp(ts)").as("sec"))
        .select(expr("((sec div 86400) + 4) % 7").as("dow"),
          expr("(sec % 86400) div 3600").as("hod"))
        .groupBy("dow", "hod").agg(count(lit(1)).as("n"))
        .orderBy("dow", "hod")
    },
      // same epoch-day arithmetic; both operands non-negative so % ≡ %
      """WITH s AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events)
        |SELECT ((sec // 86400) + 4) % 7 AS dow,
        |  (sec % 86400) // 3600 AS hod, CAST(count(*) AS BIGINT) AS n
        |FROM s GROUP BY 1, 2 ORDER BY dow, hod""".stripMargin),

    Gate("ds_burstiness", { (s, dir) =>
      // per-stream burstiness audit: Fano factor (variance/mean) of
      // per-minute event counts over the stream's ACTIVE minutes —
      // Poisson-like arrivals sit near 10000 bp, bursty feeds far above.
      // Counts are integers, the naive-variance sums stay BIGINT, and the
      // bp ratio is one integer division: fano_bp =
      // 10000·(n·Σc² − (Σc)²) div (n·Σc) — non-negative by
      // Cauchy-Schwarz, so trunc ≡ floor and the row is exact
      // cross-engine. Two keyed hash aggs, no window, no shuffle of raw
      // events beyond the (stream, minute) key.
      val perMin = events(s, dir)
        .select(concat_ws(":", col("user_id"), col("event_type"))
            .as("stream_id"),
          expr("unix_timestamp(ts) div 60").as("minute"))
        .groupBy("stream_id", "minute")
        .agg(count(lit(1)).as("c"))
      perMin.groupBy("stream_id")
        .agg(count(lit(1)).as("n_minutes"), sum("c").as("s"),
          sum(col("c") * col("c")).as("q"))
        .where(col("n_minutes") >= 5)
        .select(col("stream_id"), col("n_minutes"),
          col("s").as("total_events"),
          expr("(10000L * (n_minutes * q - s * s)) div (n_minutes * s)")
            .as("fano_bp"))
        .withColumn("bursty",
          when(col("fano_bp") > 12000L, 1L).otherwise(0L))
        .orderBy("stream_id")
    },
      // Fano factor of per-minute counts in exact integer bp:
      // 10000·(n·Σc² − (Σc)²) // (n·Σc); the numerator is non-negative
      // (Cauchy-Schwarz), so DuckDB's floor-div ≡ Spark's trunc-div
      """WITH pm AS (SELECT concat(user_id, ':', event_type) AS stream_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 60 AS minute,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT stream_id, CAST(count(*) AS BIGINT) AS n_minutes,
        |    CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS q
        |  FROM pm GROUP BY stream_id HAVING count(*) >= 5)
        |SELECT stream_id, n_minutes, s AS total_events,
        |  (10000 * (n_minutes * q - s * s)) // (n_minutes * s) AS fano_bp,
        |  CAST(CASE WHEN (10000 * (n_minutes * q - s * s))
        |      // (n_minutes * s) > 12000 THEN 1 ELSE 0 END AS BIGINT)
        |    AS bursty
        |FROM g ORDER BY stream_id""".stripMargin),

    Gate("ds_staleness", { (s, dir) =>
      // per-stream freshness audit — the ops query behind "which feeds
      // died": median inter-arrival gap vs time since the last point,
      // stale when silence exceeds 3x the stream's own cadence. Median
      // ONLY (an interpolated p90 of integers is not ulp-safe across
      // engines; the 0.5 quantile is a midpoint of two BIGINTs — exact).
      // One window pass + one keyed agg; "now" = corpus max second
      // broadcast back (a real deployment passes the clock instead).
      val w = Window.partitionBy("stream_id").orderBy("sec")
      val secs = pointStreams(s, dir)
        .withColumn("sec", unix_timestamp(col("t")))
      val gaps = secs
        .withColumn("gap", col("sec") - lag("sec", 1).over(w))
        .localCheckpoint(true) // feeds the counts agg AND the median lane
      // r16: builtin percentile (per-stream value-map ObjectHashAgg) →
      // the distinct-value CDF rank lane; bit-identical (ScaleSpec pin).
      // LEFT join: a 1-point stream's only gap is null — the builtin
      // yielded a null med_gap row, the CDF lane drops the group, the
      // left join restores the null.
      val perStream = gaps.groupBy("stream_id")
        .agg(count(lit(1)).as("n_points"), max("sec").as("last_sec"))
        .join(Percentiles.exactInterpolated(
          gaps, "stream_id", "gap", Seq(0.5 -> "med_gap")),
          Seq("stream_id"), "left")
      val now = secs.agg(max("sec").as("now_sec"))
      perStream.crossJoin(broadcast(now))
        .withColumn("staleness_sec", col("now_sec") - col("last_sec"))
        .withColumn("stale", col("staleness_sec") > lit(3.0) * col("med_gap"))
        .select("stream_id", "n_points", "last_sec", "med_gap",
          "staleness_sec", "stale")
        .orderBy("stream_id")
    },
      // quantile_cont(·, 0.5) ≡ Spark percentile at the exact BIGINT
      // midpoint; 3·med and the > compare are then exact both sides
      s"""WITH $srcSql, $pointSql,
        |q AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec
        |  FROM pts),
        |g AS (SELECT stream_id, sec,
        |    sec - lag(sec) OVER (PARTITION BY stream_id ORDER BY sec)
        |      AS gap
        |  FROM q),
        |a AS (SELECT stream_id, CAST(count(*) AS BIGINT) AS n_points,
        |    max(sec) AS last_sec, quantile_cont(gap, 0.5) AS med_gap
        |  FROM g GROUP BY stream_id),
        |nw AS (SELECT max(sec) AS now_sec FROM q)
        |SELECT stream_id, n_points, last_sec, med_gap,
        |  now_sec - last_sec AS staleness_sec,
        |  (now_sec - last_sec) > 3.0 * med_gap AS stale
        |FROM a, nw ORDER BY stream_id""".stripMargin),

    Gate("ds_profile_similarity", { (s, dir) =>
      // time-series similarity search (the EDBT'19 streaming-TS-search
      // family): each stream's 24-slot hour-of-day energy profile as an
      // exact BIGINT fixed-point vector (per-slot sums of floor(v·1e6)
      // — order-independent), then cosine top-3 neighbors per stream.
      // Profiles are metadata-scale (#streams × 24), so the pair scan
      // crosses profile rows, never raw history; graft_dot ≡ DuckDB's
      // list_dot_product ascending fold, so raw-double ranking is safe
      // (round(6) applied to the OUTPUT after ranking, emb_* style).
      val pts = pointStreams(s, dir)
        .withColumn("sid", split(col("stream_id"), ":").getItem(0))
        .where(col("sid").cast("long") < 12).drop("sid")
        .withColumn("sec", unix_timestamp(col("t")))
        .withColumn("hod", expr("(sec % 86400) div 3600"))
        .withColumn("fp", expr("CAST(floor(v * 1000000) AS BIGINT)"))
      val slot = pts.groupBy("stream_id", "hod").agg(sum("fp").as("sl"))
      val prof = slot.groupBy("stream_id")
        .agg(map_from_entries(collect_list(
          struct(col("hod"), col("sl")))).as("m"))
        .select(col("stream_id"), expr(
          "transform(sequence(0L, 23L), " +
            "h -> CAST(coalesce(element_at(m, h), 0L) AS DOUBLE))")
          .as("vec"))
        .withColumn("nrm", sqrt(expr("graft_dot(vec, vec)")))
        .where(col("nrm") > 0)
        .localCheckpoint(true) // feeds both sides of the pair cross
      val pairs = prof.select(col("stream_id").as("a"),
          col("vec").as("va"), col("nrm").as("na"))
        .join(broadcast(prof.select(col("stream_id").as("b"),
          col("vec").as("vb"), col("nrm").as("nb"))),
          col("a") =!= col("b"))
        .select(col("a"), col("b"),
          (expr("graft_dot(va, vb)") / (col("na") * col("nb"))).as("cos"))
      val w = Window.partitionBy("a").orderBy(col("cos").desc, col("b"))
      pairs.withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 3)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("a", "rnk")
    },
      // same exact fixed-point profiles; list(x ORDER BY hod) mirrors
      // the transform-over-sequence slot order; cosine ranked raw
      s"""WITH $srcSql, $pointSql,
        |p AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec, v
        |  FROM pts
        |  WHERE CAST(string_split(stream_id, ':')[1] AS BIGINT) < 12),
        |h AS (SELECT stream_id, (sec % 86400) // 3600 AS hod,
        |    CAST(sum(CAST(floor(v * 1000000) AS BIGINT)) AS BIGINT) AS sl
        |  FROM p GROUP BY 1, 2),
        |grid AS (SELECT s.stream_id, g.hod
        |  FROM (SELECT DISTINCT stream_id FROM h) s,
        |    (SELECT unnest(range(0, 24)) AS hod) g),
        |f AS (SELECT grid.stream_id, grid.hod,
        |    CAST(coalesce(h.sl, 0) AS DOUBLE) AS x
        |  FROM grid LEFT JOIN h
        |    ON h.stream_id = grid.stream_id AND h.hod = grid.hod),
        |v AS (SELECT stream_id, list(x ORDER BY hod) AS vec
        |  FROM f GROUP BY stream_id),
        |n AS (SELECT stream_id, vec,
        |    sqrt(list_dot_product(vec, vec)) AS nrm FROM v
        |  WHERE sqrt(list_dot_product(vec, vec)) > 0),
        |pr AS (SELECT a.stream_id AS a, b.stream_id AS b,
        |    list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm) AS cos
        |  FROM n a JOIN n b ON a.stream_id <> b.stream_id),
        |r AS (SELECT a, b, cos, CAST(row_number() OVER
        |    (PARTITION BY a ORDER BY cos DESC, b) AS BIGINT) AS rnk
        |  FROM pr)
        |SELECT a, b, rnk, round(cos, 6) AS cos FROM r WHERE rnk <= 3
        |ORDER BY a, rnk""".stripMargin),

    Gate("ds_stream_acf", { (s, dir) =>
      // STREAMING ACF maintenance under the gate: the O(maxLag)-state
      // twin replayed in global time order; the final per-(stream, lag)
      // snapshot (max n_pairs — snapshots only grow, and equal-pair
      // snapshots are identical rows) carries the exact BIGINT
      // sufficient statistics, and the Pearson double derives in the
      // identical expression shape — ds_autocorr's oracle verbatim.
      val fin = replayPointStream(s, dir, 3)(
          ds => graft.streaming.Streaming.autocorrStats(ds, Seq(1, 2, 3)))
        .groupBy("stream_id", "lag")
        .agg(max(struct(col("n_pairs"), col("c_fp"), col("sa_fp"),
          col("sb_fp"), col("sqa_fp"), col("sqb_fp"))).as("st"))
        .select(col("stream_id"), col("lag"),
          col("st.n_pairs").as("n_pairs"), col("st.c_fp").as("c_fp"),
          col("st.sa_fp").as("sa_fp"), col("st.sb_fp").as("sb_fp"),
          col("st.sqa_fp").as("sqa_fp"), col("st.sqb_fp").as("sqb_fp"))
        .where(col("n_pairs") > 0)
      val num = col("n_pairs").cast("double") * col("c_fp").cast("double") -
        col("sa_fp").cast("double") * col("sb_fp").cast("double")
      val da = col("n_pairs").cast("double") * col("sqa_fp").cast("double") -
        col("sa_fp").cast("double") * col("sa_fp").cast("double")
      val db = col("n_pairs").cast("double") * col("sqb_fp").cast("double") -
        col("sb_fp").cast("double") * col("sb_fp").cast("double")
      fin.withColumn("acf",
          when(da > 0.0 && db > 0.0, round(num / sqrt(da * db), 6)))
        .orderBy("stream_id", "lag")
    }, acfOracleSql),

    Gate("ds_stream_cusum", { (s, dir) =>
      // STREAMING CUSUM under the gate: O(1) integer state per stream
      // (prefix sum + running extrema — the closed form ds_cusum
      // derives with window functions), fixed target 10.0 (10000 fp;
      // streaming needs the target up front — a global mean doesn't
      // exist mid-stream), threshold 5.0. Same summary shape as
      // ds_cusum against the constant-target oracle.
      replayPointStream(s, dir, 3)(
          ds => graft.streaming.Streaming.cusum(ds, 10000L, 5000L))
        .groupBy("stream_id")
        .agg(count(lit(1)).as("n"),
          max("s_plus_fp").as("s_plus_max"),
          max("s_minus_fp").as("s_minus_max"),
          min(when(col("alarm"), unix_timestamp(col("t"))))
            .as("first_alarm_sec"))
        .orderBy("stream_id")
    },
      // the ds_cusum closed form with the CONSTANT target the streaming
      // op is handed up front (10000 fp): P = prefix sum of (q − 10000),
      // S⁺ = P − min(0, min P), S⁻ = max(0, max P) − P
      s"""WITH $srcSql, $pointSql,
        |q AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec,
        |    CAST(floor(v * 1000.0) AS BIGINT) AS q FROM pts),
        |p AS (SELECT stream_id, sec,
        |    CAST(sum(q - 10000) OVER w AS BIGINT) AS pp
        |  FROM q WINDOW w AS (PARTITION BY stream_id ORDER BY sec
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s AS (SELECT stream_id, sec,
        |    pp - least(CAST(0 AS BIGINT), min(pp) OVER w) AS s_plus,
        |    greatest(CAST(0 AS BIGINT), max(pp) OVER w) - pp AS s_minus
        |  FROM p WINDOW w AS (PARTITION BY stream_id ORDER BY sec
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT stream_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(max(s_plus) AS BIGINT) AS s_plus_max,
        |  CAST(max(s_minus) AS BIGINT) AS s_minus_max,
        |  min(CASE WHEN s_plus > 5000 OR s_minus > 5000 THEN sec END)
        |    AS first_alarm_sec
        |FROM s GROUP BY stream_id ORDER BY stream_id""".stripMargin),

    Gate("ds_gapfill_hours", { (s, dir) =>
      // gap filling with forward fill: per-stream hourly grid (sequence
      // explode between first and last active hour), left join the hourly
      // means, carry the last known value across gaps. The grid explode
      // is per stream — no global calendar table, no driver loop.
      val pts = events(s, dir).where(col("user_id") < 5)
        .select(concat_ws(":", col("user_id"), col("event_type")).as("stream_id"),
          expr("unix_timestamp(ts) div 3600").as("hr"), col("value").as("v"))
      // checkpoint: grid derives FROM hourly, so the join below is a
      // self-join — without it the events scan + hourly agg run twice
      val hourly = pts.groupBy("stream_id", "hr")
        .agg(round(avg("v"), 6).as("m"))
        .localCheckpoint(true)
      val grid = hourly.groupBy("stream_id")
        .agg(min("hr").as("h0"), max("hr").as("h1"))
        .withColumn("hr", explode(sequence(col("h0"), col("h1"))))
        .select("stream_id", "hr")
      val w = Window.partitionBy("stream_id").orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("stream_id", "hr"), "left")
        .withColumn("filled", last("m", ignoreNulls = true).over(w))
        .withColumn("is_gap", col("m").isNull)
        .select("stream_id", "hr", "filled", "is_gap")
        .orderBy("stream_id", "hr")
    },
      """WITH p AS (SELECT concat(user_id, ':', event_type) AS stream_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr, value AS v
        |  FROM events WHERE user_id < 5),
        |h AS (SELECT stream_id, hr, round(avg(v), 6) AS m
        |  FROM p GROUP BY stream_id, hr),
        |sp AS (SELECT stream_id, min(hr) AS h0, max(hr) AS h1
        |  FROM h GROUP BY stream_id),
        |g AS (SELECT stream_id, unnest(range(h0, h1 + 1)) AS hr FROM sp),
        |j AS (SELECT g.stream_id, g.hr, h.m
        |  FROM g LEFT JOIN h ON g.stream_id = h.stream_id AND g.hr = h.hr)
        |SELECT stream_id, hr,
        |  last_value(m IGNORE NULLS) OVER (PARTITION BY stream_id ORDER BY hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
        |  m IS NULL AS is_gap
        |FROM j ORDER BY stream_id, hr""".stripMargin),

    Gate("ds_moving_median", { (s, dir) =>
      // robust trend smoothing: 7-point CENTERED moving median over
      // per-type daily event counts — the outlier-immune alternative to
      // the seasonal-baseline mean. Exact cross-engine: counts are
      // BIGINTs, an odd window's median is an element, an even window's
      // (series edges) is the midpoint of two integers — the one
      // interpolated quantile that is ulp-safe (the CLAUDE p50 rule;
      // DuckDB median() over the same frame computes exactly this).
      // Window is over the dimension-scale daily table, never raw rows.
      val daily = events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("d")
        .rowsBetween(-3, 3)
      daily
        .withColumn("arr", sort_array(collect_list("c").over(w)))
        .withColumn("n", size(col("arr")).cast("long"))
        .withColumn("med", expr(
          """CASE WHEN n % 2 = 1
            |  THEN CAST(element_at(arr, CAST((n + 1) div 2 AS INT))
            |    AS DOUBLE)
            |  ELSE (element_at(arr, CAST(n div 2 AS INT)) +
            |    element_at(arr, CAST(n div 2 + 1 AS INT))) / 2.0
            |END""".stripMargin))
        .select(col("event_type"), col("d"), col("c"), col("n"), col("med"))
        .orderBy("event_type", "d")
    },
      // DuckDB median() over the identical centered frame: element for
      // odd windows, integer midpoint for even (edge) windows — the one
      // ulp-safe interpolated quantile
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY event_type, CAST(ts AS DATE))
        |SELECT event_type, d, c,
        |  CAST(count(*) OVER w AS BIGINT) AS n,
        |  CAST(median(c) OVER w AS DOUBLE) AS med
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY d
        |  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |ORDER BY event_type, d""".stripMargin),

    Gate("ds_trend_ols", { (s, dir) =>
      // per-(event_type, user-cohort) least-squares DAILY TREND in the
      // exact integer lane: center days at the group's min, lift values
      // to milli-units, then slope = (n·Σtv − Σt·Σv) / (n·Σt² − (Σt)²)
      // where every sufficient statistic is a BIGINT (t ≤ days, mv ≤
      // 10⁶-ish ⇒ products sit far under the 2⁶³ line at gate SFs).
      // Division is the sign-split floor (never raw negative div across
      // engines); groups with a degenerate design (one distinct day)
      // report NULL. Two hash aggs + a broadcast min-day join — no
      // window, no per-stream loop.
      val e = events(s, dir).select(col("event_type"),
        pmod(col("user_id"), lit(10L)).as("cohort"),
        to_date(col("ts")).as("d"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("mv"))
      val m = e.groupBy("event_type", "cohort").agg(min("d").as("d0"))
      e.join(broadcast(m), Seq("event_type", "cohort"))
        .withColumn("t", datediff(col("d"), col("d0")).cast("long"))
        .groupBy("event_type", "cohort")
        .agg(count(lit(1)).as("n"), sum("t").as("st"), sum("mv").as("sv"),
          sum(expr("t * mv")).as("stv"), sum(expr("t * t")).as("stt"))
        .withColumn("num", expr("n * stv - st * sv"))
        .withColumn("den", expr("n * stt - st * st"))
        .withColumn("slope_mpd", expr(
          "CASE WHEN den > 0 THEN (abs(num) div den) * " +
            "(CASE WHEN num >= 0 THEN 1 ELSE -1 END) END"))
        .select("event_type", "cohort", "n", "num", "den", "slope_mpd")
        .orderBy("event_type", "cohort")
    },
      // same centered integer sufficient statistics; round(v*1000) is
      // away-from-zero on both engines for the non-negative value lane
      """WITH e AS (SELECT event_type, user_id % 10 AS cohort,
        |    CAST(ts AS DATE) AS d,
        |    CAST(round(value * 1000) AS BIGINT) AS mv FROM events),
        |m AS (SELECT event_type, cohort, min(d) AS d0
        |  FROM e GROUP BY 1, 2),
        |x AS (SELECT e.event_type, e.cohort,
        |    date_diff('day', d0, d) AS t, mv
        |  FROM e JOIN m USING (event_type, cohort)),
        |g AS (SELECT event_type, cohort, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(t) AS BIGINT) AS st, CAST(sum(mv) AS BIGINT) AS sv,
        |    CAST(sum(t * mv) AS BIGINT) AS stv,
        |    CAST(sum(t * t) AS BIGINT) AS stt
        |  FROM x GROUP BY 1, 2)
        |SELECT event_type, cohort, n,
        |  n * stv - st * sv AS num, n * stt - st * st AS den,
        |  CASE WHEN n * stt - st * st > 0 THEN
        |    (abs(n * stv - st * sv) // (n * stt - st * st)) *
        |    (CASE WHEN n * stv - st * sv >= 0 THEN 1 ELSE -1 END) END
        |    AS slope_mpd
        |FROM g ORDER BY event_type, cohort""".stripMargin),

    Gate("ds_theil_sen", { (s, dir) =>
      // Theil–Sen robust daily trend per (event_type, cohort): the
      // median of pairwise slopes between DAILY integer sums — the
      // estimator outlier days can't drag the way they drag OLS
      // (ds_trend_ols). The pair join is per-group quadratic in the
      // DATE RANGE (time-bounded), never the corpus — the first daily
      // rollup collapses corpus growth into at most one row per day.
      // Each slope is ONE IEEE division of two BIGINTs (bit-identical
      // cross-engine, the jaccard_links rule); the median is the
      // ELEMENT at rank (n+1) div 2 under (slope, d1, d2) order —
      // discrete lower median, no float midpoint averaging.
      val e = events(s, dir).select(col("event_type"),
        pmod(col("user_id"), lit(10L)).as("cohort"),
        to_date(col("ts")).as("d"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("mv"))
      val daily = e.groupBy("event_type", "cohort", "d")
        .agg(sum("mv").as("sv"))
      val a = daily.select(col("event_type"), col("cohort"),
        col("d").as("d1"), col("sv").as("v1"))
      val b = daily.select(col("event_type"), col("cohort"),
        col("d").as("d2"), col("sv").as("v2"))
      val pairs = a.join(b, Seq("event_type", "cohort"))
        .where(col("d1") < col("d2"))
        .withColumn("slope",
          (col("v2") - col("v1")).cast("double") /
            datediff(col("d2"), col("d1")).cast("double"))
      val grp = Window.partitionBy("event_type", "cohort")
      pairs
        .withColumn("rn", row_number().over(
          grp.orderBy(col("slope"), col("d1"), col("d2"))))
        .withColumn("n_pairs", count(lit(1)).over(grp))
        .where(col("rn") === expr("(n_pairs + 1) div 2"))
        .select(col("event_type"), col("cohort"), col("n_pairs"),
          col("slope").as("slope_mpd"))
        .orderBy("event_type", "cohort")
    },
      // daily BIGINT sums collapse the corpus first (pairs are then
      // quadratic in the date range only); each slope is one IEEE
      // division of two BIGINTs — bit-identical cross-engine — and the
      // median is the discrete element at rank (n+1)//2 under
      // (slope, d1, d2) order
      """WITH e AS (SELECT event_type, user_id % 10 AS cohort,
        |    CAST(ts AS DATE) AS d,
        |    CAST(round(value * 1000) AS BIGINT) AS mv FROM events),
        |daily AS (SELECT event_type, cohort, d,
        |    CAST(sum(mv) AS BIGINT) AS sv FROM e GROUP BY 1, 2, 3),
        |p AS (SELECT a.event_type, a.cohort, a.d AS d1, b.d AS d2,
        |    CAST(b.sv - a.sv AS DOUBLE)
        |      / CAST(date_diff('day', a.d, b.d) AS DOUBLE) AS slope
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.cohort = b.cohort
        |    AND a.d < b.d),
        |r AS (SELECT event_type, cohort, slope,
        |    row_number() OVER (PARTITION BY event_type, cohort
        |      ORDER BY slope, d1, d2) AS rn,
        |    CAST(count(*) OVER (PARTITION BY event_type, cohort)
        |      AS BIGINT) AS n_pairs
        |  FROM p)
        |SELECT event_type, cohort, n_pairs, slope AS slope_mpd
        |FROM r WHERE rn = (n_pairs + 1) // 2
        |ORDER BY event_type, cohort""".stripMargin),

    Gate("ds_rolling_actives", { (s, dir) =>
      // 7-day rolling distinct active users per observed day. COUNT
      // (DISTINCT) can't ride a window frame on either engine, and a
      // range join is a nested loop — instead each (user, day) activity
      // EXPLODES to the 7 target days it covers (a generator, no
      // shuffle), then one distinct-agg per day; a semi join keeps only
      // days that exist in the data. Work is 7×|activity| rows into a
      // hash agg — linear, window-free.
      val ud = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
        .localCheckpoint(true) // feeds the day grid AND the explode
      val days = ud.select(col("d").as("day")).distinct()
      ud.withColumn("off", explode(sequence(lit(0), lit(6))))
        .withColumn("day", expr("date_add(d, off)"))
        .join(days, Seq("day"), "left_semi")
        .groupBy("day").agg(countDistinct("user_id").as("n_active"))
        .orderBy("day")
    },
      // unnest(range()) explode (scalar range returns a list), DATE +
      // INTEGER day arithmetic ≡ Spark date_add
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |  FROM events),
        |days AS (SELECT DISTINCT d FROM ud),
        |x AS (SELECT user_id, d + CAST(o AS INTEGER) AS day
        |  FROM (SELECT user_id, d, unnest(range(0, 7)) AS o FROM ud))
        |SELECT x.day, CAST(count(DISTINCT x.user_id) AS BIGINT) AS n_active
        |FROM x JOIN days ON x.day = days.d
        |GROUP BY 1 ORDER BY day""".stripMargin),

    Gate("ds_agg_minutes10", { (s, dir) =>
      Downsample.toGranularity(eventStreams(s, dir), Granularity.Minutes10)
        .select("stream_id", "t", "c", "s", "q", "l", "u", "m", "d",
          "t_first", "t_last", "t_mean")
        .orderBy("stream_id", "t")
    },
      s"""WITH $srcSql,
        |b AS (SELECT stream_id, CAST(floor(epoch(t) / 600) * 600 AS BIGINT) AS be, t, v FROM src)
        |SELECT stream_id, CAST(to_timestamp(be) AS TIMESTAMP) AS t,
        |  count(v) AS c, sum(v) AS s, sum(v * v) AS q,
        |  min(v) AS l, max(v) AS u,
        |  sum(v) / count(v) AS m,
        |  sqrt(greatest(sum(v * v) / count(v)
        |    - (sum(v) / count(v)) * (sum(v) / count(v)), 0)) AS d,
        |  min(t) AS t_first, max(t) AS t_last,
        |  CAST(to_timestamp(be + CAST(floor(avg(epoch(t) - be)) AS BIGINT)) AS TIMESTAMP) AS t_mean
        |FROM b GROUP BY stream_id, be
        |ORDER BY stream_id, be""".stripMargin),

    Gate("ds_fold_hours", { (s, dir) =>
      // hierarchical fold: raw -> minutes partials -> hours (scale path:
      // coarse levels never re-read raw history). t_mean excluded: the
      // fold floors per-minute means first (documented 1s quantization).
      Downsample.foldToCoarser(
          Downsample.toGranularity(eventStreams(s, dir), Granularity.Minutes),
          Granularity.Hours)
        .select("stream_id", "t", "c", "s", "q", "l", "u", "m", "d",
          "t_first", "t_last")
        .orderBy("stream_id", "t")
    },
      s"""WITH $srcSql,
        |b AS (SELECT stream_id, CAST(floor(epoch(t) / 3600) * 3600 AS BIGINT) AS be, t, v FROM src)
        |SELECT stream_id, CAST(to_timestamp(be) AS TIMESTAMP) AS t,
        |  count(v) AS c, sum(v) AS s, sum(v * v) AS q,
        |  min(v) AS l, max(v) AS u,
        |  sum(v) / count(v) AS m,
        |  sqrt(greatest(sum(v * v) / count(v)
        |    - (sum(v) / count(v)) * (sum(v) / count(v)), 0)) AS d,
        |  min(t) AS t_first, max(t) AS t_last
        |FROM b GROUP BY stream_id, be
        |ORDER BY stream_id, be""".stripMargin),

    Gate("ds_hist_quantile_rollup", { (s, dir) =>
      // deterministic mergeable quantile ladder (HistRollup): hour-level
      // fixed-bin histograms folded to days (fold is EXACT — bin counts
      // are sums), interpolated p50/p95 extracted at read time. The only
      // sound quantile rollup at 100 TB: coarse levels never re-read raw
      // history, and unlike KLL/t-digest the fold is deterministic so
      // the oracle recomputes it bit-for-bit.
      val spec = HistRollup.HistSpec(0.0, 512.0, 64)
      val ev = events(s, dir).select(col("event_type"),
        unix_timestamp(col("ts")).as("sec"), col("value").as("v"))
      val hours = HistRollup.histBuckets(ev, "v", "sec", 3600,
        Seq("event_type"), spec)
      val days = HistRollup.fold(hours, 86400, Seq("event_type"))
      HistRollup.quantiles(days, Seq("event_type"),
          Seq("p50" -> 0.5, "p95" -> 0.95), spec)
        .select(col("event_type"), col("t"), col("n"),
          round(col("p50"), 6).as("p50"), round(col("p95"), 6).as("p95"))
        .orderBy("event_type", "t")
    },
      // day-level bins computed directly from raw — legal because the
      // engine's hour→day fold is exact (bin counts are sums); quantile
      // interpolation mirrors HistRollup.quantiles op-for-op
      """WITH src AS (SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec, value AS v FROM events),
        |b AS (SELECT event_type, (sec // 86400) * 86400 AS t,
        |    CAST(least(greatest(floor((v - 0.0) / 8.0), 0), 63) AS BIGINT) AS bin,
        |    count(*) AS cnt
        |  FROM src GROUP BY 1, 2, 3),
        |c AS (SELECT event_type, t, bin, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type, t ORDER BY bin) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type, t) AS BIGINT) AS n
        |  FROM b)
        |SELECT event_type, t, n,
        |  round(max(CASE WHEN (cum - cnt) < 0.5 * n AND 0.5 * n <= cum
        |    THEN 0.0 + 8.0 * (bin + (0.5 * n - (cum - cnt)) / cnt) END), 6) AS p50,
        |  round(max(CASE WHEN (cum - cnt) < 0.95 * n AND 0.95 * n <= cum
        |    THEN 0.0 + 8.0 * (bin + (0.95 * n - (cum - cnt)) / cnt) END), 6) AS p95
        |FROM c GROUP BY event_type, t, n
        |ORDER BY event_type, t""".stripMargin),

    Gate("ds_agg_sliding", { (s, dir) =>
      // sliding (hopping) windows: 10-minute buckets every 5 minutes —
      // each point lands in width/slide = 2 buckets. Spark's window()
      // plans this as a 2-row explode then ONE hash aggregation, not two
      // passes; the tumbling ladder (ds_agg_*) stays the scale path for
      // hierarchies, sliding is for overlapping dashboards/alert windows.
      eventStreams(s, dir)
        .groupBy(col("stream_id"), window(col("t"), "600 seconds", "300 seconds"))
        .agg(count(lit(1)).as("c"), sum("v").as("s"))
        .select(col("stream_id"), col("window.start").as("bucket"),
          col("c"), col("s"))
        .orderBy("stream_id", "bucket")
    },
      """WITH p AS (SELECT concat(user_id, ':', event_type) AS stream_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec, value AS v FROM events),
        |b AS (SELECT stream_id, sec, v,
        |    unnest([(sec // 300) * 300, (sec // 300) * 300 - 300]) AS bstart
        |  FROM p)
        |SELECT stream_id, CAST(to_timestamp(bstart) AS TIMESTAMP) AS bucket,
        |  count(*) AS c, sum(v) AS s
        |FROM b GROUP BY stream_id, bstart
        |ORDER BY stream_id, bucket""".stripMargin),

    Gate("ds_agg_hours6", { (s, dir) =>
      // another ladder level + downsampler projection (count/min/max/first)
      Downsample.toGranularity(eventStreams(s, dir), Granularity.Hours6)
        .select("stream_id", "t", "c", "l", "u", "t_first")
        .orderBy("stream_id", "t")
    },
      s"""WITH $srcSql,
        |b AS (SELECT stream_id, CAST(floor(epoch(t) / 21600) * 21600 AS BIGINT) AS be, t, v FROM src)
        |SELECT stream_id, CAST(to_timestamp(be) AS TIMESTAMP) AS t,
        |  count(v) AS c, min(v) AS l, max(v) AS u, min(t) AS t_first
        |FROM b GROUP BY stream_id, be
        |ORDER BY stream_id, be""".stripMargin),

    Gate("ds_freq_hitters", { (s, dir) =>
      // heavy-hitters rollup ladder: one mergeable frequent-items sketch
      // per hour (native TypedImperativeAggregate — live sketch per
      // group, serialize only at shuffles), folded to days by sketch
      // UNION (never re-reads raw events), top-3 per day at read time.
      // event_type cardinality sits inside the sketch's map capacity, so
      // estimates are exact and merge-order-independent — which is what
      // lets DuckDB oracle them; past-capacity behavior is pinned by the
      // OperatorsSpec bound tests instead.
      val ev = events(s, dir).select(
        timestamp_seconds(unix_timestamp(col("ts"))).as("tsec"),
        col("event_type"))
      val hourly = FreqRollup.sketchBuckets(ev, "event_type", "tsec", 3600L)
      val daily = FreqRollup.foldSketches(hourly, 86400L)
      FreqRollup.topK(daily, 3)
        .select("t", "item", "est")
        .orderBy(col("t"), col("est").desc, col("item"))
    },
      // exact-mode sketch ≡ plain counts; same (est desc, item) tie-break
      """WITH b AS (SELECT
        |    CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS be,
        |    event_type FROM events),
        |c AS (SELECT be, event_type AS item, CAST(count(*) AS BIGINT) AS est
        |  FROM b GROUP BY be, event_type),
        |r AS (SELECT *, row_number() OVER
        |    (PARTITION BY be ORDER BY est DESC, item) AS rn FROM c)
        |SELECT CAST(to_timestamp(be) AS TIMESTAMP) AS t, item, est
        |FROM r WHERE rn <= 3
        |ORDER BY t, est DESC, item""".stripMargin),

    Gate("ds_theta_overlap", { (s, dir) =>
      // audience overlap via theta-sketch SET ALGEBRA — the question HLL
      // rollups cannot answer (HLL unions but never intersects): distinct
      // users who clicked, purchased, did BOTH, did EITHER, per day. One
      // scan, one shuffle: two conditional sketches per day (null inputs
      // skipped), then intersection/union at read time. Exact while daily
      // distincts fit 2^12 nominal entries (they do at every test SF) —
      // that's what lets DuckDB pin it; estimation-mode error is pinned
      // in OperatorsSpec.
      val ev = events(s, dir)
        .where(col("event_type").isin("click", "purchase"))
        .select(timestamp_seconds(
            expr("CAST(floor(unix_timestamp(ts) / 86400) * 86400 AS BIGINT)"))
          .as("t"), col("event_type"), col("user_id"))
      ev.groupBy("t").agg(
          expr("graft_theta_agg(CASE WHEN event_type = 'click' THEN user_id END, 12)")
            .as("cs"),
          expr("graft_theta_agg(CASE WHEN event_type = 'purchase' THEN user_id END, 12)")
            .as("ps"))
        .select(col("t"),
          expr("graft_theta_est(cs)").as("n_click"),
          expr("graft_theta_est(ps)").as("n_purchase"),
          expr("graft_theta_est(graft_theta_and(cs, ps))").as("n_both"),
          expr("graft_theta_est(graft_theta_or(cs, ps))").as("n_either"))
        .orderBy("t")
    },
      // exact-mode theta algebra ≡ per-user boolean flags
      """WITH b AS (SELECT
        |    CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS be,
        |    user_id, event_type
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |u AS (SELECT be, user_id,
        |    bool_or(event_type = 'click') AS c,
        |    bool_or(event_type = 'purchase') AS p
        |  FROM b GROUP BY be, user_id)
        |SELECT CAST(to_timestamp(be) AS TIMESTAMP) AS t,
        |  CAST(count(*) FILTER (WHERE c) AS BIGINT) AS n_click,
        |  CAST(count(*) FILTER (WHERE p) AS BIGINT) AS n_purchase,
        |  CAST(count(*) FILTER (WHERE c AND p) AS BIGINT) AS n_both,
        |  CAST(count(*) AS BIGINT) AS n_either
        |FROM u GROUP BY be ORDER BY t""".stripMargin),

    Gate("ds_nominal_count_days", { (s, dir) =>
      // nominal streams (one per user, value = event_type JSON-ish) get
      // count-only downsampling (SURVEY §1.4)
      val nom = events(s, dir).select(
        concat(lit("u"), col("user_id")).as("stream_id"),
        timestamp_seconds(unix_timestamp(col("ts"))).as("t"),
        col("event_type").as("v_json"))
      Downsample.countOnlyToGranularity(nom, Granularity.Days)
        .select("stream_id", "t", "c", "t_first", "t_last", "t_mean")
        .orderBy("stream_id", "t")
    },
      """WITH nsrc AS (SELECT concat('u', user_id) AS stream_id,
        |    CAST(to_timestamp(CAST(floor(epoch(ts)) AS BIGINT)) AS TIMESTAMP) AS t,
        |    event_type AS vj FROM events),
        |b AS (SELECT stream_id, CAST(floor(epoch(t) / 86400) * 86400 AS BIGINT) AS be, t, vj FROM nsrc)
        |SELECT stream_id, CAST(to_timestamp(be) AS TIMESTAMP) AS t, count(vj) AS c,
        |  min(t) AS t_first, max(t) AS t_last,
        |  CAST(to_timestamp(be + CAST(floor(avg(epoch(t) - be)) AS BIGINT)) AS TIMESTAMP) AS t_mean
        |FROM b GROUP BY stream_id, be
        |ORDER BY stream_id, be""".stripMargin),

    Gate("ds_stream_minutes", { (s, dir) =>
      // batch≡streaming: replay events through the Structured Streaming
      // downsample (watermark-closed buckets only) — the oracle is the
      // batch SQL with the completed-bucket rule at the final watermark
      import s.implicits._
      implicit val ctx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, java.sql.Timestamp, Double)]
      val name = s"stream_replay_${System.nanoTime()}"
      // streaming state partition count is pinned at checkpoint creation;
      // 8 shards is plenty for the replay's state volume and quarters the
      // per-micro-batch state-store commit overhead (a real deployment
      // sizes this to its executor count)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = graft.streaming.Streaming
          .downsample(mem.toDF.toDF("stream_id", "t", "v"), Granularity.Minutes)
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          val rows = eventStreams(s, dir).collect()
            .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
          mem.addData(rows.toSeq)
          q.processAllAvailable()
        } finally q.stop() // never leak a running query into later queries
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table(name)
        .select("stream_id", "t", "c", "s", "q", "l", "u", "m", "d",
          "t_first", "t_last", "t_mean")
        .orderBy("stream_id", "t")
    },
      s"""WITH $srcSql,
        |b AS (SELECT stream_id, CAST(floor(epoch(t) / 60) * 60 AS BIGINT) AS be, t, v FROM src),
        |mx AS (SELECT max(epoch(t)) AS m FROM src)
        |SELECT stream_id, CAST(to_timestamp(be) AS TIMESTAMP) AS t,
        |  count(v) AS c, sum(v) AS s, sum(v * v) AS q,
        |  min(v) AS l, max(v) AS u,
        |  sum(v) / count(v) AS m,
        |  sqrt(greatest(sum(v * v) / count(v)
        |    - (sum(v) / count(v)) * (sum(v) / count(v)), 0)) AS d,
        |  min(t) AS t_first, max(t) AS t_last,
        |  CAST(to_timestamp(be + CAST(floor(avg(epoch(t) - be)) AS BIGINT)) AS TIMESTAMP) AS t_mean
        |FROM b, mx
        |GROUP BY stream_id, be, mx.m
        |HAVING be + 60 <= mx.m
        |ORDER BY stream_id, be""".stripMargin),

    Gate("ds_stream_burstiness", { (s, dir) =>
      // batch≡streaming Fano: replay the full corpus TIME-ORDERED through
      // the O(1)-state streaming twin in 3 micro-batches (cuts land
      // mid-minute for many streams, so open buckets must carry across
      // batch boundaries), then take each stream's LAST snapshot — which
      // by construction equals the batch op, so the oracle SQL is
      // ds_burstiness's verbatim. Global time order mirrors a real
      // source's per-key in-order delivery.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.Streaming.Point]
      val name = s"burst_replay_${System.nanoTime()}"
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = graft.streaming.Streaming.burstinessStats(mem.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          val rows = eventStreams(s, dir).orderBy("t", "stream_id").collect()
            .map(r => graft.streaming.Streaming.Point(
              r.getString(0), r.getTimestamp(1), r.getDouble(2)))
          rows.grouped(rows.length / 3 + 1).foreach { b =>
            mem.addData(b.toSeq); q.processAllAvailable()
          }
        } finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table(name)
        .groupBy("stream_id")
        .agg(max(struct(col("total_events"), col("n_minutes"),
          col("q_sum"), col("fano_bp"))).as("snap"))
        .select(col("stream_id"), col("snap.n_minutes").as("n_minutes"),
          col("snap.total_events").as("total_events"),
          col("snap.fano_bp").as("fano_bp"))
        .where(col("n_minutes") >= 5)
        .withColumn("bursty",
          when(col("fano_bp") > 12000L, 1L).otherwise(0L))
        .orderBy("stream_id")
    },
      // the streaming snapshot is batch-equivalent by construction, so
      // the oracle is ds_burstiness's SQL verbatim
      """WITH pm AS (SELECT concat(user_id, ':', event_type) AS stream_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 60 AS minute,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT stream_id, CAST(count(*) AS BIGINT) AS n_minutes,
        |    CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS q
        |  FROM pm GROUP BY stream_id HAVING count(*) >= 5)
        |SELECT stream_id, n_minutes, s AS total_events,
        |  (10000 * (n_minutes * q - s * s)) // (n_minutes * s) AS fano_bp,
        |  CAST(CASE WHEN (10000 * (n_minutes * q - s * s))
        |      // (n_minutes * s) > 12000 THEN 1 ELSE 0 END AS BIGINT)
        |    AS bursty
        |FROM g ORDER BY stream_id""".stripMargin),

    Gate("ds_stream_sessions", { (s, dir) =>
      // batch≡streaming sessionization: replay events through
      // Streaming.sessionize (session_window, Append mode) — the oracle
      // is gap-based session SQL with the closed-session rule (last
      // event + gap <= final watermark)
      import s.implicits._
      implicit val ctx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, java.sql.Timestamp, Double)]
      val name = s"sess_replay_${System.nanoTime()}"
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = graft.streaming.Streaming
          .sessionize(mem.toDF.toDF("stream_id", "t", "v"), "30 minutes")
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          val rows = eventStreams(s, dir).collect()
            .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
          mem.addData(rows.toSeq)
          q.processAllAvailable()
        } finally q.stop() // never leak a running query into later queries
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table(name)
        .select("stream_id", "sess_start", "sess_end", "n_events", "v_sum")
        .orderBy("stream_id", "sess_start")
    },
      // session boundary: a gap of >= 1800s starts a new session (Spark
      // session_window end is exclusive: an event at exactly last+gap
      // starts a new session). Closed-session rule mirrors the streaming
      // watermark: last event + gap <= final max event time.
      s"""WITH $srcSql,
        |o AS (SELECT stream_id, t, v,
        |    lag(t) OVER (PARTITION BY stream_id ORDER BY t) AS pt FROM src),
        |f AS (SELECT stream_id, t, v,
        |    CASE WHEN pt IS NULL OR epoch(t) - epoch(pt) >= 1800
        |         THEN 1 ELSE 0 END AS brk FROM o),
        |g AS (SELECT stream_id, t, v,
        |    sum(brk) OVER (PARTITION BY stream_id ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS sid FROM f),
        |mx AS (SELECT max(epoch(t)) AS m FROM src)
        |SELECT stream_id, min(t) AS sess_start,
        |  CAST(to_timestamp(CAST(max(epoch(t)) + 1800 AS BIGINT)) AS TIMESTAMP) AS sess_end,
        |  count(*) AS n_events, sum(v) AS v_sum
        |FROM g, mx
        |GROUP BY stream_id, sid, mx.m
        |HAVING max(epoch(t)) + 1800 <= mx.m
        |ORDER BY stream_id, sess_start""".stripMargin),

    Gate("ds_stream_gapfill", { (s, dir) =>
      // STREAMING gap-fill: the ds_gapfill_hours lane in flight — each
      // closed hour emits its mean, skipped hours emit immediately with
      // the last mean carried forward. The final open hour of each
      // stream never closes, so the oracle is the batch SQL with an
      // END-EXCLUSIVE grid (range(h0, h1)); 3 time-ordered micro-batches
      // cut mid-hour, so open-hour partial means must carry in state.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.Streaming.Point]
      val name = s"gapf_replay_${System.nanoTime()}"
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = graft.streaming.Streaming.gapFillHours(mem.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          val rows = events(s, dir).where(col("user_id") < 5)
            .select(concat_ws(":", col("user_id"), col("event_type"))
                .as("stream_id"),
              timestamp_seconds(unix_timestamp(col("ts"))).as("t"),
              col("value").as("v"))
            .orderBy("t", "stream_id", "v").collect()
            .map(r => graft.streaming.Streaming.Point(
              r.getString(0), r.getTimestamp(1), r.getDouble(2)))
          rows.grouped(rows.length / 3 + 1).foreach { b =>
            mem.addData(b.toSeq); q.processAllAvailable()
          }
        } finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table(name).orderBy("stream_id", "hr")
    },
      // the batch gap-fill SQL with an END-EXCLUSIVE grid (range(h0, h1)):
      // the streaming twin's final open hour per stream never closes
      """WITH p AS (SELECT concat(user_id, ':', event_type) AS stream_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr, value AS v
        |  FROM events WHERE user_id < 5),
        |h AS (SELECT stream_id, hr, round(avg(v), 6) AS m
        |  FROM p GROUP BY stream_id, hr),
        |sp AS (SELECT stream_id, min(hr) AS h0, max(hr) AS h1
        |  FROM h GROUP BY stream_id),
        |g AS (SELECT stream_id, unnest(range(h0, h1)) AS hr FROM sp),
        |j AS (SELECT g.stream_id, g.hr, h.m
        |  FROM g LEFT JOIN h ON g.stream_id = h.stream_id AND g.hr = h.hr)
        |SELECT stream_id, hr,
        |  last_value(m IGNORE NULLS) OVER (PARTITION BY stream_id ORDER BY hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
        |  m IS NULL AS is_gap
        |FROM j ORDER BY stream_id, hr""".stripMargin),

    Gate("ds_stream_downtime", { (s, dir) =>
      // STREAMING outage detection: the silence interval emits the
      // moment the stream's next point arrives (the alerting view);
      // aggregating the emitted events per stream — zero-filled over
      // the replayed stream universe — reproduces the batch ds_downtime
      // summary, so the oracle is shared verbatim.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.Streaming.Point]
      val name = s"down_replay_${System.nanoTime()}"
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      val rows = pointStreams(s, dir).orderBy("t", "stream_id").collect()
        .map(r => graft.streaming.Streaming.Point(
          r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      try {
        val q = graft.streaming.Streaming.downtime(mem.toDS(), 3600L)
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try rows.grouped(rows.length / 3 + 1).foreach { b =>
          mem.addData(b.toSeq); q.processAllAvailable()
        } finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      val universe = rows.map(_.stream_id).distinct.toSeq.toDF("stream_id")
      val agg = s.table(name).groupBy("stream_id")
        .agg(count(lit(1)).as("n"), max("outage_sec").as("mx"),
          sum("outage_sec").as("sm"))
      universe.join(agg, Seq("stream_id"), "left")
        .select(col("stream_id"),
          coalesce(col("n"), lit(0L)).as("n_outages"),
          coalesce(col("mx"), lit(0L)).as("max_outage_sec"),
          coalesce(col("sm"), lit(0L)).as("downtime_sec"))
        .orderBy("stream_id")
    },
      // outage events aggregate to EXACTLY the batch summary (an outage is
      // only knowable when the next point arrives, in both lanes) — the
      // streaming replay shares the oracle verbatim
      downtimeOracleSql),

    Gate("ds_stream_join", { (s, dir) =>
      // STREAM-STREAM interval join replay (Streaming.intervalJoin): the
      // click stream enriched with same-user purchases within ±1 h. Both
      // sides are watermarked and the join bounds event time in BOTH
      // directions — the state-expiry contract that keeps the join
      // runnable on unbounded streams; inner-join rows emit as matched,
      // so a single-batch replay equals the batch interval join (the
      // oracle). user_id < 30 bounds the pair volume.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val memL = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, java.sql.Timestamp, Double)]
      val memR = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, java.sql.Timestamp, Double)]
      val name = s"sjoin_replay_${System.nanoTime()}"
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val joined = graft.streaming.Streaming.intervalJoin(
          memL.toDF.toDF("stream_id", "t", "v"),
          memR.toDF.toDF("stream_id", "rt", "rv"),
          before = "3600 seconds", after = "3600 seconds")
        val q = joined.writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          def side(tp: String) = events(s, dir)
            .where(col("event_type") === tp && col("user_id") < 30)
            .select(col("user_id").cast("string"),
              timestamp_seconds(unix_timestamp(col("ts"))), col("value"))
            .collect()
            .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
          memL.addData(side("click").toSeq)
          memR.addData(side("purchase").toSeq)
          q.processAllAvailable()
        } finally q.stop() // never leak a running query into later queries
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table(name).orderBy("stream_id", "t", "rt", "v", "rv")
    },
      // the batch interval join the single-batch streaming replay must
      // equal; both sides floor ts to seconds (the Point convention)
      """WITH l AS (SELECT CAST(user_id AS VARCHAR) AS stream_id,
        |    CAST(to_timestamp(floor(epoch(ts))) AS TIMESTAMP) AS t,
        |    value AS v
        |  FROM events WHERE event_type = 'click' AND user_id < 30),
        |r AS (SELECT CAST(user_id AS VARCHAR) AS stream_id,
        |    CAST(to_timestamp(floor(epoch(ts))) AS TIMESTAMP) AS rt,
        |    value AS rv
        |  FROM events WHERE event_type = 'purchase' AND user_id < 30)
        |SELECT l.stream_id, l.t, l.v, r.rt, r.rv
        |FROM l JOIN r ON r.stream_id = l.stream_id
        |  AND r.rt BETWEEN l.t - INTERVAL 3600 SECOND
        |    AND l.t + INTERVAL 3600 SECOND
        |ORDER BY l.stream_id, l.t, r.rt, l.v, r.rv""".stripMargin),

    Gate("ds_resample_linear", { (s, dir) =>
      // linear-interpolation RESAMPLING onto a regular 10-minute grid —
      // the upsampling sibling of ds_gapfill_hours' carry-forward:
      // per-stream grid explode inside the data extent, bracket every
      // grid instant with its neighbor points via two IGNORE NULLS
      // window passes over the points-union-grid frame (no self-join,
      // no per-instant range join), interpolate in closed form.
      val pts = events(s, dir).where(col("user_id") < 5)
        .select(concat_ws(":", col("user_id"), col("event_type"))
            .as("stream_id"),
          unix_timestamp(col("ts")).as("t"), col("value").as("v"))
      // collapse duplicate seconds by SUM (pointStreams' determinism
      // convention — a rounded mean can flip a 1e-6 boundary between
      // engines and quantize ulp noise into a hard diff; raw sums keep
      // the noise in the fp lane); checkpoint — grid derives FROM secs
      val secs = pts.groupBy("stream_id", "t")
        .agg(sum("v").as("v")).localCheckpoint(true)
      val ext = secs.groupBy("stream_id")
        .agg(min("t").as("t0"), max("t").as("t1"))
        .withColumn("g0", expr("((t0 + 599) div 600) * 600"))
        .withColumn("g1", expr("(t1 div 600) * 600"))
        .where(col("g0") <= col("g1"))
      val grid = ext.select(col("stream_id"),
        explode(sequence(col("g0"), col("g1"), lit(600L))).as("t"))
      // points sort BEFORE the grid instant at equal t (srt 0 < 1), so a
      // grid instant landing exactly on a point takes that point's value
      val u = secs.select(col("stream_id"), col("t"), col("v"),
          lit(0).as("srt"), col("t").as("pt"))
        .unionAll(grid.select(col("stream_id"), col("t"),
          lit(null).cast("double").as("v"), lit(1).as("srt"),
          lit(null).cast("long").as("pt")))
      // both window frames GROW (unbounded-preceding → current): Spark
      // evaluates growing frames incrementally O(n) per partition, but a
      // (current → unbounded-FOLLOWING) frame SHRINKS and is recomputed
      // per row — O(n²) per stream (measured: 12.6 CPU s vs 0.6 at
      // sf0.1). "next" is therefore a DESC-ordered growing frame.
      val wPrev = Window.partitionBy("stream_id").orderBy("t", "srt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy("stream_id")
        .orderBy(col("t").desc, col("srt").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      u.withColumn("prev_v", last("v", ignoreNulls = true).over(wPrev))
        .withColumn("prev_t", last("pt", ignoreNulls = true).over(wPrev))
        .withColumn("next_v", last("v", ignoreNulls = true).over(wNext))
        .withColumn("next_t", last("pt", ignoreNulls = true).over(wNext))
        .where(col("srt") === 1)
        .select(col("stream_id"), col("t"),
          when(col("prev_t") === col("t"), col("prev_v"))
            .otherwise(col("prev_v") + (col("next_v") - col("prev_v")) *
              ((col("t") - col("prev_t")).cast("double") /
                (col("next_t") - col("prev_t")).cast("double")))
            .as("v_interp"))
        .orderBy("stream_id", "t")
    },
      // identical bracketing: points sort before the grid instant at
      // equal t, closed-form interpolation with the same operation order
      """WITH p AS (SELECT concat(user_id, ':', event_type) AS stream_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t, value AS v
        |  FROM events WHERE user_id < 5),
        |sec AS (SELECT stream_id, t, sum(v) AS v
        |  FROM p GROUP BY 1, 2),
        |ext AS (SELECT stream_id,
        |    ((min(t) + 599) // 600) * 600 AS g0,
        |    (max(t) // 600) * 600 AS g1
        |  FROM sec GROUP BY stream_id),
        |g AS (SELECT stream_id, unnest(range(g0, g1 + 1, 600)) AS t
        |  FROM ext WHERE g0 <= g1),
        |u AS (SELECT stream_id, t, v, 0 AS srt, t AS pt FROM sec
        |  UNION ALL SELECT stream_id, t, NULL, 1, NULL FROM g),
        |b AS (SELECT stream_id, t, srt,
        |    last_value(v IGNORE NULLS) OVER wp AS prev_v,
        |    last_value(pt IGNORE NULLS) OVER wp AS prev_t,
        |    first_value(v IGNORE NULLS) OVER wn AS next_v,
        |    first_value(pt IGNORE NULLS) OVER wn AS next_t
        |  FROM u
        |  WINDOW wp AS (PARTITION BY stream_id ORDER BY t, srt
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY stream_id ORDER BY t, srt
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT stream_id, t,
        |  CASE WHEN prev_t = t THEN prev_v
        |    ELSE prev_v + (next_v - prev_v) *
        |      (CAST(t - prev_t AS DOUBLE) / CAST(next_t - prev_t AS DOUBLE))
        |    END AS v_interp
        |FROM b WHERE srt = 1 ORDER BY stream_id, t""".stripMargin),

    Gate("ds_downtime", { (s, dir) =>
      // per-stream OUTAGE summary — the SRE view beside ds_staleness'
      // freshness view: count/extent of silence gaps > 1 h between
      // consecutive points. Pure integer seconds (exact cross-engine);
      // one lag window + one keyed agg, both partitioned by stream_id —
      // the same shuffle serves both, streams shard across executors.
      val w = Window.partitionBy("stream_id").orderBy("sec")
      pointStreams(s, dir)
        .withColumn("sec", unix_timestamp(col("t")))
        .withColumn("gap", col("sec") - lag("sec", 1).over(w))
        .groupBy("stream_id")
        .agg(
          sum(when(col("gap") > 3600, 1L).otherwise(0L)).as("n_outages"),
          coalesce(max(when(col("gap") > 3600, col("gap"))), lit(0L))
            .as("max_outage_sec"),
          coalesce(sum(when(col("gap") > 3600, col("gap"))), lit(0L))
            .as("downtime_sec"))
        .orderBy("stream_id")
    }, downtimeOracleSql),

    Gate("ds_motifs", { (s, dir) =>
      // SAX-style motif discovery over event streams: hourly activity
      // counts per event type are symbolized into per-type quartile
      // symbols 0..3 by RANK (never float breakpoints — (4·(rn−1)) div
      // nh), then contiguous 3-hour windows pack into a base-4 motif id
      // (s₁·16 + s₂·4 + s₃), and the top-5 recurring motifs per type
      // are reported. Gaps in the hour sequence never fabricate motifs:
      // both lagged hours must be exactly hr−2/hr−1. One events scan →
      // a metadata-scale (type × hour) table; every window partitions
      // by event type.
      val hc = events(s, dir)
        .select(col("event_type").as("etype"),
          expr("unix_timestamp(ts) div 3600").as("hr"))
        .groupBy("etype", "hr").agg(count(lit(1)).as("cnt"))
      val n = hc.groupBy("etype").agg(count(lit(1)).as("nh"))
      val hw = Window.partitionBy("etype").orderBy("hr")
      val sym = hc
        .withColumn("rn", row_number().over(
          Window.partitionBy("etype").orderBy("cnt", "hr")))
        .join(broadcast(n), Seq("etype"))
        .withColumn("sym", expr("(4 * (rn - 1)) div nh"))
      val motifs = sym
        .withColumn("s1", lag("sym", 2).over(hw))
        .withColumn("s2", lag("sym", 1).over(hw))
        .withColumn("h1", lag("hr", 2).over(hw))
        .withColumn("h2", lag("hr", 1).over(hw))
        .where(col("h1") === col("hr") - 2 && col("h2") === col("hr") - 1)
        .withColumn("motif", col("s1") * 16 + col("s2") * 4 + col("sym"))
      motifs.groupBy("etype", "motif").agg(count(lit(1)).as("n_occ"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("etype")
            .orderBy(col("n_occ").desc, col("motif"))).cast("long"))
        .where(col("rk") <= 5)
        .select("etype", "rk", "motif", "n_occ")
        .orderBy("etype", "rk")
    },
      // same rank symbolization + contiguity guard; floor(epoch()) is
      // the event-seconds invariant
      """WITH e AS (SELECT event_type AS etype,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr FROM events),
        |hc AS (SELECT etype, hr, CAST(count(*) AS BIGINT) AS cnt
        |  FROM e GROUP BY etype, hr),
        |n AS (SELECT etype, CAST(count(*) AS BIGINT) AS nh
        |  FROM hc GROUP BY etype),
        |sym AS (SELECT hc.etype, hr,
        |    (4 * (CAST(row_number() OVER (PARTITION BY hc.etype
        |        ORDER BY cnt, hr) AS BIGINT) - 1)) // nh AS sym
        |  FROM hc JOIN n ON hc.etype = n.etype),
        |m AS (SELECT etype, hr, sym,
        |    lag(sym, 2) OVER w AS s1, lag(sym, 1) OVER w AS s2,
        |    lag(hr, 2) OVER w AS h1, lag(hr, 1) OVER w AS h2
        |  FROM sym WINDOW w AS (PARTITION BY etype ORDER BY hr)),
        |mot AS (SELECT etype, s1 * 16 + s2 * 4 + sym AS motif
        |  FROM m WHERE h1 = hr - 2 AND h2 = hr - 1),
        |cc AS (SELECT etype, motif, CAST(count(*) AS BIGINT) AS n_occ
        |  FROM mot GROUP BY etype, motif)
        |SELECT etype, rk, motif, n_occ FROM (
        |  SELECT etype, motif, n_occ,
        |    CAST(row_number() OVER (PARTITION BY etype
        |      ORDER BY n_occ DESC, motif) AS BIGINT) AS rk
        |  FROM cc) WHERE rk <= 5 ORDER BY etype, rk""".stripMargin))

  // shared by ds_autocorr (batch) and ds_stream_acf (the O(maxLag)-state
  // maintenance twin): exact BIGINT fixed-point sufficient statistics
  // (floor(v*1000)); the ACF double derives from the integers in the
  // identical expression shape, so no fp lane is needed
  private val acfOracleSql: String =
    s"""WITH $srcSql, $pointSql,
      |q AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec,
      |    CAST(floor(v * 1000.0) AS BIGINT) AS q FROM pts),
      |l AS (SELECT stream_id, q,
      |    lead(q, 1) OVER w AS l1, lead(q, 2) OVER w AS l2,
      |    lead(q, 3) OVER w AS l3
      |  FROM q WINDOW w AS (PARTITION BY stream_id ORDER BY sec)),
      |u AS (
      |  SELECT stream_id, CAST(1 AS INT) AS lag, q, l1 AS lq
      |  FROM l WHERE l1 IS NOT NULL
      |  UNION ALL SELECT stream_id, CAST(2 AS INT), q, l2
      |  FROM l WHERE l2 IS NOT NULL
      |  UNION ALL SELECT stream_id, CAST(3 AS INT), q, l3
      |  FROM l WHERE l3 IS NOT NULL),
      |a AS (SELECT stream_id, lag,
      |    CAST(count(*) AS BIGINT) AS n_pairs,
      |    CAST(sum(q * lq) AS BIGINT) AS c_fp,
      |    CAST(sum(q) AS BIGINT) AS sa_fp,
      |    CAST(sum(lq) AS BIGINT) AS sb_fp,
      |    CAST(sum(q * q) AS BIGINT) AS sqa_fp,
      |    CAST(sum(lq * lq) AS BIGINT) AS sqb_fp
      |  FROM u GROUP BY stream_id, lag)
      |SELECT stream_id, lag, n_pairs, c_fp, sa_fp, sb_fp, sqa_fp,
      |  sqb_fp,
      |  CASE WHEN (CAST(n_pairs AS DOUBLE) * CAST(sqa_fp AS DOUBLE)
      |        - CAST(sa_fp AS DOUBLE) * CAST(sa_fp AS DOUBLE)) > 0
      |    AND (CAST(n_pairs AS DOUBLE) * CAST(sqb_fp AS DOUBLE)
      |        - CAST(sb_fp AS DOUBLE) * CAST(sb_fp AS DOUBLE)) > 0
      |  THEN round((CAST(n_pairs AS DOUBLE) * CAST(c_fp AS DOUBLE)
      |        - CAST(sa_fp AS DOUBLE) * CAST(sb_fp AS DOUBLE))
      |    / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sqa_fp AS DOUBLE)
      |        - CAST(sa_fp AS DOUBLE) * CAST(sa_fp AS DOUBLE))
      |      * (CAST(n_pairs AS DOUBLE) * CAST(sqb_fp AS DOUBLE)
      |        - CAST(sb_fp AS DOUBLE) * CAST(sb_fp AS DOUBLE))), 6)
      |  END AS acf
      |FROM a ORDER BY stream_id, lag""".stripMargin

  // exact integer seconds; gaps from the per-(stream, second) deduped
  // points, outage threshold 1 h. Shared by the batch summary and its
  // streaming outage-event twin.
  // shared by drv_derivative / drv_counter_reset and their streaming
  // replay gates (identical per-row emissions under ordered delivery)
  private val downtimeOracleSql: String =
    s"""WITH $srcSql, $pointSql,
      |g AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec,
      |    lag(CAST(floor(epoch(t)) AS BIGINT))
      |      OVER (PARTITION BY stream_id ORDER BY t) AS prev
      |  FROM pts)
      |SELECT stream_id,
      |  CAST(coalesce(sum(CASE WHEN sec - prev > 3600 THEN 1 END), 0)
      |    AS BIGINT) AS n_outages,
      |  CAST(coalesce(max(CASE WHEN sec - prev > 3600 THEN sec - prev END), 0)
      |    AS BIGINT) AS max_outage_sec,
      |  CAST(coalesce(sum(CASE WHEN sec - prev > 3600 THEN sec - prev END), 0)
      |    AS BIGINT) AS downtime_sec
      |FROM g GROUP BY stream_id ORDER BY stream_id""".stripMargin
}
