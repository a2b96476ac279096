package graft
package gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Granularity
import graft.operators.{Derive, Percentiles}
import Fixtures._

/** Derive-operator gates (`drv_*`: derivative, counter reset, EWMA, Holt,
  * Holt-Winters and their ordered and bounded-skew streaming replays) and
  * the store lifecycle gates (`store_*`: ensure, append, ladder, retention,
  * derive cascade and live ingest through [[graft.core.Datastream]]).
  */
object DrvStoreGates {

  def gates: Seq[Gate] = Seq(

    Gate("drv_iqr_outliers", { (s, dir) =>
      // Tukey-fence anomaly counts per stream on DISCRETE quartiles
      // (type-1 order statistics — actual data values, rank arithmetic
      // pure integer like q_percentile_disc). The 1.5×IQR fences compare
      // as `2v > 2q3 + 3(q3−q1)` — one fixed expression shape, never a
      // 1.5 float literal, so the doubles agree bit-for-bit. pts is
      // checkpointed once for its three consumers.
      val pts = pointStreams(s, dir).localCheckpoint(true)
      val counts = pts.groupBy("stream_id").agg(count(lit(1)).as("n"))
      val ranked = pts.withColumn("rn", row_number().over(
          Window.partitionBy("stream_id").orderBy("v", "t")))
        .join(broadcast(counts), "stream_id")
      val quarts = ranked.groupBy("stream_id").agg(
        max(when(col("rn") === expr("(n + 3) div 4"), col("v"))).as("q1"),
        max(when(col("rn") === expr("(3 * n + 3) div 4"), col("v"))).as("q3"),
        max("n").as("n"))
      pts.join(broadcast(quarts), "stream_id")
        .groupBy("stream_id")
        .agg(max("n").as("n"),
          sum(when(
            col("v") * 2 > col("q3") * 2 + (col("q3") - col("q1")) * 3 ||
            col("v") * 2 < col("q1") * 2 - (col("q3") - col("q1")) * 3,
            1L).otherwise(0L)).as("n_outliers"),
          max("q1").as("q1"), max("q3").as("q3"))
        .orderBy("stream_id")
    },
      // identical rank arithmetic ((n+3)//4, (3n+3)//4) and the same
      // doubled-fence expression shape
      s"""WITH $srcSql, $pointSql,
        |c AS (SELECT stream_id, CAST(count(*) AS BIGINT) AS n
        |  FROM pts GROUP BY stream_id),
        |r AS (SELECT p.stream_id, p.v, c.n,
        |    CAST(row_number() OVER (PARTITION BY p.stream_id
        |      ORDER BY p.v, p.t) AS BIGINT) AS rn
        |  FROM pts p JOIN c USING (stream_id)),
        |q AS (SELECT stream_id,
        |    max(CASE WHEN rn = (n + 3) // 4 THEN v END) AS q1,
        |    max(CASE WHEN rn = (3 * n + 3) // 4 THEN v END) AS q3,
        |    max(n) AS n
        |  FROM r GROUP BY stream_id)
        |SELECT p.stream_id, max(q.n) AS n,
        |  CAST(sum(CASE WHEN p.v * 2 > q.q3 * 2 + (q.q3 - q.q1) * 3
        |              OR p.v * 2 < q.q1 * 2 - (q.q3 - q.q1) * 3
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  max(q.q1) AS q1, max(q.q3) AS q3
        |FROM pts p JOIN q USING (stream_id)
        |GROUP BY p.stream_id ORDER BY p.stream_id""".stripMargin),

    Gate("drv_mad_outliers", { (s, dir) =>
      // robust per-stream anomaly detection: median/MAD with the
      // 3×1.4826 consistency cut — immune to the outliers that poison a
      // mean/σ rule. r16: both medians moved off builtin percentile
      // (an ObjectHashAggregate buffering a per-stream value-count map
      // in ONE reducer per stream — state ∝ stream history, no codegen;
      // 12.2 → measured-below CPU s at sf0.1) onto the distributed
      // distinct-value CDF rank lane (Percentiles.exactInterpolated,
      // bit-identical to the builtin by the ScaleSpec pin). Per-stream
      // medians/MADs are dimension-scale → broadcast joins back.
      // Data invariant these inner joins rely on (r16 ADVICE): v is
      // non-null by construction (pointStreams sums non-null event
      // values), so no stream can vanish for being all-null; an all-null
      // caller would need the ds_staleness left-join pattern instead.
      val pts = pointStreams(s, dir).localCheckpoint(true)
      val med = Percentiles.exactInterpolated(
        pts, "stream_id", "v", Seq(0.5 -> "med"))
      val dev = pts.join(broadcast(med), "stream_id")
        .withColumn("adev", abs(col("v") - col("med")))
      val mad = Percentiles.exactInterpolated(
        dev, "stream_id", "adev", Seq(0.5 -> "mad"))
      dev.join(broadcast(mad), "stream_id")
        .groupBy("stream_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("adev") > lit(4.4478) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"),
          max("med").as("med"), max("mad").as("mad"))
        .orderBy("stream_id")
    },
      s"""WITH $srcSql, $pointSql,
        |med AS (SELECT stream_id, quantile_cont(v, 0.5) AS med
        |  FROM pts GROUP BY stream_id),
        |dev AS (SELECT p.stream_id, abs(p.v - m.med) AS adev, m.med
        |  FROM pts p JOIN med m USING (stream_id)),
        |mad AS (SELECT stream_id, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY stream_id)
        |SELECT d.stream_id, count(*) AS n,
        |  CAST(sum(CASE WHEN d.adev > 4.4478 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  max(d.med) AS med, max(m.mad) AS mad
        |FROM dev d JOIN mad m USING (stream_id)
        |GROUP BY d.stream_id ORDER BY d.stream_id""".stripMargin),

    Gate("drv_zscore", { (s, dir) =>
      // rolling z-score anomaly detection: each point scored against the
      // trailing 10 points' mean/σ (naive sum-of-squares σ, the engine's
      // std_dev convention — Welford window stddev would diverge between
      // engines). One window pass, emits only |z| > 3 outliers.
      val w = Window.partitionBy("stream_id").orderBy("sec")
        .rowsBetween(-10, -1)
      pointStreams(s, dir)
        .withColumn("sec", unix_timestamp(col("t")))
        .withColumn("n", count("v").over(w))
        .withColumn("m", sum("v").over(w) / col("n"))
        .withColumn("sd", sqrt(greatest(
          sum(col("v") * col("v")).over(w) / col("n") - col("m") * col("m"),
          lit(0.0))))
        .where(col("n") >= 10 && col("sd") > 0)
        .withColumn("z", round((col("v") - col("m")) / col("sd"), 6))
        .where(abs(col("z")) > 3)
        .select("stream_id", "sec", "v", "z")
        .orderBy("stream_id", "sec")
    },
      s"""WITH $srcSql, $pointSql,
        |p AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec, v
        |  FROM pts),
        |r AS (SELECT stream_id, sec, v,
        |    count(v) OVER fr AS n,
        |    sum(v) OVER fr / count(v) OVER fr AS m,
        |    sqrt(greatest(sum(v * v) OVER fr / count(v) OVER fr
        |      - (sum(v) OVER fr / count(v) OVER fr)
        |        * (sum(v) OVER fr / count(v) OVER fr), 0)) AS sd
        |  FROM p
        |  WINDOW fr AS (PARTITION BY stream_id ORDER BY sec
        |    ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
        |SELECT stream_id, sec, v, round((v - m) / sd, 6) AS z
        |FROM r WHERE n >= 10 AND sd > 0 AND abs(round((v - m) / sd, 6)) > 3
        |ORDER BY stream_id, sec""".stripMargin),

    Gate("drv_seasonal_baseline", { (s, dir) =>
      // seasonal decomposition, hour-of-day profile: each stream's
      // 24-slot baseline (one hash agg, O(#streams x 24) output)
      // broadcast-joins back onto the points; residual = value − slot
      // mean. The profile side is metadata-sized no matter how long the
      // history grows — the scale-correct seasonal op (a window over
      // the raw stream would sort the full history per stream).
      val pts = pointStreams(s, dir)
        .withColumn("sec", unix_timestamp(col("t")))
        .withColumn("hod", expr("(sec % 86400) div 3600"))
        .localCheckpoint(true) // profile derives FROM pts (self-join rule)
      val prof = pts.groupBy("stream_id", "hod")
        .agg(avg("v").as("b"))
      pts.join(broadcast(prof), Seq("stream_id", "hod"))
        .select(col("stream_id"), col("sec"), col("hod"),
          round(col("b"), 6).as("baseline"),
          round(col("v") - col("b"), 6).as("resid"))
        .orderBy("stream_id", "sec")
    },
      s"""WITH $srcSql, $pointSql,
        |h AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec, v,
        |    (CAST(floor(epoch(t)) AS BIGINT) % 86400) // 3600 AS hod
        |  FROM pts),
        |prof AS (SELECT stream_id, hod, avg(v) AS b
        |  FROM h GROUP BY stream_id, hod)
        |SELECT h.stream_id, h.sec, h.hod, round(prof.b, 6) AS baseline,
        |  round(h.v - prof.b, 6) AS resid
        |FROM h JOIN prof
        |  ON h.stream_id = prof.stream_id AND h.hod = prof.hod
        |ORDER BY h.stream_id, sec""".stripMargin),

    Gate("drv_seasonal_anomaly", { (s, dir) =>
      // seasonally-adjusted robust anomaly flags: remove each stream's
      // hour-of-day baseline, then flag residuals beyond 3x the MAD.
      // FULLY exact: baseline = integer-div of fixed-point sums (a float
      // mean would make the >3·MAD boolean a ulp coin flip), residuals
      // are BIGINTs, and MAD = median of BIGINTs (an exact midpoint —
      // the ds_staleness median rule). Profile join is broadcast
      // (O(#streams × 24)); everything else is keyed aggs. Data
      // invariant the inner MAD join relies on (r16 ADVICE): v/q are
      // non-null by construction, so no stream vanishes as all-null.
      val pts = pointStreams(s, dir)
        .withColumn("sec", unix_timestamp(col("t")))
        .withColumn("hod", expr("(sec % 86400) div 3600"))
        .withColumn("q", floor(col("v") * 1000.0).cast("long"))
        .localCheckpoint(true) // profile derives FROM pts (self-join rule)
      val prof = pts.groupBy("stream_id", "hod")
        .agg(expr("sum(q) div count(1)").as("baseline_fp"))
      val resid = pts.join(broadcast(prof), Seq("stream_id", "hod"))
        .withColumn("residual_fp", col("q") - col("baseline_fp"))
      // r16: builtin percentile (per-stream value-map ObjectHashAgg) →
      // the distinct-value CDF rank lane; bit-identical (ScaleSpec pin)
      val mad = Percentiles.exactInterpolated(
        resid.withColumn("ares", abs(col("residual_fp"))),
        "stream_id", "ares", Seq(0.5 -> "mad_fp"))
      resid.join(broadcast(mad), "stream_id")
        .where(abs(col("residual_fp")).cast("double") >
          lit(3.0) * col("mad_fp"))
        .select(col("stream_id"), col("sec"), col("hod"),
          col("residual_fp"), col("mad_fp"))
        .orderBy("stream_id", "sec")
    },
      // integer-div baseline, BIGINT residuals, exact-midpoint MAD
      s"""WITH $srcSql, $pointSql,
        |p AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec,
        |    (CAST(floor(epoch(t)) AS BIGINT) % 86400) // 3600 AS hod,
        |    CAST(floor(v * 1000.0) AS BIGINT) AS q
        |  FROM pts),
        |prof AS (SELECT stream_id, hod,
        |    CAST(sum(q) AS BIGINT) // CAST(count(*) AS BIGINT)
        |      AS baseline_fp
        |  FROM p GROUP BY stream_id, hod),
        |r AS (SELECT p.stream_id, p.sec, p.hod,
        |    p.q - prof.baseline_fp AS residual_fp
        |  FROM p JOIN prof
        |    ON p.stream_id = prof.stream_id AND p.hod = prof.hod),
        |m AS (SELECT stream_id, quantile_cont(abs(residual_fp), 0.5)
        |    AS mad_fp
        |  FROM r GROUP BY stream_id)
        |SELECT r.stream_id, r.sec, r.hod, r.residual_fp, m.mad_fp
        |FROM r JOIN m ON r.stream_id = m.stream_id
        |WHERE CAST(abs(r.residual_fp) AS DOUBLE) > 3.0 * m.mad_fp
        |ORDER BY r.stream_id, r.sec""".stripMargin),

    Gate("drv_twa", { (s, dir) =>
      // time-weighted average per stream: each value weighted by its
      // hold time until the next point (step interpolation) — lead()
      // window then one aggregation; round(6) for summation-order noise
      val w = Window.partitionBy("stream_id").orderBy("sec")
      pointStreams(s, dir)
        .withColumn("sec", unix_timestamp(col("t")))
        .withColumn("next_sec", lead("sec", 1).over(w))
        .where(col("next_sec").isNotNull)
        .groupBy("stream_id")
        .agg(round(sum(col("v") * (col("next_sec") - col("sec"))) /
            (max("next_sec") - min("sec")), 6).as("twa"),
          count(lit(1)).as("n_segments"))
        .orderBy("stream_id")
    },
      s"""WITH $srcSql, $pointSql,
        |p AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec, v
        |  FROM pts),
        |l AS (SELECT stream_id, sec, v,
        |    lead(sec) OVER (PARTITION BY stream_id ORDER BY sec) AS next_sec
        |  FROM p)
        |SELECT stream_id,
        |  round(sum(v * (next_sec - sec)) / (max(next_sec) - min(sec)), 6)
        |    AS twa,
        |  count(*) AS n_segments
        |FROM l WHERE next_sec IS NOT NULL
        |GROUP BY stream_id ORDER BY stream_id""".stripMargin),

    Gate("drv_ewma", { (s, dir) =>
      // EWMA smoother (α=0.3), last value per stream: the sequential
      // per-stream fold matches DuckDB's list_reduce over the
      // identically-ordered value list to ~1e-9 (the per-second
      // pre-aggregation's summation ORDER differs between engines and the
      // fold amplifies the ulp); round(4) keeps a boundary flip
      // improbable at every SF, where round(6) flipped once at sf0.1
      val w = Window.partitionBy("stream_id").orderBy(col("t").desc)
      graft.operators.Derive.ewma(pointStreams(s, dir), alpha = 0.3)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("stream_id"), round(col("ewma"), 4).as("ewma_last"))
        .orderBy("stream_id")
    }, ewmaOracleSql),

    Gate("drv_holt", { (s, dir) =>
      // Holt level+trend smoother (α=0.3, β=0.2), final state per
      // stream — the trend-aware forecast EWMA flattens out of. The
      // oracle replays the identical fold as a DuckDB struct
      // list_reduce; round(4) for the same ulp-amplification reason as
      // drv_ewma
      Derive.holt(pointStreams(s, dir), alpha = 0.3, beta = 0.2)
        .select(col("stream_id"),
          round(col("level"), 4).as("level"),
          round(col("trend"), 4).as("trend"),
          round(col("level") + col("trend"), 4).as("forecast_1"))
        .orderBy("stream_id")
    },
      // Holt fold as a RECURSIVE CTE over per-stream row indexes — NOT a
      // struct list_reduce: DuckDB 1.0 aliases a struct accumulator's
      // fields from the second reduction step on (probe: {'a': acc.a+10,
      // 'b': acc.a} over 3+ elements yields a == b), so two-field state
      // must advance through the recursion join instead. All streams
      // advance one index per iteration; the b term recomputes l_t inline
      // exactly as the Spark fold writes it.
      holtOracleSql),

    Gate("drv_holt_stream", { (s, dir) =>
      // STREAMING Holt under the gate: the O(1)-state twin replayed
      // over the full point set in GLOBAL time order (3 micro-batches
      // cut on the sorted sequence — the ordered-replay rule), final
      // snapshot per stream elected at max t (unique per stream:
      // pointStreams pre-aggregates (stream, t)). Identical fold
      // arithmetic ⇒ bit-equal doubles ⇒ drv_holt's oracle verbatim.
      replayPointStream(s, dir, 3)(
          ds => graft.streaming.Streaming.holt(ds, 0.3, 0.2))
        .groupBy("stream_id")
        .agg(max(struct(col("t"), col("level"), col("trend"))).as("st"))
        .select(col("stream_id"),
          round(col("st.level"), 4).as("level"),
          round(col("st.trend"), 4).as("trend"),
          round(col("st.level") + col("st.trend"), 4).as("forecast_1"))
        .orderBy("stream_id")
    }, holtOracleSql),

    Gate("drv_forecast_eval", { (s, dir) =>
      // rolling-origin backtest of the Holt forecaster: every point
      // predicted by the state BEFORE it, errors quantized to
      // floor(e·10⁶) BIGINTs before summing (order-free, oracle-exact);
      // per-stream MAE + signed bias in micro-units. The "should I
      // trust drv_holt's forecast_1" gate a monitoring stack runs.
      Derive.holtBacktest(pointStreams(s, dir), alpha = 0.3, beta = 0.2)
        .orderBy("stream_id")
    },
      // the drv_holt recursion joined ONE STEP AHEAD: row i's state
      // predicts point i+1; errors quantize to BIGINT micro-units
      // before the sums (order-free); single-point streams report zeros
      s"""WITH RECURSIVE $srcSql, $pointSql,
        |p AS (SELECT stream_id, v, row_number() OVER (
        |    PARTITION BY stream_id
        |    ORDER BY CAST(floor(epoch(t)) AS BIGINT)) AS i
        |  FROM pts),
        |hol AS (
        |  SELECT stream_id, i, CAST(v AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
        |  FROM p WHERE i = 1
        |  UNION ALL
        |  SELECT s.stream_id, s.i,
        |    0.3 * s.v + 0.7 * (h.l + h.b),
        |    0.2 * ((0.3 * s.v + 0.7 * (h.l + h.b)) - h.l) + 0.8 * h.b
        |  FROM hol h JOIN p s
        |    ON s.stream_id = h.stream_id AND s.i = h.i + 1),
        |e AS (SELECT s.stream_id, s.v - (h.l + h.b) AS err
        |  FROM hol h JOIN p s
        |    ON s.stream_id = h.stream_id AND s.i = h.i + 1),
        |g AS (SELECT stream_id, CAST(count(*) AS BIGINT) AS n_eval,
        |    CAST(sum(CAST(floor(abs(err) * 1000000.0) AS BIGINT))
        |      AS BIGINT) AS mae_fp,
        |    CAST(sum(CAST(floor(err * 1000000.0) AS BIGINT))
        |      AS BIGINT) AS bias_fp
        |  FROM e GROUP BY stream_id),
        |ss AS (SELECT DISTINCT stream_id FROM p)
        |SELECT ss.stream_id, coalesce(g.n_eval, 0) AS n_eval,
        |  coalesce(g.mae_fp, 0) AS mae_fp,
        |  coalesce(g.bias_fp, 0) AS bias_fp
        |FROM ss LEFT JOIN g ON g.stream_id = ss.stream_id
        |ORDER BY ss.stream_id""".stripMargin),

    Gate("drv_holt_winters", { (s, dir) =>
      // additive Holt–Winters (α=0.3, β=0.2, γ=0.4, period 4): the
      // seasonal forecaster holt flattens out of. Zero-init seasonal
      // ring; final state + 1-step forecast per stream; oracle replays
      // the fold as a recursive CTE carrying the ring as a LIST.
      Derive.holtWinters(pointStreams(s, dir),
          alpha = 0.3, beta = 0.2, gamma = 0.4, period = 4)
        .select(col("stream_id"),
          round(col("level"), 4).as("level"),
          round(col("trend"), 4).as("trend"),
          round(col("forecast_1"), 4).as("forecast_1"))
        .orderBy("stream_id")
    }, holtWintersOracleSql),

    Gate("drv_holt_winters_stream", { (s, dir) =>
      // STREAMING Holt–Winters under the gate: O(period)-state twin
      // replayed in global time order, final snapshot at max t;
      // identical fold ⇒ drv_holt_winters' oracle verbatim.
      replayPointStream(s, dir, 3)(
          ds => graft.streaming.Streaming.holtWinters(ds, 0.3, 0.2, 0.4, 4))
        .groupBy("stream_id")
        .agg(max(struct(col("t"), col("level"), col("trend"),
          col("forecast_1"))).as("st"))
        .select(col("stream_id"),
          round(col("st.level"), 4).as("level"),
          round(col("st.trend"), 4).as("trend"),
          round(col("st.forecast_1"), 4).as("forecast_1"))
        .orderBy("stream_id")
    }, holtWintersOracleSql),

    Gate("drv_ewma_stream", { (s, dir) =>
      // STREAMING EWMA under the gate: the O(1)-state smoother replayed
      // in global time order, last value per stream elected at max t
      // (unique — pointStreams pre-aggregates (stream, t)); identical
      // fold arithmetic ⇒ drv_ewma's list_reduce oracle verbatim.
      replayPointStream(s, dir, 3)(
          ds => graft.streaming.Streaming.ewma(ds, 0.3))
        .groupBy("stream_id")
        .agg(max(struct(col("t"), col("v"))).as("st"))
        .select(col("stream_id"), round(col("st.v"), 4).as("ewma_last"))
        .orderBy("stream_id")
    }, ewmaOracleSql),

    Gate("store_pipeline", { (s, dir) =>
      // the STORE itself under the oracle: ensure 75 streams from events
      // tags, bulk append, materialize the ladder, read back the Days
      // level joined with stream tags — A1+A3+A10+A4 end-to-end
      val work = java.nio.file.Files.createTempDirectory("graft-store-q").toString
      val ds = new graft.core.Datastream(s, work)
      val ev = events(s, dir).where(col("user_id") < 5)
      val keys = ev.select("user_id", "event_type").distinct().collect()
      val idOf = keys.map { r =>
        val (u, et) = (r.getLong(0).toString, r.getString(1))
        s"$u:$et" -> ds.ensureStream(Map("user" -> u, "type" -> et))
      }.toMap
      val uuidOf = typedLit(idOf)
      ds.appendMultiple(ev.select(
        uuidOf(concat_ws(":", col("user_id"), col("event_type"))).as("stream_id"),
        col("ts").as("t"), col("value").as("v")), checkTimestamp = false)
      ds.downsampleStreams(java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
      ds.datapoints.where(col("granularity") === "days")
        .join(ds.streams.select(col("stream_id"), col("tags")), "stream_id")
        .select(
          element_at(col("tags"), "user").cast("long").as("user_id"),
          element_at(col("tags"), "type").as("event_type"),
          col("t"), col("c"), col("s"), col("l"), col("u"), col("m"), col("d"),
          col("t_first"), col("t_last"))
        .orderBy("user_id", "event_type", "t")
    },
      """WITH src AS (SELECT user_id, event_type,
        |    CAST(to_timestamp(CAST(floor(epoch(ts)) AS BIGINT)) AS TIMESTAMP) AS t,
        |    value AS v FROM events WHERE user_id < 5),
        |b AS (SELECT user_id, event_type,
        |    CAST(floor(epoch(t) / 86400) * 86400 AS BIGINT) AS be, t, v FROM src)
        |SELECT user_id, event_type, CAST(to_timestamp(be) AS TIMESTAMP) AS t,
        |  count(v) AS c, sum(v) AS s, min(v) AS l, max(v) AS u,
        |  sum(v) / count(v) AS m,
        |  sqrt(greatest(sum(v * v) / count(v)
        |    - (sum(v) / count(v)) * (sum(v) / count(v)), 0)) AS d,
        |  min(t) AS t_first, max(t) AS t_last
        |FROM b GROUP BY user_id, event_type, be
        |ORDER BY user_id, event_type, be""".stripMargin),

    Gate("store_stats", { (s, dir) =>
      // store observability (the indexStats move for the datapoint
      // store): per granularity level, datapoint count, stream count
      // and bucket-start bounds after the standard ingest+ladder
      // fixture — the size/skew dashboard a 100× deployment reads
      // before touching compaction or retention. One grouped aggregate
      // over the partition-pruned datapoints tree; the oracle
      // recomputes every level analytically from events (rollup rows =
      // distinct completed buckets per stream, base rows = raw appends).
      val work = java.nio.file.Files
        .createTempDirectory("graft-store-stats").toString
      val ds = new graft.core.Datastream(s, work)
      val ev = events(s, dir).where(col("user_id") < 5)
      val keys = ev.select("user_id", "event_type").distinct().collect()
      val idOf = keys.map { r =>
        val (u, et) = (r.getLong(0).toString, r.getString(1))
        s"$u:$et" -> ds.ensureStream(Map("user" -> u, "type" -> et))
      }.toMap
      val uuidOf = typedLit(idOf)
      ds.appendMultiple(ev.select(
        uuidOf(concat_ws(":", col("user_id"), col("event_type")))
          .as("stream_id"),
        col("ts").as("t"), col("value").as("v")), checkTimestamp = false)
      ds.downsampleStreams(java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
      ds.datapoints.groupBy("granularity").agg(
          count(lit(1)).as("n_points"),
          countDistinct("stream_id").as("n_streams"),
          min(unix_timestamp(col("t"))).as("lo_sec"),
          max(unix_timestamp(col("t"))).as("hi_sec"))
        .orderBy("granularity")
    },
      // rollup rows = distinct completed buckets per stream (bucket end
      // <= until = 1706745600, the ladder's completed-bucket rule);
      // base 'seconds' rows = every appended row (same-second events
      // stay separate datapoints — store_pipeline's c counts prove it)
      """WITH src AS (SELECT
        |    CAST(user_id AS VARCHAR) || ':' || event_type AS k,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events WHERE user_id < 5),
        |g(granularity, secs) AS (VALUES ('seconds10', 10),
        |  ('minutes', 60), ('minutes10', 600), ('hours', 3600),
        |  ('hours6', 21600), ('days', 86400)),
        |roll AS (SELECT g.granularity, k, (sec // g.secs) * g.secs AS b
        |  FROM src, g WHERE (sec // g.secs + 1) * g.secs <= 1706745600
        |  GROUP BY 1, 2, 3),
        |rs AS (SELECT granularity, CAST(count(*) AS BIGINT) AS n_points,
        |    CAST(count(DISTINCT k) AS BIGINT) AS n_streams,
        |    min(b) AS lo_sec, max(b) AS hi_sec FROM roll GROUP BY 1),
        |base AS (SELECT 'seconds' AS granularity,
        |    CAST(count(*) AS BIGINT) AS n_points,
        |    CAST(count(DISTINCT k) AS BIGINT) AS n_streams,
        |    min(sec) AS lo_sec, max(sec) AS hi_sec FROM src)
        |SELECT * FROM base UNION ALL SELECT * FROM rs
        |ORDER BY granularity""".stripMargin),

    Gate("store_nested_tags", { (s, dir) =>
      // nested tag documents end-to-end (SURVEY §1.2): one stream per
      // nation carrying a NESTED tag doc {"meta": {"nation","region"}}
      // ingested as JSON, found via real json-path traversal of
      // tags_json (not literal dotted keys), values read back from BOTH
      // tag shapes — the flat dotted map and the nested document
      val work = java.nio.file.Files.createTempDirectory("graft-nested-q").toString
      val ds = new graft.core.Datastream(s, work)
      val nations = tbl(s, dir, "nation")
        .join(tbl(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_name"), col("r_name")).collect()
      // nested docs flatten at creation time (one lazy catalog, ONE
      // persisted flush — not a catalog write per stream; the per-call
      // merge path updateTagsNested is spec-covered in DatastreamSpec)
      nations.foreach { r =>
        ds.ensureStream(Map("name" -> s"nation:${r.getString(0)}"),
          tags = graft.core.Json.flatten(
            s"""{"meta": {"nation": "${r.getString(0)}", "region": "${r.getString(1)}"}}"""))
      }
      ds.flush()
      ds.findStreamsByJsonPath("meta.region", "EUROPE")
        .select(
          element_at(col("tags"), "meta.nation").as("nation"),
          get_json_object(col("tags_json"), "$['meta']['region']").as("region"))
        .orderBy("nation")
    },
      """SELECT n_name AS nation, r_name AS region
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |ORDER BY n_name""".stripMargin),

    Gate("store_retention", { (s, dir) =>
      // TIERED RETENTION (the RRD ladder semantic) under the oracle:
      // build the store, materialize the ladder, then expire raw
      // seconds at Jan 20 but keep Days back to Jan 10 — the classic
      // metrics policy (raw short, aggregates long). Expiry is whole
      // ymd-partition drops, so the read-back below also pins that
      // reads survive missing historical partitions. Oracle = events
      // under the two cutoffs.
      val work = java.nio.file.Files
        .createTempDirectory("graft-retention-q").toString
      val ds = new graft.core.Datastream(s, work)
      val ev = events(s, dir).where(col("user_id") < 3)
      val keys = ev.select("user_id", "event_type").distinct().collect()
      val idOf = keys.map { r =>
        val (u, et) = (r.getLong(0).toString, r.getString(1))
        s"$u:$et" -> ds.ensureStream(Map("user" -> u, "type" -> et))
      }.toMap
      val uuidOf = typedLit(idOf)
      ds.appendMultiple(ev.select(
        uuidOf(concat_ws(":", col("user_id"), col("event_type"))).as("stream_id"),
        col("ts").as("t"), col("value").as("v")), checkTimestamp = false)
      ds.downsampleStreams(java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
      ds.expireData(Map[graft.model.Granularity, java.sql.Timestamp](
        graft.model.Granularity.Seconds ->
          java.sql.Timestamp.valueOf("2024-01-20 00:00:00"),
        graft.model.Granularity.Days ->
          java.sql.Timestamp.valueOf("2024-01-10 00:00:00")))
      val tags = ds.streams.select(col("stream_id"), col("tags"))
      val dp = ds.datapoints
      // count/min/max only: order-independent (associative-exact) under
      // the ladder fold, unlike s whose partial-sum order is layout-
      // dependent at the last ulp — retention is about WHICH rows
      // survive, which (t, c, l, u) pins completely
      val secs = dp.where(col("granularity") === "seconds")
        .select(col("stream_id"), col("granularity"), col("t"),
          lit(1L).as("c"), col("v_num").as("l"), col("v_num").as("u"))
      val days = dp.where(col("granularity") === "days")
        .select(col("stream_id"), col("granularity"), col("t"),
          col("c"), col("l"), col("u"))
      secs.unionByName(days).join(tags, "stream_id")
        .select(
          element_at(col("tags"), "user").cast("long").as("user_id"),
          element_at(col("tags"), "type").as("event_type"),
          col("granularity"), col("t"), col("c"), col("l"), col("u"))
        .orderBy("user_id", "event_type", "granularity", "t", "l")
    },
      // tiered retention: raw seconds survive from their Jan 20 horizon,
      // day rollups from Jan 10 (ymd-partition drops at midnight cutoffs
      // ⇒ plain t/bucket filters); event data ends in January, so every
      // day bucket closed under until = Feb 1
      """WITH src AS (SELECT user_id, event_type,
        |    CAST(to_timestamp(CAST(floor(epoch(ts)) AS BIGINT)) AS TIMESTAMP) AS t,
        |    value AS v FROM events WHERE user_id < 3),
        |sec AS (SELECT user_id, event_type, 'seconds' AS granularity, t,
        |    CAST(1 AS BIGINT) AS c, v AS l, v AS u
        |  FROM src WHERE t >= TIMESTAMP '2024-01-20 00:00:00'),
        |b AS (SELECT user_id, event_type,
        |    CAST(floor(epoch(t) / 86400) * 86400 AS BIGINT) AS be, v
        |  FROM src),
        |d AS (SELECT user_id, event_type, 'days' AS granularity,
        |    CAST(to_timestamp(be) AS TIMESTAMP) AS t,
        |    count(v) AS c, min(v) AS l, max(v) AS u
        |  FROM b
        |  WHERE be >= CAST(floor(epoch(TIMESTAMP '2024-01-10 00:00:00'))
        |    AS BIGINT)
        |  GROUP BY user_id, event_type, be)
        |SELECT * FROM (SELECT * FROM sec UNION ALL SELECT * FROM d)
        |ORDER BY user_id, event_type, granularity, t, l""".stripMargin),

    Gate("store_derive_pipeline", { (s, dir) =>
      // the INCREMENTAL derive-on-append path under the oracle: per-key
      // source+derivative stream pairs, three staged monotonic appends
      // (first = full materialization, later ones = bounded incremental
      // rewrite with the one-point lookback), derived data read back and
      // compared to the relational derivative over the complete series
      val work = java.nio.file.Files.createTempDirectory("graft-drv-q").toString
      val ds = new graft.core.Datastream(s, work)
      val pts = eventStreams(s, dir)
        .where(col("stream_id").startsWith("1:") ||
               col("stream_id").startsWith("2:"))
        .groupBy("stream_id", "t").agg(sum("v").as("v"))
        .localCheckpoint(true) // three filtered reuses below
      val keys = pts.select("stream_id").distinct()
        .collect().map(_.getString(0)).sorted
      val idOf = keys.map(k => k -> ds.ensureStream(Map("src" -> k))).toMap
      keys.foreach(k => ds.ensureStream(Map("drv" -> k),
        deriveFrom = Seq(idOf(k)), deriveOp = Some(graft.model.DeriveOps.Derivative)))
      val uuidOf = typedLit(idOf)
      val mapped = pts.select(uuidOf(col("stream_id")).as("stream_id"),
        col("t"), col("v"))
      Seq(("0001-01-01", "2024-01-10"), ("2024-01-10", "2024-01-20"),
          ("2024-01-20", "2099-01-01")).foreach { case (lo, hi) =>
        ds.appendMultiple(mapped.where(
          col("t") >= lit(java.sql.Date.valueOf(lo)) &&
          col("t") < lit(java.sql.Date.valueOf(hi))))
      }
      ds.datapoints.where(col("granularity") === "seconds")
        .join(ds.streams.where(element_at(col("tags"), "drv").isNotNull)
          .select(col("stream_id"), element_at(col("tags"), "drv").as("name")),
          "stream_id")
        .select(col("name"), col("t"), col("v_num").as("v"))
        .orderBy("name", "t")
    },
      s"""WITH $srcSql, $pointSql,
        |f AS (SELECT * FROM pts
        |  WHERE stream_id LIKE '1:%' OR stream_id LIKE '2:%'),
        |d AS (SELECT stream_id, t, v,
        |    lag(v) OVER (PARTITION BY stream_id ORDER BY t) AS pv,
        |    lag(t) OVER (PARTITION BY stream_id ORDER BY t) AS pt
        |  FROM f)
        |SELECT stream_id AS name, t, (v - pv) / (epoch(t) - epoch(pt)) AS v
        |FROM d WHERE pv IS NOT NULL AND epoch(t) != epoch(pt)
        |ORDER BY name, t""".stripMargin),

    Gate("store_stream_ingest", { (s, dir) =>
      // the STREAMING INGEST LOOP under the oracle: MemoryStream →
      // Streaming.ingest, whose foreachBatch drives appendMultiple
      // (dedupExisting) + the incremental derive cascade + the rollup
      // ladder per micro-batch. Batch 2 is DELIBERATELY delivered twice —
      // foreachBatch's at-least-once case — so a green row proves
      // re-delivery is idempotent through the whole store path. Read-back
      // = derived derivative points + source days rollups in one frame.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val work = java.nio.file.Files.createTempDirectory("graft-ingest-q").toString
      val ds = new graft.core.Datastream(s, work)
      val pts = eventStreams(s, dir)
        .where(col("stream_id").startsWith("3:"))
        .groupBy("stream_id", "t").agg(sum("v").as("v"))
      val rows = pts.collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      val keys = rows.map(_._1).distinct.sorted
      val idOf = keys.map(k => k -> ds.ensureStream(Map("src" -> k))).toMap
      keys.foreach(k => ds.ensureStream(Map("drv" -> k),
        deriveFrom = Seq(idOf(k)),
        deriveOp = Some(graft.model.DeriveOps.Derivative)))
      val uuidOf = typedLit(idOf)
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, java.sql.Timestamp, Double)]
      // per-micro-batch cost here is FIXED driver/job overhead (append +
      // derive cascade + ladder advance), independent of batch size — so
      // the replay uses few, large batches and a narrow shuffle; a real
      // deployment sizes its trigger the same way (batch work >> fixed
      // per-batch work)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val src = mem.toDF.toDF("k", "t", "v")
          .select(uuidOf(col("k")).as("stream_id"), col("t"), col("v"))
        // compactEvery exercises the selective leaf compaction inside the
        // ingest loop under the oracle — later batches then read the
        // compacted store (fragmentation was measurably inflating their
        // scan task counts: 205 → 502 → 599 across the three batches)
        val q = graft.streaming.Streaming.ingest(src, ds, compactEvery = 2)
          .option("checkpointLocation", s"$work/ckpt").start()
        try {
          val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
          val b1 = rows.filter(_._2.before(cut)).toSeq
          val b2 = rows.filterNot(_._2.before(cut)).toSeq
          mem.addData(b1); q.processAllAvailable()
          mem.addData(b2); q.processAllAvailable()
          // at-least-once re-delivery as the FINAL batch: the whole store
          // path (raw dedup, derive rewrite, HWM-guarded ladder) must
          // leave the store byte-identical
          mem.addData(b2); q.processAllAvailable()
        } finally q.stop() // never leak a running query into later queries
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      val drv = ds.datapoints.where(col("granularity") === "seconds")
        .join(ds.streams.where(element_at(col("tags"), "drv").isNotNull)
          .select(col("stream_id"), element_at(col("tags"), "drv").as("name")),
          "stream_id")
        .select(lit("drv").as("kind"), col("name"), col("t"),
          lit(1L).as("c"), col("v_num").as("v"))
      val days = ds.datapoints.where(col("granularity") === "days")
        .join(ds.streams.where(element_at(col("tags"), "src").isNotNull)
          .select(col("stream_id"), element_at(col("tags"), "src").as("name")),
          "stream_id")
        .select(lit("day").as("kind"), col("name"), col("t"),
          col("c"), col("s").as("v"))
      drv.unionAll(days).orderBy("kind", "name", "t")
    },
      // mirror of the ingest loop's final state: derivative over the
      // complete series (re-delivery must be a no-op) + days rollups under
      // the bucket-close rule be + 86400 <= epoch(max t) (each foreachBatch
      // advances the ladder to its own max t; the final batch holds the
      // global max, so closed days are exactly those complete at that point)
      s"""WITH $srcSql, $pointSql,
        |f AS (SELECT * FROM pts WHERE stream_id LIKE '3:%'),
        |d AS (SELECT stream_id, t, v,
        |    lag(v) OVER (PARTITION BY stream_id ORDER BY t) AS pv,
        |    lag(t) OVER (PARTITION BY stream_id ORDER BY t) AS pt
        |  FROM f),
        |drv AS (SELECT 'drv' AS kind, stream_id AS name, t,
        |    CAST(1 AS BIGINT) AS c,
        |    (v - pv) / (epoch(t) - epoch(pt)) AS v
        |  FROM d WHERE pv IS NOT NULL AND epoch(t) != epoch(pt)),
        |mx AS (SELECT max(epoch(t)) AS m FROM f),
        |day AS (SELECT 'day' AS kind, stream_id AS name,
        |    CAST(to_timestamp(CAST(floor(epoch(t) / 86400) * 86400 AS BIGINT))
        |      AS TIMESTAMP) AS t,
        |    count(*) AS c, sum(v) AS v
        |  FROM f, mx
        |  GROUP BY stream_id, floor(epoch(t) / 86400), mx.m
        |  HAVING floor(epoch(t) / 86400) * 86400 + 86400 <= mx.m)
        |SELECT kind, name, t, c, v FROM drv
        |UNION ALL SELECT kind, name, t, c, v FROM day
        |ORDER BY kind, name, t""".stripMargin),

    Gate("drv_derivative", { (s, dir) =>
      Derive.derivative(pointStreams(s, dir)).orderBy("stream_id", "t")
    }, derivativeOracleSql),

    Gate("drv_counter_reset", { (s, dir) =>
      Derive.counterReset(counterStreams(s, dir)).orderBy("stream_id", "t")
    }, counterResetOracleSql),

    Gate("drv_derivative_stream", { (s, dir) =>
      // STREAMING V2 under the gate: the O(1)-state rate twin replayed
      // in global time order emits exactly the batch rows (floor-second
      // division, duplicate-second drop) — drv_derivative's oracle
      // verbatim.
      replayPointStream(s, dir, 3)(
          ds => graft.streaming.Streaming.derivative(ds))
        .orderBy("stream_id", "t")
    }, derivativeOracleSql),

    Gate("drv_counter_reset_stream", { (s, dir) =>
      // STREAMING V3 under the gate: reset flags from the O(1)-state
      // twin over the replayed counter — drv_counter_reset's oracle
      // verbatim.
      replayStream(s, counterStreams(s, dir), 3)(
          ds => graft.streaming.Streaming.counterReset(ds))
        .orderBy("stream_id", "t")
    }, counterResetOracleSql),

    Gate("drv_derivative_stream_skewed", { (s, dir) =>
      // STREAMING V2 under BOUNDED-SKEW delivery (the contract real
      // feeds violate): rows replay in seeded ±90 s-jittered order —
      // per-key in-order delivery broken within the bound — and the
      // event-time reorder buffer restores order at the watermark, so
      // the twin still emits drv_derivative's oracle verbatim. A missing
      // or leaky buffer computes wrong lags and hash-diverges. r17:
      // buffer + fold fused in ONE stateful operator (was reorderBuffer
      // → derivative, two state-store commits per partition per
      // micro-batch; StreamingSpec pins fused ≡ chained bit-equal).
      replayStreamSkewed(s, pointStreams(s, dir), 3, skewSec = 90)(
          ds => graft.streaming.Streaming.derivativeSkewed(ds, "300 seconds"))
        .orderBy("stream_id", "t")
    },
      // bounded-skew replay through the reorder buffer converges to the
      // same in-order fold — oracle verbatim
      derivativeOracleSql),

    Gate("drv_counter_derivative", { (s, dir) =>
      Derive.counterDerivative(counterStreams(s, dir), Some(1000.0))
        .orderBy("stream_id", "t")
    },
      s"""WITH $srcSql, $pointSql, $counterSql,
        |d AS (SELECT stream_id, t, v,
        |    lag(v) OVER (PARTITION BY stream_id ORDER BY t) AS pv,
        |    lag(t) OVER (PARTITION BY stream_id ORDER BY t) AS pt
        |  FROM ctr)
        |SELECT stream_id, t,
        |  (CASE WHEN v >= pv THEN v - pv ELSE 1000 - pv + v END)
        |    / (epoch(t) - epoch(pt)) AS v
        |FROM d WHERE pv IS NOT NULL AND epoch(t) != epoch(pt)
        |ORDER BY stream_id, t""".stripMargin),

    Gate("drv_counter_derivative_stream", { (s, dir) =>
      // TWO-INPUT streaming V4: the wrapping counter stream plus a LIVE
      // reset stream (deterministic subset of counter points: floor(v)%10
      // = 3, so many resets tie a source timestamp exactly — the
      // reset-first tie rule is load-bearing) replayed through
      // Streaming.counterDerivativeWithResets in 3 micro-batches. Both
      // streams cut on COMMON time boundaries (per-key in-order delivery
      // across the union — the twin's documented contract); the oracle is
      // the batch reset-suppression core (union + running reset max +
      // ignore-nulls lag) in DuckDB SQL.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val memS = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.Streaming.Point]
      val memR = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.Streaming.ResetEvent]
      val name = s"cdrst_replay_${System.nanoTime()}"
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = graft.streaming.Streaming
          .counterDerivativeWithResets(memS.toDS(), memR.toDS(), Some(1000.0))
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          val ctr = counterStreams(s, dir).localCheckpoint(true)
          val srcRows = ctr.orderBy("t", "stream_id").collect()
            .map(r => graft.streaming.Streaming.Point(
              r.getString(0), r.getTimestamp(1), r.getDouble(2)))
          val rstRows = ctr
            .where(floor(col("v")).cast("long") % 10 === 3)
            .select("stream_id", "t").orderBy("t", "stream_id").collect()
            .map(r => graft.streaming.Streaming.ResetEvent(
              r.getString(0), r.getTimestamp(1)))
          // common strict time cuts: every row with t < c1 lands in
          // slice 1 on BOTH streams — same-t rows never split. Resets
          // enqueue BEFORE sources per slice (the twin's early-not-late
          // delivery contract: the engine may fold the two feeds'
          // blocks in separate micro-batches, so enqueue order makes
          // "early" the only possible skew).
          val secs = srcRows.map(_.t.getTime).distinct.sorted
          val cuts = Seq(secs(secs.length / 3), secs(2 * secs.length / 3),
            Long.MaxValue)
          var lo = Long.MinValue
          cuts.foreach { hi =>
            memR.addData(rstRows.filter(p =>
              p.t.getTime >= lo && p.t.getTime < hi).toSeq)
            memS.addData(srcRows.filter(p =>
              p.t.getTime >= lo && p.t.getTime < hi).toSeq)
            q.processAllAvailable()
            lo = hi
          }
        } finally q.stop() // never leak a running query into later queries
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table(name).orderBy("stream_id", "t")
    },
      // the batch V4 reset-suppression core verbatim (union + running
      // reset max + ignore-nulls lag over (t, reset-first, v) order) —
      // what the two-input streaming twin must reproduce bit-for-bit,
      // under ordered AND bounded-skew delivery (same oracle for both)
      counterDerivV4StreamOracleSql),

    Gate("drv_counter_derivative_stream_skewed", { (s, dir) =>
      // the two-input V4 twin under BOUNDED-SKEW delivery on BOTH feeds
      // (the r13 gap: only V2 had a skewed gate): source and reset rows
      // each replay in independently seeded ±90 s-jittered order behind
      // a SHARED event-time reorder buffer (maxDelay 300 s > 2×jitter)
      // fused with the fold in ONE stateful operator (r17 — was
      // reorderBuffer ×2 → fold, three state-store commits per
      // partition per micro-batch; StreamingSpec pins fused ≡ chained
      // bit-equal). The single watermark makes the early-not-late reset
      // contract mechanical — the twin still emits
      // drv_counter_derivative_stream's batch oracle verbatim. Sentinels
      // on BOTH streams drive the watermark past every real point so
      // the tail buffers drain.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val memS = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.Streaming.Point]
      val memR = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.Streaming.ResetEvent]
      val name = s"cdrst_skew_${System.nanoTime()}"
      val sentinelKey = "zzz_wm_sentinel"
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val ctr = counterStreams(s, dir).localCheckpoint(true)
        val rnd = new scala.util.Random(13)
        def jitter(tMs: Long) =
          tMs + (rnd.nextInt(181) - 90) * 1000L
        val srcRows = ctr.orderBy("t", "stream_id").collect()
          .map(r => graft.streaming.Streaming.Point(
            r.getString(0), r.getTimestamp(1), r.getDouble(2)))
          .map(p => (p, jitter(p.t.getTime)))
          .sortBy { case (p, jt) => (jt, p.stream_id, p.t.getTime) }
          .map(_._1)
        val rstRows = ctr
          .where(floor(col("v")).cast("long") % 10 === 3)
          .select("stream_id", "t").orderBy("t", "stream_id").collect()
          .map(r => graft.streaming.Streaming.ResetEvent(
            r.getString(0), r.getTimestamp(1)))
          .map(p => (p, jitter(p.t.getTime)))
          .sortBy { case (p, jt) => (jt, p.stream_id, p.t.getTime) }
          .map(_._1)
        val maxT = srcRows.map(_.t.getTime).max
        // 3 jittered-arrival slices per feed — the buffers, not the
        // enqueue order, restore the contract. Both feeds are built
        // before the query starts and every addData is drained before
        // the next, resets before sources: each slice is one micro-batch,
        // so the batch cuts (and the job count) do not depend on timing
        val sCut = srcRows.grouped(srcRows.length / 3 + 1).toSeq
        val rCut = rstRows.grouped(rstRows.length / 3 + 1).toSeq
        val q = graft.streaming.Streaming.counterDerivativeWithResetsSkewed(
            memS.toDS(), memR.toDS(), "300 seconds", Some(1000.0))
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          (0 until 3).foreach { i =>
            if (i < rCut.length) {
              memR.addData(rCut(i).toSeq); q.processAllAvailable()
            }
            if (i < sCut.length) {
              memS.addData(sCut(i).toSeq); q.processAllAvailable()
            }
          }
          Seq(3600000L, 7200000L).foreach { off =>
            memS.addData(Seq(graft.streaming.Streaming.Point(sentinelKey,
              new java.sql.Timestamp(maxT + off), 0.0)))
            q.processAllAvailable()
            memR.addData(Seq(graft.streaming.Streaming.ResetEvent(sentinelKey,
              new java.sql.Timestamp(maxT + off))))
            q.processAllAvailable()
          }
        } finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table(name).where(col("stream_id") =!= sentinelKey)
        .orderBy("stream_id", "t")
    }, counterDerivV4StreamOracleSql),

    Gate("drv_sum", { (s, dir) =>
      // V1: one derived stream = pointwise sum of user 7's five per-type
      // streams, aligned on Minutes buckets
      Derive.streamSum(
          eventStreams(s, dir).where(col("stream_id").startsWith("7:")),
          Granularity.Minutes, "u7_sum")
        .orderBy("t")
    },
      s"""WITH $srcSql
        |SELECT 'u7_sum' AS stream_id,
        |  CAST(to_timestamp(CAST(floor(epoch(t) / 60) * 60 AS BIGINT)) AS TIMESTAMP) AS t,
        |  sum(v) AS v
        |FROM src WHERE stream_id LIKE '7:%'
        |GROUP BY 2 ORDER BY t""".stripMargin))

  private val derivativeOracleSql: String =
    s"""WITH $srcSql, $pointSql,
      |d AS (SELECT stream_id, t, v,
      |    lag(v) OVER (PARTITION BY stream_id ORDER BY t) AS pv,
      |    lag(t) OVER (PARTITION BY stream_id ORDER BY t) AS pt
      |  FROM pts)
      |SELECT stream_id, t, (v - pv) / (epoch(t) - epoch(pt)) AS v
      |FROM d WHERE pv IS NOT NULL AND epoch(t) != epoch(pt)
      |ORDER BY stream_id, t""".stripMargin

  // the batch V4 reset-suppression core (union + running reset max +
  // ignore-nulls lag over (t, reset-first, v) order) — shared by the
  // ordered two-input replay AND the bounded-skew one
  private lazy val counterDerivV4StreamOracleSql: String =
    s"""WITH $srcSql, $pointSql, $counterSql,
      |rs AS (SELECT stream_id, t FROM ctr
      |  WHERE CAST(floor(v) AS BIGINT) % 10 = 3),
      |u AS (SELECT stream_id, t, v, FALSE AS is_reset FROM ctr
      |  UNION ALL
      |  SELECT stream_id, t, NULL AS v, TRUE AS is_reset FROM rs),
      |d AS (SELECT stream_id, t, v, is_reset,
      |    max(CASE WHEN is_reset THEN t END) OVER
      |      (PARTITION BY stream_id ORDER BY t, is_reset DESC, v
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS last_reset_t,
      |    last_value(v IGNORE NULLS) OVER
      |      (PARTITION BY stream_id ORDER BY t, is_reset DESC, v
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
      |    last_value(CASE WHEN NOT is_reset THEN t END IGNORE NULLS) OVER
      |      (PARTITION BY stream_id ORDER BY t, is_reset DESC, v
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt
      |  FROM u)
      |SELECT stream_id, t,
      |  (CASE WHEN v >= pv THEN v - pv ELSE 1000 - pv + v END)
      |    / (epoch(t) - epoch(pt)) AS v
      |FROM d
      |WHERE NOT is_reset AND pv IS NOT NULL AND epoch(t) != epoch(pt)
      |  AND (last_reset_t IS NULL OR last_reset_t <= pt)
      |ORDER BY stream_id, t""".stripMargin

  private val counterResetOracleSql: String =
    s"""WITH $srcSql, $pointSql, $counterSql,
      |d AS (SELECT stream_id, t, v,
      |    lag(v) OVER (PARTITION BY stream_id ORDER BY t) AS pv
      |  FROM ctr)
      |SELECT stream_id, t, CAST(1.0 AS DOUBLE) AS v
      |FROM d WHERE pv IS NOT NULL AND v < pv
      |ORDER BY stream_id, t""".stripMargin

  // shared by drv_ewma (batch) and drv_ewma_stream (the O(1)-state
  // streaming smoother): identical fold ⇒ bit-equal doubles, one
  // list_reduce replay
  private val ewmaOracleSql: String =
    s"""WITH $srcSql, $pointSql,
      |p AS (SELECT stream_id, CAST(floor(epoch(t)) AS BIGINT) AS sec, v
      |  FROM pts),
      |l AS (SELECT stream_id, list(v ORDER BY sec) AS vs
      |  FROM p GROUP BY stream_id)
      |SELECT stream_id,
      |  round(list_reduce(vs, (acc, x) -> 0.3 * x + 0.7 * acc), 4)
      |    AS ewma_last
      |FROM l ORDER BY stream_id""".stripMargin

  // shared by drv_holt_winters (batch) and drv_holt_winters_stream:
  // the drv_holt recursion with the seasonal ring carried as a LIST
  // column (probed bit-exact; only struct list_reduce has the DuckDB
  // aliasing bug). Phase of 1-based point i is (i−1) % 4; 1-based list
  // slicing/indexing throughout.
  private val holtWintersOracleSql: String =
    s"""WITH RECURSIVE $srcSql, $pointSql,
      |p AS (SELECT stream_id, v, row_number() OVER (
      |    PARTITION BY stream_id
      |    ORDER BY CAST(floor(epoch(t)) AS BIGINT)) AS i
      |  FROM pts),
      |n AS (SELECT stream_id, count(*) AS nn FROM p GROUP BY stream_id),
      |hw AS (
      |  SELECT stream_id, i, CAST(v AS DOUBLE) AS l,
      |    CAST(0 AS DOUBLE) AS b,
      |    [CAST(0 AS DOUBLE), 0, 0, 0] AS sl
      |  FROM p WHERE i = 1
      |  UNION ALL
      |  SELECT s.stream_id, s.i,
      |    0.3 * (s.v - h.sl[(s.i - 1) % 4 + 1]) + 0.7 * (h.l + h.b),
      |    0.2 * ((0.3 * (s.v - h.sl[(s.i - 1) % 4 + 1])
      |      + 0.7 * (h.l + h.b)) - h.l) + 0.8 * h.b,
      |    list_concat(list_concat(
      |      h.sl[1:((s.i - 1) % 4)],
      |      [0.4 * (s.v - (0.3 * (s.v - h.sl[(s.i - 1) % 4 + 1])
      |        + 0.7 * (h.l + h.b))) + 0.6 * h.sl[(s.i - 1) % 4 + 1]]),
      |      h.sl[((s.i - 1) % 4 + 2):4])
      |  FROM hw h JOIN p s
      |    ON s.stream_id = h.stream_id AND s.i = h.i + 1),
      |f AS (SELECT h.stream_id, h.l, h.b, h.sl[(n.nn % 4) + 1] AS snext
      |  FROM hw h JOIN n ON n.stream_id = h.stream_id AND h.i = n.nn)
      |SELECT stream_id, round(l, 4) AS level, round(b, 4) AS trend,
      |  round(l + b + snext, 4) AS forecast_1
      |FROM f ORDER BY stream_id""".stripMargin

  // shared by drv_holt (batch) and drv_holt_stream (the O(1)-state
  // streaming twin): identical fold arithmetic makes the doubles
  // bit-equal, so both gate rows replay the same recursive CTE
  private val holtOracleSql: String =
    s"""WITH RECURSIVE $srcSql, $pointSql,
      |p AS (SELECT stream_id, v, row_number() OVER (
      |    PARTITION BY stream_id
      |    ORDER BY CAST(floor(epoch(t)) AS BIGINT)) AS i
      |  FROM pts),
      |n AS (SELECT stream_id, count(*) AS nn FROM p GROUP BY stream_id),
      |hol AS (
      |  SELECT stream_id, i, CAST(v AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
      |  FROM p WHERE i = 1
      |  UNION ALL
      |  SELECT s.stream_id, s.i,
      |    0.3 * s.v + 0.7 * (h.l + h.b),
      |    0.2 * ((0.3 * s.v + 0.7 * (h.l + h.b)) - h.l) + 0.8 * h.b
      |  FROM hol h JOIN p s
      |    ON s.stream_id = h.stream_id AND s.i = h.i + 1),
      |f AS (SELECT hol.stream_id, arg_max(l, i) AS l, arg_max(b, i) AS b
      |  FROM hol GROUP BY hol.stream_id)
      |SELECT stream_id, round(l, 4) AS level, round(b, 4) AS trend,
      |  round(l + b, 4) AS forecast_1
      |FROM f ORDER BY stream_id""".stripMargin
}
