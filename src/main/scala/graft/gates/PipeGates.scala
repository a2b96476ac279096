package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import Fixtures._

/** Dataset-assembly pipeline gates (`pipe_*`): splits, sampling, redaction,
  * packing, contamination, drift monitors and curation funnels.
  */
object PipeGates {

  def gates: Seq[Gate] = Seq(

    Gate("pipe_psi_drift", { (s, dir) =>
      // population stability index per source vs the REST of the corpus
      // — the industry drift score completing the KS/MW family: fixed
      // integer length bins (n_chars div 200, capped at bin 9 — no
      // quantile estimation, so the binning is exact), PSI =
      // Σ (p−q)·ln(p/q) over bins present on BOTH sides (the standard
      // zero-cell exclusion, documented); counts exact, ln + round(4)
      // the only float lane. One conditional-agg scan per grid cell.
      val d = tbl(s, dir, "documents")
        .select(col("source"),
          expr("least(CAST(n_chars div 200 AS BIGINT), 9L)").as("bin"))
        .localCheckpoint(true) // feeds per-source counts AND totals
      val bySrc = d.groupBy("source", "bin").agg(count(lit(1)).as("c_sb"))
      val byBin = d.groupBy("bin").agg(count(lit(1)).as("c_b"))
      val nSrc = d.groupBy("source").agg(count(lit(1)).as("n_s"))
      val nTot = d.count()
      val grid = bySrc.join(byBin, "bin").join(broadcast(nSrc), "source")
        .withColumn("c_rest", col("c_b") - col("c_sb"))
        .withColumn("n_rest", lit(nTot) - col("n_s"))
        .where(col("c_sb") > 0 && col("c_rest") > 0)
      grid.groupBy("source")
        .agg(count(lit(1)).as("n_bins_used"),
          round(sum(expr(
            "(CAST(c_sb AS DOUBLE) / n_s - CAST(c_rest AS DOUBLE) / n_rest)" +
              " * ln((CAST(c_sb AS DOUBLE) / n_s) / " +
              "(CAST(c_rest AS DOUBLE) / n_rest))")), 4).as("psi"))
        .orderBy("source")
    }, psiDriftOracleSql),

    Gate("pipe_psi_drift_stream", { (s, dir) =>
      // the LIVE drift monitor: per-(source, bin) BIGINT counts fold in
      // streaming state (counts commute — split-invariant under ANY
      // delivery order, the strongest invariance class) and the final
      // snapshot computes the batch PSI grid exactly — pipe_psi_drift's
      // oracle verbatim.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft-psi-stream").toString + "/st"
      val rows = tbl(s, dir, "documents").select("source", "n_chars")
        .as[(String, Long)].collect().toSeq
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Long)]
      val q = mem.toDF.toDF("source", "n_chars")
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.streaming.Streaming.psiDriftBatch(s, stateDir, b, id)
        }
        .option("checkpointLocation", s"$stateDir/../ckpt").start()
      try rows.grouped(rows.length / 3 + 1).foreach { g =>
        mem.addData(g); q.processAllAvailable()
      } finally q.stop()
      graft.streaming.Streaming.psiDriftStats(s, stateDir).orderBy("source")
    },
      // streaming count-fold == the batch grid exactly — oracle verbatim
      psiDriftOracleSql),

    Gate("pipe_mi_features", { (s, dir) =>
      // feature selection by mutual information: MI(bucket-presence;
      // source) over the text_hash_features buckets — the filter-method
      // ranking a probe/classifier pipeline runs before training. All
      // probabilities derive from exact integer counts (present +
      // absent cells per (bucket, source), zero cells skip); the one
      // float step is ln + the per-bucket sum, ranked on round(6) with
      // the bucket tiebreak (the float-rank rule). Top-10 buckets.
      val d = tbl(s, dir, "documents").select("doc_id", "source", "text")
        .localCheckpoint(true) // feeds tokenize + the doc marginals
      val db = d.select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("t"))
        .where(col("t") =!= "")
        .withColumn("bucket", expr(
          "CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) % 64"))
        .select("doc_id", "source", "bucket").distinct()
        .localCheckpoint(true) // feeds n_bs AND n_b
      val nbs = db.groupBy("bucket", "source")
        .agg(count(lit(1)).as("n_bs"))
      val nb = db.groupBy("bucket")
        .agg(countDistinct("doc_id").as("n_b"))
      val ns = d.groupBy("source").agg(count(lit(1)).as("n_s"))
      val nn = d.count()
      val grid = nb.crossJoin(broadcast(ns))
        .join(nbs, Seq("bucket", "source"), "left")
        .withColumn("n_bs", coalesce(col("n_bs"), lit(0L)))
        .withColumn("n", lit(nn))
      val mi = grid.groupBy("bucket")
        .agg(max("n_b").as("n_docs_with"),
          round(sum(expr(
            "CASE WHEN n_bs > 0 THEN (CAST(n_bs AS DOUBLE) / n) * " +
              "ln(CAST(n_bs AS DOUBLE) * n / (CAST(n_b AS DOUBLE) * n_s)) " +
              "ELSE 0.0 END + " +
            "CASE WHEN n_s - n_bs > 0 THEN " +
              "(CAST(n_s - n_bs AS DOUBLE) / n) * " +
              "ln(CAST(n_s - n_bs AS DOUBLE) * n / " +
              "(CAST(n - n_b AS DOUBLE) * n_s)) ELSE 0.0 END")), 6)
            .as("mi_nats"))
      val w = Window.orderBy(col("mi_nats").desc, col("bucket"))
      mi.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 10)
        .select(col("bucket"), col("n_docs_with"), col("mi_nats"))
        .orderBy(col("mi_nats").desc, col("bucket"))
    },
      // same integer count cells; the MI double mirrors term-for-term
      // and round(6) + the bucket tiebreak absorb the summation-order
      // ulps (the float-rank rule)
      """WITH d AS (SELECT doc_id, source, text FROM documents),
        |db AS (SELECT DISTINCT doc_id, source,
        |    ('0x' || substring(md5(tok), 1, 15))::BIGINT % 64 AS bucket
        |  FROM (SELECT doc_id, source,
        |        unnest(string_split(text, ' ')) AS tok FROM d)
        |  WHERE tok <> ''),
        |nbs AS (SELECT bucket, source, CAST(count(*) AS BIGINT) AS n_bs
        |  FROM db GROUP BY 1, 2),
        |nb AS (SELECT bucket,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_b
        |  FROM db GROUP BY 1),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
        |  FROM d GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |grid AS (SELECT nb.bucket, ns.source, nb.n_b, ns.n_s,
        |    coalesce(nbs.n_bs, 0) AS n_bs, nn.n
        |  FROM nb CROSS JOIN ns CROSS JOIN nn
        |  LEFT JOIN nbs ON nbs.bucket = nb.bucket
        |    AND nbs.source = ns.source),
        |mi AS (SELECT bucket, max(n_b) AS n_docs_with, round(sum(
        |    CASE WHEN n_bs > 0 THEN (CAST(n_bs AS DOUBLE) / n)
        |      * ln(CAST(n_bs AS DOUBLE) * n
        |           / (CAST(n_b AS DOUBLE) * n_s)) ELSE 0.0 END
        |    + CASE WHEN n_s - n_bs > 0 THEN
        |        (CAST(n_s - n_bs AS DOUBLE) / n)
        |        * ln(CAST(n_s - n_bs AS DOUBLE) * n
        |             / (CAST(n - n_b AS DOUBLE) * n_s)) ELSE 0.0 END), 6)
        |    AS mi_nats
        |  FROM grid GROUP BY bucket),
        |r AS (SELECT bucket, n_docs_with, mi_nats, row_number() OVER (
        |    ORDER BY mi_nats DESC, bucket) AS rn FROM mi)
        |SELECT bucket, n_docs_with, mi_nats FROM r WHERE rn <= 10
        |ORDER BY mi_nats DESC, bucket""".stripMargin),

    Gate("pipe_perceptron", { (s, dir) =>
      // trainable quality classifier, the curation-pipeline front filter:
      // 3 rounds of BATCH perceptron w += Σ_{y·(w·x)≤0} y·x on integer
      // quality features — pure integer (no lr, no sigmoid), one
      // aggregate job per round over a localCheckpointed feature frame;
      // the oracle replays the exact weight trajectory as unrolled CTEs
      graft.operators.Pipeline
        .perceptron(tbl(s, dir, "documents"))
        .orderBy("round")
    },
      // pure-integer weight trajectory, unrolled; every round CTE AS
      // MATERIALIZED (the emb_mmr rule); sum(BIGINT) is HUGEINT → cast.
      // Round r reports weights AFTER its update, n_mis under the
      // weights BEFORE it (w = 0 in round 1 ⇒ everything misclassified)
      """WITH f AS MATERIALIZED (SELECT
        |    CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
        |    CAST(1 AS BIGINT) AS x0,
        |    least(n_chars // 100, 10) AS x1,
        |    least(CAST(len(string_split(text, ' ')) AS BIGINT) // 10, 10)
        |      AS x2,
        |    least(CAST(len(string_split(text, '.')) AS BIGINT) - 1, 10)
        |      AS x3
        |  FROM documents),
        |r1 AS MATERIALIZED (SELECT
        |    CAST(sum(y * x0) AS BIGINT) AS w0,
        |    CAST(sum(y * x1) AS BIGINT) AS w1,
        |    CAST(sum(y * x2) AS BIGINT) AS w2,
        |    CAST(sum(y * x3) AS BIGINT) AS w3,
        |    CAST(count(*) AS BIGINT) AS n_mis
        |  FROM f),
        |r2 AS MATERIALIZED (SELECT
        |    r1.w0 + CAST(sum(CASE WHEN y * (r1.w0*x0 + r1.w1*x1 +
        |      r1.w2*x2 + r1.w3*x3) <= 0 THEN y * x0 ELSE 0 END)
        |      AS BIGINT) AS w0,
        |    r1.w1 + CAST(sum(CASE WHEN y * (r1.w0*x0 + r1.w1*x1 +
        |      r1.w2*x2 + r1.w3*x3) <= 0 THEN y * x1 ELSE 0 END)
        |      AS BIGINT) AS w1,
        |    r1.w2 + CAST(sum(CASE WHEN y * (r1.w0*x0 + r1.w1*x1 +
        |      r1.w2*x2 + r1.w3*x3) <= 0 THEN y * x2 ELSE 0 END)
        |      AS BIGINT) AS w2,
        |    r1.w3 + CAST(sum(CASE WHEN y * (r1.w0*x0 + r1.w1*x1 +
        |      r1.w2*x2 + r1.w3*x3) <= 0 THEN y * x3 ELSE 0 END)
        |      AS BIGINT) AS w3,
        |    CAST(sum(CASE WHEN y * (r1.w0*x0 + r1.w1*x1 + r1.w2*x2 +
        |      r1.w3*x3) <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mis
        |  FROM f, r1 GROUP BY r1.w0, r1.w1, r1.w2, r1.w3),
        |r3 AS MATERIALIZED (SELECT
        |    r2.w0 + CAST(sum(CASE WHEN y * (r2.w0*x0 + r2.w1*x1 +
        |      r2.w2*x2 + r2.w3*x3) <= 0 THEN y * x0 ELSE 0 END)
        |      AS BIGINT) AS w0,
        |    r2.w1 + CAST(sum(CASE WHEN y * (r2.w0*x0 + r2.w1*x1 +
        |      r2.w2*x2 + r2.w3*x3) <= 0 THEN y * x1 ELSE 0 END)
        |      AS BIGINT) AS w1,
        |    r2.w2 + CAST(sum(CASE WHEN y * (r2.w0*x0 + r2.w1*x1 +
        |      r2.w2*x2 + r2.w3*x3) <= 0 THEN y * x2 ELSE 0 END)
        |      AS BIGINT) AS w2,
        |    r2.w3 + CAST(sum(CASE WHEN y * (r2.w0*x0 + r2.w1*x1 +
        |      r2.w2*x2 + r2.w3*x3) <= 0 THEN y * x3 ELSE 0 END)
        |      AS BIGINT) AS w3,
        |    CAST(sum(CASE WHEN y * (r2.w0*x0 + r2.w1*x1 + r2.w2*x2 +
        |      r2.w3*x3) <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mis
        |  FROM f, r2 GROUP BY r2.w0, r2.w1, r2.w2, r2.w3)
        |SELECT 1 AS round, w0, w1, w2, w3, n_mis FROM r1
        |UNION ALL SELECT 2, w0, w1, w2, w3, n_mis FROM r2
        |UNION ALL SELECT 3, w0, w1, w2, w3, n_mis FROM r3
        |ORDER BY round""".stripMargin),

    Gate("pipe_class_balance", { (s, dir) =>
      // deterministic minority-class oversampling to the majority count:
      // per-language repeat factor = max_n div n (integer floor), each
      // doc emitted with copy ids 1..factor — the class-balancing pass
      // before fine-tuning on skewed label distributions. Factors ride a
      // broadcast; the explode is a generator, no shuffle of copies.
      val d = tbl(s, dir, "documents").select("doc_id", "lang")
      val counts = d.groupBy("lang").agg(count(lit(1)).as("n"))
      val factors = counts.crossJoin(broadcast(counts.agg(max("n").as("max_n"))))
        .withColumn("factor", expr("max_n div n"))
      d.join(broadcast(factors.select("lang", "factor")), "lang")
        .select(col("doc_id"), col("lang"),
          explode(expr("sequence(1L, factor)")).as("copy"))
        .orderBy("doc_id", "copy")
    },
      """WITH d AS (SELECT doc_id, lang FROM documents),
        |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM d GROUP BY lang),
        |f AS (SELECT lang, (SELECT max(n) FROM c) // n AS factor FROM c)
        |SELECT doc_id, lang, CAST(copy AS BIGINT) AS copy FROM (
        |  SELECT d.doc_id, d.lang,
        |    unnest(range(1, f.factor + 1)) AS copy
        |  FROM d JOIN f USING (lang))
        |ORDER BY doc_id, copy""".stripMargin),

    Gate("pipe_dedup_priority", { (s, dir) =>
      // cross-source dedup with SOURCE-PRIORITY keeper election — the
      // real pipeline rule ("prefer the curated mirror over the crawl
      // copy"), not min-id. Election key packs (priority, id) into one
      // BIGINT (prio·10⁸ + id) so both min() and min_by() stay
      // single-key exact cross-engine. Injected: docs 0..19 get a
      // 'curated' mirror at id+5000000 with priority 0 < crawl 1 — the
      // keeper is the MIRROR despite its higher id. Same one-shuffle
      // hash-groupBy shape as dedup_exact.
      val docs = tbl(s, dir, "documents").select("doc_id", "text", "source")
      val corpus = docs.unionByName(docs.where(col("doc_id") < 20)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"),
          lit("curated").as("source")))
      corpus
        .withColumn("ekey",
          (when(col("source") === "curated", 0L).otherwise(1L) * 100000000L)
            + col("doc_id"))
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(count(lit(1)).as("dup_count"),
          (min("ekey") % 100000000L).as("keep_id"),
          min_by(col("source"), col("ekey")).as("keep_source"))
        .orderBy("h")
    },
      // same packed (prio·10⁸ + id) election key; arg_min carries the
      // source along the single-BIGINT ordering
      """WITH corpus AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 5000000, text, 'curated'
        |  FROM documents WHERE doc_id < 20),
        |p AS (SELECT doc_id, text, source,
        |    (CASE WHEN source = 'curated' THEN 0 ELSE 1 END) * 100000000
        |      + doc_id AS ekey
        |  FROM corpus)
        |SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS dup_count,
        |  CAST(min(ekey) % 100000000 AS BIGINT) AS keep_id,
        |  arg_min(source, ekey) AS keep_source
        |FROM p GROUP BY md5(text) ORDER BY h""".stripMargin),

    Gate("pipe_contam_winnow", { (s, dir) =>
      // FUZZY decontamination: training docs sharing winnowing
      // fingerprints with the eval set (doc_id < 5 stands in for the
      // benchmark) — catches a verbatim run >= 11 words inside edited
      // text, the leakage mode exact n-gram containment misses. The
      // eval side is metadata-scale and broadcasts; df > 20 boilerplate
      // fingerprints pruned on the corpus side only (both engines).
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      Dedup.winnowContamination(docs, docs.where(col("doc_id") < 5))
        .orderBy(desc("n_shared_fps"), col("doc_id"))
    }, contamWinnowOracleSql),

    Gate("pipe_contam_verified", { (s, dir) =>
      // winnow candidates + EXACT verbatim-span verification (r15):
      // fingerprint-level hits confirmed by aligned 11-word window
      // equality — n_spans = 0 rows are the false-positive report the
      // structural-recall lane can't give. Candidate-bounded cost; all
      // string/integer, so the oracle replays it verbatim.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      Dedup.winnowContaminationVerified(docs, docs.where(col("doc_id") < 5))
        .orderBy(desc("n_shared_fps"), col("doc_id"))
    },
      // the winnow candidate replay + aligned 11-word window equality:
      // tw/ev windows via list slicing (the g CTE's idiom at length
      // w+n−1), spans counted per candidate PAIR only, 0 when no exact
      // span confirms the fingerprint hit
      """WITH w AS MATERIALIZED (SELECT doc_id,
        |    string_split(text, ' ') AS words FROM documents),
        |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    CAST(len(words) - 3 AS BIGINT) AS ng,
        |    ('0x' || substring(md5(
        |      array_to_string(words[i + 1 : i + 4], ' ')), 1, 15))::BIGINT
        |      AS hv
        |  FROM (SELECT doc_id, words,
        |      unnest(range(0, len(words) - 3)) AS i FROM w)),
        |m AS (SELECT doc_id, ng, pos, min(hv) OVER (PARTITION BY doc_id
        |    ORDER BY pos ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
        |  FROM g),
        |f AS (SELECT DISTINCT doc_id, fp FROM m WHERE pos <= ng - 8),
        |d AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 20),
        |r AS (SELECT f.doc_id, f.fp FROM f JOIN d USING (fp)),
        |e AS (SELECT doc_id AS eval_id, fp FROM f WHERE doc_id < 5),
        |cand AS MATERIALIZED (SELECT r.doc_id, e.eval_id,
        |    CAST(count(*) AS BIGINT) AS fps
        |  FROM r JOIN e USING (fp) WHERE r.doc_id <> e.eval_id
        |  GROUP BY r.doc_id, e.eval_id),
        |tw AS MATERIALIZED (SELECT DISTINCT doc_id,
        |    array_to_string(words[i + 1 : i + 11], ' ') AS win
        |  FROM (SELECT doc_id, words,
        |      unnest(range(0, len(words) - 10)) AS i
        |    FROM w WHERE len(words) >= 11)),
        |ev AS (SELECT doc_id AS eval_id, win FROM tw WHERE doc_id < 5),
        |vs AS (SELECT tw.doc_id, count(DISTINCT tw.win) AS n_spans
        |  FROM tw JOIN ev ON tw.win = ev.win AND tw.doc_id <> ev.eval_id
        |  JOIN cand ON cand.doc_id = tw.doc_id AND cand.eval_id = ev.eval_id
        |  GROUP BY tw.doc_id),
        |agg AS (SELECT doc_id, CAST(sum(fps) AS BIGINT) AS n_shared_fps,
        |    CAST(count(DISTINCT eval_id) AS BIGINT) AS n_eval_docs
        |  FROM cand GROUP BY doc_id HAVING sum(fps) >= 1)
        |SELECT agg.doc_id, n_shared_fps, n_eval_docs,
        |  CAST(coalesce(vs.n_spans, 0) AS BIGINT) AS n_spans
        |FROM agg LEFT JOIN vs USING (doc_id)
        |ORDER BY n_shared_fps DESC, doc_id""".stripMargin),

    Gate("pipe_contam_winnow_stream", { (s, dir) =>
      // STREAMING decontamination under the oracle: the corpus replayed
      // in three micro-batches through winnowContaminationStream, with
      // the eval set (doc_id < 5) and the corpus's own df>20 boilerplate
      // tail as the broadcast screening inputs. The per-doc decision is
      // a pure function of the doc against those fixed sets, so the
      // flagged rows are batch-split-invariant and share
      // pipe_contam_winnow's oracle SQL verbatim.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val work = java.nio.file.Files
        .createTempDirectory("graft-contamw-q").toString
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val boil = Dedup.winnowFingerprints(docs)
        .groupBy("fp").agg(count(lit(1)).as("df"))
        .where(col("df") > 20).select("fp")
      val rows = docs.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val src = mem.toDF.toDF("doc_id", "text")
        val q = graft.streaming.Streaming
          .winnowContaminationStream(src, docs.where(col("doc_id") < 5),
            boil, s"$work/out")
          .option("checkpointLocation", s"$work/ckpt").start()
        try {
          val (b1, rest) = rows.splitAt(rows.length / 3)
          val (b2, b3) = rest.splitAt(rest.length / 2)
          Seq(b1, b2, b3).foreach { bd =>
            mem.addData(bd.toSeq); q.processAllAvailable()
          }
        } finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.read.parquet(s"$work/out")
        .select("doc_id", "n_shared_fps", "n_eval_docs")
        .orderBy(desc("n_shared_fps"), col("doc_id"))
    },
      // same decision as batch: the per-doc flag is a pure function of the
      // doc against the fixed eval + boilerplate sets, so the 3-batch
      // replay shares the batch oracle verbatim
      contamWinnowOracleSql),

    Gate("pipe_split_hash", { (s, dir) =>
      // deterministic train/val/test assignment: md5(doc_id) bucket —
      // a zero-shuffle projection, identical in any engine
      graft.operators.Pipeline.hashSplit(tbl(s, dir, "documents"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("split")
    },
      """WITH s AS (SELECT *,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM s GROUP BY split ORDER BY split""".stripMargin),

    Gate("pipe_cap_per_source", { (s, dir) =>
      // per-source document cap (top-3 by length) — WindowGroupLimit keeps
      // 3 rows per source per partition instead of a full sort
      graft.operators.Pipeline.capPerSource(tbl(s, dir, "documents"), 3)
        .select("source", "rn", "doc_id", "n_chars")
        .orderBy("source", "rn")
    },
      """SELECT source, rn, doc_id, n_chars FROM (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 3 ORDER BY source, rn""".stripMargin),

    Gate("pipe_redact", { (s, dir) =>
      // PII-shaped scrub: whole-word regexp_replace projection, no UDF
      graft.operators.Pipeline.redact(
          tbl(s, dir, "documents"), "customer|supplier")
        .where(col("doc_id") < 100)
        .select(col("doc_id"), substring(col("redacted"), 1, 80).as("snippet"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  substr(regexp_replace(text, '\b(?:customer|supplier)\b', '<ENT>', 'g'),
        |         1, 80) AS snippet
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin),

    Gate("pipe_interleave", { (s, dir) =>
      // reproducible global shuffle: total order on a content hash — the
      // training order is a function of data, not file layout
      graft.operators.Pipeline.interleave(tbl(s, dir, "documents"))
        .select("shuffle_key", "doc_id", "source")
        .limit(200)
    },
      """SELECT md5(concat(source, ':', CAST(doc_id AS VARCHAR))) AS shuffle_key,
        |  doc_id, source
        |FROM documents
        |ORDER BY shuffle_key, doc_id LIMIT 200""".stripMargin),

    Gate("pipe_profile_numeric", { (s, dir) =>
      // one-pass numeric profiling sweep over the fact table
      graft.operators.Pipeline.profileNumeric(tbl(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_name")
    },
      (Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map(c =>
        s"""SELECT '$c' AS col_name,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS DOUBLE) AS mn, CAST(max($c) AS DOUBLE) AS mx
           |FROM lineitem""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"))),

    Gate("pipe_chunk_documents", { (s, dir) =>
      // long-doc → training-example chunking: 40-token windows, stride 20
      // (tail chunks kept). Pure generate-and-explode — zero shuffle.
      graft.operators.Pipeline.chunkDocuments(
          tbl(s, dir, "documents").where(col("doc_id") < 100),
          width = 40, stride = 20)
        .orderBy("doc_id", "chunk_idx")
    },
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS words
        |  FROM documents WHERE doc_id < 100),
        |st AS (SELECT doc_id, words,
        |    unnest(range(0, len(words), 20)) AS s FROM d)
        |SELECT doc_id,
        |  CAST(s / 20 AS INT) AS chunk_idx,
        |  CAST(s AS BIGINT) AS chunk_start,
        |  CAST(least(40, len(words) - s) AS BIGINT) AS n_toks,
        |  array_to_string(words[s + 1 : s + 40], ' ') AS chunk_text
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin),

    Gate("pipe_pack_sequences", { (s, dir) =>
      // sequence packing: per-source contiguous packs of ≤256 tokens
      // (offset packing: pack = tokens-before div budget); per-pack stats
      graft.operators.Pipeline.packSequences(tbl(s, dir, "documents"), 256)
        .groupBy("source", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("pack_tokens"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("source", "pack_id")
    },
      """WITH t AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |c AS (SELECT source, doc_id, n_toks,
        |    CAST((sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id)
        |      - n_toks) // 256 AS BIGINT) AS pack_id FROM t)
        |SELECT source, pack_id, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS pack_tokens,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM c GROUP BY source, pack_id
        |ORDER BY source, pack_id""".stripMargin),

    Gate("pipe_dedup_paragraphs", { (s, dir) =>
      // C4-style corpus-wide paragraph dedup: 3-token windows, keep only
      // the global first occurrence of each distinct window, reassemble
      graft.operators.Pipeline.dedupParagraphs(
          tbl(s, dir, "documents"), words = 3)
        .orderBy("doc_id")
    },
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS words
        |  FROM documents),
        |p AS (SELECT doc_id, CAST(s // 3 AS INT) AS idx,
        |    array_to_string(words[s + 1 : s + 3], ' ') AS para
        |  FROM (SELECT doc_id, words,
        |      unnest(range(0, len(words), 3)) AS s FROM d)),
        |k AS (SELECT doc_id, idx, para, row_number()
        |    OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn FROM p),
        |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(para, ' ' ORDER BY idx) AS text
        |  FROM k WHERE rn = 1 GROUP BY doc_id)
        |SELECT d2.doc_id, coalesce(r.text, '') AS text,
        |  (len(string_split(d2.text, ' ')) - 1) // 3 + 1 AS n_paras,
        |  coalesce(r.n_kept, 0) AS n_kept
        |FROM documents d2 LEFT JOIN r USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    Gate("pipe_boilerplate", { (s, dir) =>
      // CCNet-style boilerplate scrub: drop every copy of a 3-token
      // window seen in more than 3 distinct docs, reassemble
      graft.operators.Pipeline.removeBoilerplate(
          tbl(s, dir, "documents"), words = 3, maxDocs = 3)
        .orderBy("doc_id")
    },
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS words
        |  FROM documents),
        |p AS (SELECT doc_id, CAST(s // 3 AS INT) AS idx,
        |    array_to_string(words[s + 1 : s + 3], ' ') AS para
        |  FROM (SELECT doc_id, words,
        |      unnest(range(0, len(words), 3)) AS s FROM d)),
        |b AS (SELECT para FROM p GROUP BY para
        |  HAVING count(DISTINCT doc_id) > 3),
        |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(para, ' ' ORDER BY idx) AS text
        |  FROM p WHERE para NOT IN (SELECT para FROM b) GROUP BY doc_id)
        |SELECT d2.doc_id, coalesce(r.text, '') AS text,
        |  (len(string_split(d2.text, ' ')) - 1) // 3 + 1 AS n_paras,
        |  coalesce(r.n_kept, 0) AS n_kept
        |FROM documents d2 LEFT JOIN r USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    Gate("pipe_paragraphs_natural", { (s, dir) =>
      // the NATURAL-separator paragraph lane under the oracle: the corpus
      // has no newline structure, so both engines first inject identical
      // paragraph breaks (literal replace of a common token boundary —
      // replace() scans left-to-right non-overlapping in both), then
      // C4-dedup on the '\n\n' split: caller-split paragraphs, corpus-
      // first election, same-separator reassembly
      val docs = tbl(s, dir, "documents")
        .withColumn("text", replace(col("text"), lit(" the "), lit("\n\n")))
      graft.operators.Pipeline.dedupParagraphsNatural(docs)
        .orderBy("doc_id")
    },
      """WITH d AS (SELECT doc_id,
        |    replace(text, ' the ', e'\n\n') AS text FROM documents),
        |sp AS (SELECT doc_id, string_split(text, e'\n\n') AS ps FROM d),
        |p AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS idx, ps[i] AS para
        |  FROM (SELECT doc_id, ps, unnest(range(1, len(ps) + 1)) AS i
        |        FROM sp)),
        |k AS (SELECT doc_id, idx, para, row_number()
        |    OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn FROM p),
        |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(para, e'\n\n' ORDER BY idx) AS text
        |  FROM k WHERE rn = 1 GROUP BY doc_id)
        |SELECT d2.doc_id, coalesce(r.text, '') AS text,
        |  CAST(len(string_split(d2.text, e'\n\n')) AS BIGINT) AS n_paras,
        |  coalesce(r.n_kept, 0) AS n_kept
        |FROM d d2 LEFT JOIN r USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    Gate("pipe_contamination", { (s, dir) =>
      // train/benchmark contamination audit: distinct-trigram overlap of
      // every train doc against the (broadcast) benchmark trigram set;
      // benchmark = every 97th doc, train = the rest
      val docs = tbl(s, dir, "documents")
      graft.operators.Pipeline.contaminationScores(
          docs.where(col("doc_id") % 97 =!= 0),
          docs.where(col("doc_id") % 97 === 0))
        .orderBy("doc_id")
    },
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |gr AS (SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS g FROM t),
        |bg AS (SELECT DISTINCT g FROM gr WHERE doc_id % 97 = 0)
        |SELECT gr.doc_id, count(*) AS n_shared
        |FROM gr JOIN bg USING (g)
        |WHERE doc_id % 97 <> 0
        |GROUP BY gr.doc_id ORDER BY doc_id""".stripMargin),

    Gate("pipe_contam_bloom", { (s, dir) =>
      // bloom-prefilter contamination lane: same audit as
      // pipe_contamination but the benchmark gram set reaches the train
      // side as a Bloom filter (bench too big to broadcast at scale);
      // exact-confirm join makes the result identical to the broadcast
      // lane, so the oracle is the plain exact SQL. Different bench slice
      // (% 89) than pipe_contamination so the two rows are independent.
      val docs = tbl(s, dir, "documents")
      graft.operators.Pipeline.contaminationScoresBloom(
          docs.where(col("doc_id") % 89 =!= 0),
          docs.where(col("doc_id") % 89 === 0))
        .orderBy("doc_id")
    },
      // exact contamination SQL — the bloom is candidate pruning only,
      // the exact-confirm join makes the engine result identical
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |gr AS (SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS g FROM t),
        |bg AS (SELECT DISTINCT g FROM gr WHERE doc_id % 89 = 0)
        |SELECT gr.doc_id, count(*) AS n_shared
        |FROM gr JOIN bg USING (g)
        |WHERE doc_id % 89 <> 0
        |GROUP BY gr.doc_id ORDER BY doc_id""".stripMargin),

    Gate("pipe_shuffle_shards", { (s, dir) =>
      // epoch-seeded reproducible global shuffle: 60-bit md5 key from
      // (seed, doc_id), shard = h % 8, per-shard training positions
      graft.operators.Pipeline.shuffleShards(
          tbl(s, dir, "documents"), "ep1", 8)
        .orderBy("shard", "pos")
    },
      """WITH h AS (SELECT doc_id,
        |    ('0x' || substring(md5(concat('ep1', ':', doc_id)), 1, 15))::BIGINT AS h
        |  FROM documents)
        |SELECT doc_id, h % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin),

    Gate("pipe_sample_budget", { (s, dir) =>
      // token-budget sampling: md5-ordered subset of each source capped
      // at 600 cumulative tokens; per-source acceptance stats
      graft.operators.Pipeline.sampleBudget(tbl(s, dir, "documents"), 600)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("sampled_tokens"),
          max("cum_toks").as("max_cum"))
        .orderBy("source")
    },
      """WITH t AS (SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |c AS (SELECT source, n_toks,
        |    CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY k, doc_id)
        |      AS BIGINT) AS cum_toks FROM t)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS sampled_tokens,
        |  max(cum_toks) AS max_cum
        |FROM c WHERE cum_toks <= 600
        |GROUP BY source ORDER BY source""".stripMargin),

    Gate("pipe_mixture", { (s, dir) =>
      // mixture reweighting: curated sources (src0-2) get a 3x token
      // budget over the default; per-source acceptance stats show the
      // resulting mix
      graft.operators.Pipeline.sampleMixture(tbl(s, dir, "documents"),
          Map("src0" -> 900L, "src1" -> 900L, "src2" -> 900L), default = 300L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("sampled_tokens"))
        .orderBy("source")
    },
      """WITH t AS (SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |c AS (SELECT source, n_toks,
        |    CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY k, doc_id)
        |      AS BIGINT) AS cum_toks,
        |    CASE WHEN source IN ('src0', 'src1', 'src2') THEN 900
        |         ELSE 300 END AS budget FROM t)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS sampled_tokens
        |FROM c WHERE cum_toks <= budget
        |GROUP BY source ORDER BY source""".stripMargin),

    Gate("pipe_quality_funnel", { (s, dir) =>
      // quality-filter funnel: survivors of each cumulative filter stage
      // (length → token count → word-repetition) in ONE scan — conditional
      // aggregation then stack, no per-stage passes
      val d = tbl(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_toks", size(col("toks")).cast("long"))
        .withColumn("dup_ratio", lit(1.0) -
          size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
      val s1 = col("n_chars") >= 200
      val s2 = s1 && col("n_toks") >= 30
      val s3 = s2 && col("dup_ratio") <= 0.3
      d.agg(
          count(lit(1)).as("s0_all"),
          sum(when(s1, 1L).otherwise(0L)).as("s1_len"),
          sum(when(s2, 1L).otherwise(0L)).as("s2_toks"),
          sum(when(s3, 1L).otherwise(0L)).as("s3_dup"))
        .selectExpr("stack(4, 's0_all', s0_all, 's1_len', s1_len, " +
          "'s2_toks', s2_toks, 's3_dup', s3_dup) AS (stage, n_docs)")
        .orderBy("stage")
    },
      """WITH d AS (SELECT n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |    1.0 - len(list_distinct(string_split(text, ' ')))
        |      / len(string_split(text, ' ')) AS dup_ratio
        |  FROM documents),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS s0_all,
        |    CAST(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS s1_len,
        |    CAST(sum(CASE WHEN n_chars >= 200 AND n_toks >= 30
        |      THEN 1 ELSE 0 END) AS BIGINT) AS s2_toks,
        |    CAST(sum(CASE WHEN n_chars >= 200 AND n_toks >= 30
        |      AND dup_ratio <= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS s3_dup
        |  FROM d)
        |SELECT 's0_all' AS stage, s0_all AS n_docs FROM a
        |UNION ALL SELECT 's1_len', s1_len FROM a
        |UNION ALL SELECT 's2_toks', s2_toks FROM a
        |UNION ALL SELECT 's3_dup', s3_dup FROM a
        |ORDER BY stage""".stripMargin),

    Gate("pipe_e2e_curation", { (s, dir) =>
      // END-TO-END curation pipeline as ONE oracled query — the
      // composition story: lang filter → quality gate → exact dedup
      // (keep-lowest-id) → benchmark decontamination (≥3 shared
      // trigrams) → per-source cap, reporting docs + token budget after
      // every stage. The pure-predicate stages could fold into one
      // conditional agg (pipe_quality_funnel's shape); dedup/decontam/
      // cap each need a window or join, so the base is checkpointed
      // once and every stage narrows the previous survivor frame —
      // six metadata-sized aggs, not six corpus rescans.
      val raw = tbl(s, dir, "documents")
      val bench = raw.where(col("doc_id") % 97 === 0) // held-out benchmark
      val c0 = raw.where(col("doc_id") % 97 =!= 0)
      val corpus = c0.unionByName(
          c0.where(col("doc_id") < 25) // injected exact dupes
            .withColumn("doc_id", col("doc_id") + 2000000))
        .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
        .localCheckpoint(true)
      val s1 = corpus.where(col("lang").isin("en", "de", "fr"))
      val s2 = s1.where(col("n_chars") >= 150 && col("n_toks") >= 20)
      val wd = Window.partitionBy(md5(col("text"))).orderBy("doc_id")
      val s3 = s2.withColumn("rn", row_number().over(wd))
        .where(col("rn") === 1).drop("rn").localCheckpoint(true)
      val contam = graft.operators.Pipeline.contaminationScores(s3, bench)
        .where(col("n_shared") >= 3)
      val s4 = s3.join(contam, Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      val wc = Window.partitionBy("source").orderBy("doc_id")
      val s5 = s4.withColumn("rn", row_number().over(wc))
        .where(col("rn") <= 12)
      def stat(name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum("n_toks"), lit(0L)).as("n_tokens"))
          .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
      stat("s0_all", corpus).unionByName(stat("s1_lang", s1))
        .unionByName(stat("s2_quality", s2))
        .unionByName(stat("s3_dedup", s3))
        .unionByName(stat("s4_decontam", s4))
        .unionByName(stat("s5_cap", s5))
        .orderBy("stage")
    }, curationOracleSql),

    Gate("pipe_e2e_curation_stream", { (s, dir) =>
      // the funnel as a LIVE pipeline: the same fixture delivered in 3
      // doc_id-ordered micro-batches through Streaming.curateBatch —
      // exact-dedup/cap state carries across batches, the benchmark is
      // a standing reference input, and the per-stage deltas sum to the
      // batch funnel exactly (pipe_e2e_curation's oracle verbatim).
      import s.implicits._
      implicit val ctx = s.sqlContext
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft-cur-stream").toString + "/state"
      val raw = tbl(s, dir, "documents")
      val bench = raw.where(col("doc_id") % 97 === 0).localCheckpoint(true)
      val c0 = raw.where(col("doc_id") % 97 =!= 0)
      val corpus = c0.unionByName(
          c0.where(col("doc_id") < 25)
            .withColumn("doc_id", col("doc_id") + 2000000))
        .select("doc_id", "source", "lang", "n_chars", "text")
      val rows = corpus.orderBy("doc_id")
        .as[(Long, String, String, Long, String)].collect().toSeq
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, String, Long, String)]
      val q = mem.toDF
        .toDF("doc_id", "source", "lang", "n_chars", "text")
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.streaming.Streaming.curateBatch(s, stateDir, b, id, bench)
        }
        .option("checkpointLocation", s"$stateDir/../ckpt").start()
      try rows.grouped(rows.length / 3 + 1).foreach { g =>
        mem.addData(g); q.processAllAvailable()
      } finally q.stop()
      graft.streaming.Streaming.curationStats(s, stateDir).orderBy("stage")
    },
      // doc_id-ordered 3-batch replay through curateBatch: per-stage
      // deltas sum to the batch funnel exactly — oracle verbatim
      curationOracleSql),

    Gate("pipe_k_anonymity", { (s, dir) =>
      // privacy audit before a training-data release: quasi-identifiers
      // (nation, acctbal kilo-bucket), sensitive attribute mktsegment;
      // per equivalence class: size, l-diversity, suppressed (size < k).
      // One hash aggregation (Pipeline.kAnonymityReport) — audit cost is
      // a groupBy count at any corpus size.
      val c = tbl(s, dir, "customer")
        .withColumn("bal_kb", floor(col("c_acctbal") / 1000).cast("long"))
      graft.operators.Pipeline
        .kAnonymityReport(c, Seq("c_nationkey", "bal_kb"),
          sensitive = "c_mktsegment", k = 5)
        .orderBy("c_nationkey", "bal_kb")
    },
      """SELECT c_nationkey,
        |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kb,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l_diversity,
        |  count(*) < 5 AS suppressed
        |FROM customer GROUP BY 1, 2
        |ORDER BY c_nationkey, bal_kb""".stripMargin),

    Gate("pipe_t_closeness", { (s, dir) =>
      // the distributional privacy audit k-anonymity misses: per
      // equivalence class (same QI as pipe_k_anonymity), the
      // total-variation distance between the class's sensitive-value
      // distribution and the corpus-wide one, in exact cross-multiplied
      // integers (tvd_ppm = 10⁶·Σ|c_v·N − g_v·n| div (2·n·N)). One
      // corpus scan; the class × value grid is metadata-scale.
      val c = tbl(s, dir, "customer")
        .withColumn("bal_kb", floor(col("c_acctbal") / 1000).cast("long"))
      graft.operators.Pipeline
        .tClosenessReport(c, Seq("c_nationkey", "bal_kb"),
          sensitive = "c_mktsegment")
        .orderBy("c_nationkey", "bal_kb")
    },
      """WITH base AS (SELECT c_nationkey,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kb, c_mktsegment
        |  FROM customer),
        |cv AS (SELECT c_nationkey, bal_kb, c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2, 3),
        |cls AS (SELECT c_nationkey, bal_kb, CAST(sum(c) AS BIGINT) AS n
        |  FROM cv GROUP BY 1, 2),
        |gv AS (SELECT c_mktsegment, CAST(sum(c) AS BIGINT) AS g
        |  FROM cv GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM cv),
        |grid AS (SELECT cls.c_nationkey, cls.bal_kb, cls.n, gv.g,
        |    coalesce(cv.c, 0) AS c
        |  FROM cls CROSS JOIN gv LEFT JOIN cv
        |    ON cv.c_nationkey = cls.c_nationkey AND cv.bal_kb = cls.bal_kb
        |    AND cv.c_mktsegment = gv.c_mktsegment),
        |agg AS (SELECT g2.c_nationkey, g2.bal_kb, g2.n, tot.n_total,
        |    CAST(sum(abs(g2.c * tot.n_total - g2.g * g2.n)) AS BIGINT)
        |      AS tvd_num
        |  FROM grid g2 CROSS JOIN tot GROUP BY 1, 2, 3, 4)
        |SELECT c_nationkey, bal_kb, n, tvd_num,
        |  (1000000 * tvd_num) // (2 * n * n_total) AS tvd_ppm
        |FROM agg ORDER BY c_nationkey, bal_kb""".stripMargin),

    Gate("pipe_pii_scan", { (s, dir) =>
      // PII release audit over a corpus with DETERMINISTIC injected PII
      // (docs < 30 gain an email / phone / URL by doc_id % 3 — the
      // withInjectedVariants pattern: the recipe is mirrored in the
      // oracle, so the regex detectors are exercised on known-positive
      // rows instead of vacuously counting zeros).
      val base = tbl(s, dir, "documents").select("doc_id", "source", "text")
      val injected = base.withColumn("text",
        when(col("doc_id") < 30, concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact me at user"),
              col("doc_id").cast("string"), lit("@example.com today")))
          .when(col("doc_id") % 3 === 1,
            concat(lit(" call 555-"),
              (col("doc_id") + 1000).cast("string"), lit(" extension now")))
          .otherwise(concat(lit(" see https://example.org/page"),
            col("doc_id").cast("string"), lit(" info")))))
        .otherwise(col("text")))
      graft.operators.Pipeline.piiScan(injected).orderBy("source")
    },
      """WITH inj AS (SELECT source,
        |  CASE WHEN doc_id < 30 THEN text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' contact me at user'
        |        || CAST(doc_id AS VARCHAR) || '@example.com today'
        |      WHEN doc_id % 3 = 1 THEN ' call 555-'
        |        || CAST(doc_id + 1000 AS VARCHAR) || ' extension now'
        |      ELSE ' see https://example.org/page'
        |        || CAST(doc_id AS VARCHAR) || ' info' END
        |    ELSE text END AS text
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN regexp_matches(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_email,
        |  CAST(sum(CASE WHEN regexp_matches(text, '[0-9]{3}-[0-9]{4}')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_phone,
        |  CAST(sum(CASE WHEN regexp_matches(text, 'https?://[^ ]+')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_url
        |FROM inj GROUP BY source ORDER BY source""".stripMargin),

    Gate("pipe_dataset_fingerprint", { (s, dir) =>
      // reproducibility audit: an ORDER-INVARIANT per-source dataset
      // fingerprint — xor plus a mod-10⁹ sum of 60-bit md5 row hashes
      // over (doc_id, text) — any changed/added/dropped row flips it,
      // and shuffle order cannot (commutative aggs). The xor lane alone
      // would miss a row duplicated an even number of times; the count
      // + modsum lanes close that. One scan, one hash agg — the
      // fingerprint costs a groupBy at any corpus size.
      tbl(s, dir, "documents")
        .withColumn("h", expr(
          """CAST(conv(substring(md5(CAST(concat(CAST(doc_id AS STRING),
            |  ':', text) AS BINARY)), 1, 15), 16, 10) AS BIGINT)"""
            .stripMargin))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          expr("bit_xor(h)").as("xor_fp"),
          sum(expr("h % 1000000000")).as("modsum_fp"))
        .orderBy("source")
    },
      """WITH h AS (SELECT source,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || text),
        |      1, 15))::BIGINT AS h
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  bit_xor(h) AS xor_fp,
        |  CAST(sum(h % 1000000000) AS BIGINT) AS modsum_fp
        |FROM h GROUP BY source ORDER BY source""".stripMargin),

    Gate("pipe_quantile_norm", { (s, dir) =>
      // cross-source distribution balancing: quantile-normalize each
      // source's doc-length distribution onto the global one (type-1
      // order statistics, integer rank arithmetic — see the operator
      // scaladoc for why there is deliberately NO global per-row
      // window).
      graft.operators.Pipeline.quantileNormalize(
          tbl(s, dir, "documents"), valueCol = "n_chars")
        .orderBy("doc_id")
    },
      // same CDF-join semantics: g = ceil(r*N/n_g) in integer form,
      // qnorm = the distinct value whose cumulative span covers g
      """WITH rows_ AS (SELECT doc_id, source, n_chars FROM documents),
        |cnt AS (SELECT n_chars AS qnorm,
        |    CAST(sum(count(*)) OVER (ORDER BY n_chars) AS BIGINT) AS hi,
        |    CAST(sum(count(*)) OVER (ORDER BY n_chars) AS BIGINT)
        |      - CAST(count(*) AS BIGINT) AS lo
        |  FROM rows_ GROUP BY n_chars),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_g
        |  FROM rows_ GROUP BY source),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM rows_),
        |r AS (SELECT doc_id, source, n_chars, CAST(row_number() OVER (
        |    PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS r
        |  FROM rows_),
        |g AS (SELECT r.doc_id, r.source, r.n_chars,
        |    (r.r * tot.n_total + ns.n_g - 1) // ns.n_g AS g
        |  FROM r JOIN ns USING (source) CROSS JOIN tot)
        |SELECT g.doc_id, g.source, g.n_chars, cnt.qnorm
        |FROM g JOIN cnt ON g.g > cnt.lo AND g.g <= cnt.hi
        |ORDER BY doc_id""".stripMargin),

    Gate("pipe_quota_split", { (s, dir) =>
      // EXACT stratified 80/10/10 split by largest-remainder quotas —
      // per source the allocation error vs true proportions is < 1 row
      // by construction (pipe_split_hash is only proportional in
      // expectation; binomial noise on a small stratum can starve a dev
      // set). Integer quota arithmetic + id-ordered assignment = a pure
      // function of the data, bit-identical cross-engine.
      graft.operators.Pipeline.quotaSplit(
          tbl(s, dir, "documents").select("doc_id", "source"),
          Seq("train" -> 80L, "dev" -> 10L, "test" -> 10L))
        .select("doc_id", "source", "split")
        .orderBy("doc_id")
    },
      """WITH ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
        |  FROM documents GROUP BY 1),
        |w AS (SELECT * FROM (VALUES ('train', 80, 0), ('dev', 10, 1),
        |    ('test', 10, 2)) AS t(split, w, ord)),
        |q0 AS (SELECT ns.source, ns.n_s, w.split, w.ord,
        |    (ns.n_s * w.w) // 100 AS base, (ns.n_s * w.w) % 100 AS frac
        |  FROM ns CROSS JOIN w),
        |q1 AS (SELECT *, row_number() OVER (PARTITION BY source
        |      ORDER BY frac DESC, ord) AS rem_rank,
        |    n_s - CAST(sum(base) OVER (PARTITION BY source) AS BIGINT)
        |      AS rem_total
        |  FROM q0),
        |q2 AS (SELECT source, split, ord, base +
        |    CASE WHEN rem_rank <= rem_total THEN 1 ELSE 0 END AS quota
        |  FROM q1),
        |qb AS (SELECT source, split,
        |    CAST(sum(quota) OVER (PARTITION BY source ORDER BY ord)
        |      AS BIGINT) AS hi,
        |    CAST(sum(quota) OVER (PARTITION BY source ORDER BY ord)
        |      AS BIGINT) - quota AS lo
        |  FROM q2),
        |rn AS (SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source ORDER BY doc_id) AS rn FROM documents)
        |SELECT rn.doc_id, rn.source, qb.split
        |FROM rn JOIN qb ON qb.source = rn.source
        |  AND rn.rn > qb.lo AND rn.rn <= qb.hi
        |ORDER BY doc_id""".stripMargin),

    Gate("pipe_target_encode", { (s, dir) =>
      // leave-one-out smoothed target encoding (the leakage-safe form:
      // each row's own target is excluded from its category mean) —
      // enc = (Σcat − own + m·prior) div (n−1+m), m = 100, prior = the
      // global integer mean. Exact BIGINT cents everywhere; stats come
      // from one full-table agg, the per-row encode is a broadcast-join
      // projection. Output restricted to o_orderkey < 5000 to bound the
      // gate dump — the encode itself is a constant-cost projection per
      // row at any scale.
      val o = tbl(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority").as("cat"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val stats = o.groupBy("cat")
        .agg(sum("cents").as("csum"), count(lit(1)).as("n"))
      val g = o.agg(expr("sum(cents) div count(1)").as("prior_cents"))
      o.where(col("o_orderkey") < 5000)
        .join(broadcast(stats), "cat")
        .crossJoin(broadcast(g))
        .withColumn("enc_cents",
          expr("(csum - cents + 100 * prior_cents) div (n - 1 + 100)"))
        .select("o_orderkey", "cat", "enc_cents")
        .orderBy("o_orderkey")
    },
      """WITH o AS (SELECT o_orderkey, o_orderpriority AS cat,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |stats AS (SELECT cat, CAST(sum(cents) AS BIGINT) AS csum,
        |    CAST(count(*) AS BIGINT) AS n FROM o GROUP BY 1),
        |g AS (SELECT CAST(sum(cents) AS BIGINT) // CAST(count(*) AS BIGINT)
        |    AS prior_cents FROM o)
        |SELECT o.o_orderkey, o.cat,
        |  (stats.csum - o.cents + 100 * g.prior_cents) // (stats.n - 1 + 100)
        |    AS enc_cents
        |FROM o JOIN stats USING (cat) CROSS JOIN g
        |WHERE o.o_orderkey < 5000 ORDER BY o_orderkey""".stripMargin),

    Gate("pipe_sample_stratified", { (s, dir) =>
      // deterministic stratified sampling: per-source rates (here: even
      // sources keep ~25%, odd ~75%) via the same md5 bucket as the
      // train/test split — zero shuffle, reproducible, auditable
      val b = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
      val keep = when(substring(col("source"), 4, 10).cast("long") % 2 === 0,
        b < "40").otherwise(b < "c0")
      tbl(s, dir, "documents").where(keep)
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    },
      """SELECT source, count(*) AS n_kept
        |FROM documents
        |WHERE CASE WHEN CAST(substr(source, 4, 10) AS BIGINT) % 2 = 0
        |  THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
        |  ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0' END
        |GROUP BY source ORDER BY source""".stripMargin),

    Gate("pipe_bootstrap", { (s, dir) =>
      // deterministic POISSON bootstrap — the distributed-scale
      // resampling formulation (each row independently appears
      // Poisson(1) times per replica, so no global row index, no draw
      // join, no shuffle beyond the 10-row final agg): per (doc,
      // replica) the md5 of "r:doc_id" gives 60 uniform bits, inverted
      // through the Poisson(1) CDF as shared integer thresholds
      // (floor(CDF·2⁶⁰) literals) — any engine reproduces the exact
      // same resample counts. Replica fan-out is a map-side explode;
      // per-replica sums stay BIGINT exact.
      val t = Seq(424136118829305344L, 848272237658610688L,
        1060340297073263360L, 1131029650211480960L, 1148701988496035328L,
        1152236456152946176L, 1152825534095764608L)
      tbl(s, dir, "documents").select("doc_id", "n_chars")
        .select(col("doc_id"), col("n_chars"),
          explode(expr("sequence(0L, 9L)")).as("r"))
        .withColumn("u", expr(
          "cast(conv(substring(md5(concat(r, ':', doc_id)), 1, 15), 16, 10) as long)"))
        .withColumn("c", expr(
          s"CASE WHEN u < ${t(0)}L THEN 0L WHEN u < ${t(1)}L THEN 1L " +
          s"WHEN u < ${t(2)}L THEN 2L WHEN u < ${t(3)}L THEN 3L " +
          s"WHEN u < ${t(4)}L THEN 4L WHEN u < ${t(5)}L THEN 5L " +
          s"WHEN u < ${t(6)}L THEN 6L ELSE 7L END"))
        .groupBy("r")
        .agg(sum("c").as("n_draws"),
          sum(col("c") * col("n_chars")).as("sum_chars"))
        .withColumn("mean_chars_x100", expr("(100L * sum_chars) div n_draws"))
        .orderBy("r")
    },
      // same md5-uniform → Poisson(1)-CDF integer thresholds; DuckDB's
      // 15-hex-char prefix cast is the shared 60-bit uniform lane
      """WITH g AS (SELECT doc_id, n_chars, unnest(range(0, 10)) AS r
        |  FROM documents),
        |u AS (SELECT r, n_chars,
        |    ('0x' || substring(md5(r || ':' || doc_id), 1, 15))::BIGINT AS u
        |  FROM g),
        |c AS (SELECT r, n_chars,
        |    CASE WHEN u < 424136118829305344 THEN 0
        |      WHEN u < 848272237658610688 THEN 1
        |      WHEN u < 1060340297073263360 THEN 2
        |      WHEN u < 1131029650211480960 THEN 3
        |      WHEN u < 1148701988496035328 THEN 4
        |      WHEN u < 1152236456152946176 THEN 5
        |      WHEN u < 1152825534095764608 THEN 6 ELSE 7 END AS c
        |  FROM u)
        |SELECT r, CAST(sum(c) AS BIGINT) AS n_draws,
        |  CAST(sum(c * n_chars) AS BIGINT) AS sum_chars,
        |  (100 * CAST(sum(c * n_chars) AS BIGINT))
        |    // CAST(sum(c) AS BIGINT) AS mean_chars_x100
        |FROM c GROUP BY r ORDER BY r""".stripMargin),

    Gate("pipe_dataset_card", { (s, dir) =>
      // one-stop corpus "dataset card": the headline numbers a corpus
      // release ships with, as (metric, value BIGINT) rows — docs,
      // token/char volume, source/lang diversity, exact-dup pressure,
      // length extremes. Two passes total: one scan-side agg (token
      // counts ride the graft_ntokens strength reduction) + one dedup
      // hash agg; every value is an exact integer.
      graft.functions.GraftFunctions.register(s)
      val docs = tbl(s, dir, "documents")
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        sum("n_chars").as("n_chars_total"),
        countDistinct("source").as("n_sources"),
        countDistinct("lang").as("n_langs"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))
      val dup = Dedup.exact(docs)
        .agg(coalesce(sum(when(col("dup_count") > 1,
            col("dup_count") - 1)), lit(0L)).as("n_exact_dups"))
      val card = base.crossJoin(dup)
      card.selectExpr("stack(8, " +
          "'n_docs', n_docs, 'n_tokens', n_tokens, " +
          "'n_chars_total', n_chars_total, 'n_sources', n_sources, " +
          "'n_langs', n_langs, 'min_chars', min_chars, " +
          "'max_chars', max_chars, 'n_exact_dups', n_exact_dups) " +
          "as (metric, value)")
        .orderBy("metric")
    },
      // UNION mirror of the stack(); DuckDB sum(BIGINT) → HUGEINT casts
      """WITH base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
        |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |    min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |  FROM documents),
        |dup AS (SELECT CAST(coalesce(sum(CASE WHEN c > 1 THEN c - 1 END), 0)
        |    AS BIGINT) AS n_exact_dups
        |  FROM (SELECT count(*) AS c FROM documents GROUP BY md5(text)))
        |SELECT metric, value FROM (
        |  SELECT 'n_docs' AS metric, n_docs AS value FROM base
        |  UNION ALL SELECT 'n_tokens', n_tokens FROM base
        |  UNION ALL SELECT 'n_chars_total', n_chars_total FROM base
        |  UNION ALL SELECT 'n_sources', n_sources FROM base
        |  UNION ALL SELECT 'n_langs', n_langs FROM base
        |  UNION ALL SELECT 'min_chars', min_chars FROM base
        |  UNION ALL SELECT 'max_chars', max_chars FROM base
        |  UNION ALL SELECT 'n_exact_dups', n_exact_dups FROM dup)
        |ORDER BY metric""".stripMargin),

    Gate("pipe_feature_bins", { (s, dir) =>
      // per-source equi-width feature discretization (8 bins over the
      // source's own [min, max]) — the binning step before mixture /
      // curriculum decisions. Bin index is pure integer arithmetic
      // (((x − lo) · 8) div (hi − lo + 1), always < 8 since x ≤ hi), so
      // the histogram is exact cross-engine. One keyed bounds agg
      // broadcast back + one hash agg; the fact side never shuffles
      // twice.
      val docs = tbl(s, dir, "documents").select("doc_id", "source", "n_chars")
      val bounds = docs.groupBy("source")
        .agg(min("n_chars").as("lo"), max("n_chars").as("hi"))
      docs.join(broadcast(bounds), "source")
        .withColumn("bin",
          least(lit(7L), expr("((n_chars - lo) * 8) div (hi - lo + 1)")))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n"), min("n_chars").as("bin_min"),
          max("n_chars").as("bin_max"))
        .orderBy("source", "bin")
    },
      // same integer bin arithmetic; window bounds ≡ the broadcast agg
      """WITH b AS (SELECT source, min(n_chars) AS lo, max(n_chars) AS hi
        |  FROM documents GROUP BY source),
        |x AS (SELECT d.source, d.n_chars,
        |    CAST(least(7, ((d.n_chars - b.lo) * 8) // (b.hi - b.lo + 1))
        |      AS BIGINT) AS bin
        |  FROM documents d JOIN b USING (source))
        |SELECT source, bin, CAST(count(*) AS BIGINT) AS n,
        |  min(n_chars) AS bin_min, max(n_chars) AS bin_max
        |FROM x GROUP BY source, bin ORDER BY source, bin""".stripMargin),

    Gate("pipe_sample_weighted", { (s, dir) =>
      // deterministic PPS sample: priority = md5-uniform div weight —
      // integer-only weighted sampling (no libm) that any engine
      // reproduces exactly; global top-k compiles to
      // TakeOrderedAndProject, never a full corpus sort
      graft.operators.Pipeline.sampleWeighted(
          tbl(s, dir, "documents").select("doc_id", "source", "n_chars"),
          k = 40, seed = "ws1", weightCol = "n_chars")
        .orderBy("priority", "doc_id")
    },
      """WITH t AS (SELECT doc_id, source, n_chars,
        |    ('0x' || substring(md5('ws1:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      // CAST(n_chars AS BIGINT) AS priority
        |  FROM documents)
        |SELECT doc_id, source, n_chars, priority FROM t
        |ORDER BY priority, doc_id LIMIT 40""".stripMargin),

    Gate("pipe_winsorize", { (s, dir) =>
      // per-source outlier clamping (feature winsorization): n_chars
      // clamped to the source's own [p05, p95] rounded to integer bounds
      // so every sum stays exact BIGINT; one percentile agg + one keyed
      // join (Pipeline.winsorize)
      graft.operators.Pipeline.winsorize(
          tbl(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "n_chars", "source")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_chars") < col("lo_b"), 1L).otherwise(0L)).as("n_lo"),
          sum(when(col("n_chars") > col("hi_b"), 1L).otherwise(0L)).as("n_hi"),
          sum("n_chars").as("sum_raw"),
          sum("clamped").as("sum_clamped"))
        .orderBy("source")
    },
      """WITH b AS (SELECT source,
        |    CAST(round(quantile_cont(n_chars, 0.05)) AS BIGINT) AS lo_b,
        |    CAST(round(quantile_cont(n_chars, 0.95)) AS BIGINT) AS hi_b
        |  FROM documents GROUP BY source),
        |c AS (SELECT d.source, d.n_chars,
        |    least(greatest(d.n_chars, b.lo_b), b.hi_b) AS cl,
        |    b.lo_b, b.hi_b
        |  FROM documents d JOIN b USING (source))
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n_chars < lo_b THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
        |  CAST(sum(CASE WHEN n_chars > hi_b THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_raw,
        |  CAST(sum(cl) AS BIGINT) AS sum_clamped
        |FROM c GROUP BY source ORDER BY source""".stripMargin),

    Gate("pipe_dsir", { (s, dir) =>
      // DSIR data selection (hashed-ngram importance weights, target =
      // English docs): fixed-point ratio weights over 512 md5 buckets,
      // broadcast weight table, top-60 most target-like docs. Integer
      // arithmetic end-to-end so the selected SET is engine-independent
      // (Pipeline.dsirScores).
      graft.operators.Pipeline.dsirScores(
          tbl(s, dir, "documents").select("doc_id", "lang", "text"),
          target = col("lang") === "en")
        .orderBy(col("dsir_score").desc, col("doc_id"))
        .limit(60)
    },
      // same hashed-bucket fixed-point weights: md5-60 token hash mod 512
      // (≡ graft_md5_tokens), Laplace-smoothed ratio in integer floor
      // division, HUGEINT sum cast back to BIGINT
      """WITH toks AS (SELECT doc_id, lang,
        |    ('0x' || substring(md5(tok), 1, 15))::BIGINT % 512 AS b
        |  FROM documents, unnest(string_split(text, ' ')) AS t(tok)),
        |bc AS (SELECT b, count(*) AS r,
        |    count(*) FILTER (WHERE lang = 'en') AS t
        |  FROM toks GROUP BY b),
        |w AS (SELECT b, (1000000 * (t + 1)) // (r + 1) AS wt FROM bc)
        |SELECT doc_id, CAST(sum(wt) AS BIGINT) AS dsir_score
        |FROM toks JOIN w USING (b)
        |GROUP BY doc_id
        |ORDER BY dsir_score DESC, doc_id LIMIT 60""".stripMargin),

    Gate("pipe_split_leakage", { (s, dir) =>
      // leakage-safe splits: the split unit is the near-dup CLUSTER
      // (minhash pair graph → CC representative), so a near-duplicate
      // pair can never straddle train/eval — the contamination a
      // doc-keyed hashSplit can't prevent. Oracle recomputes the exact
      // all-pairs Jaccard clusters relationally.
      val corpus = withInjectedVariants(
        tbl(s, dir, "documents").select("doc_id", "text"))
      graft.operators.Pipeline.leakageSafeSplit(corpus,
          Dedup.nearDuplicates(corpus, threshold = 0.3))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("group_id").as("n_groups"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("split")
    },
      // dedup_clusters' exact pair graph + transitive closure, then the
      // split of each doc's cluster representative (singletons = self)
      """WITH RECURSIVE base AS (SELECT doc_id, text FROM documents),
        |vars AS (SELECT doc_id + 1000000 AS doc_id,
        |    concat('zz yy ', array_to_string(string_split(text, ' ')[3:], ' ')) AS text
        |  FROM base WHERE doc_id < 20),
        |docs AS (SELECT * FROM base UNION ALL SELECT * FROM vars),
        |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM docs),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(words) - 3, 0) + 2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS s FROM w),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s))
        |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.3),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(u, v) AS (SELECT u, v FROM edges
        |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |cc AS (SELECT u AS doc_id, least(u, min(v)) AS rep_id
        |  FROM reach GROUP BY u),
        |g AS (SELECT d.doc_id, coalesce(cc.rep_id, d.doc_id) AS group_id
        |  FROM docs d LEFT JOIN cc USING (doc_id)),
        |sp AS (SELECT *,
        |    CASE WHEN substr(md5(CAST(group_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
        |         WHEN substr(md5(CAST(group_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
        |         ELSE 'test' END AS split FROM g)
        |SELECT split, count(*) AS n_docs,
        |  CAST(count(DISTINCT group_id) AS BIGINT) AS n_groups,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM sp GROUP BY split ORDER BY split""".stripMargin),

    Gate("pipe_dedup_eval", { (s, dir) =>
      // the dedup EVAL harness (emb_ann_recall's near-dup sibling):
      // precision/recall of the MinHash-LSH detector against the
      // injected ground truth, restricted to pairs involving a variant
      // id (the labeled subset — corpus-native near-dups would otherwise
      // pollute "false" positives). Exact integer ppm metrics; the
      // detector's recall totality on these corpora is the
      // OperatorsSpec-pinned property that keeps this oracle exact.
      val corpus = withInjectedVariants(
        tbl(s, dir, "documents").select("doc_id", "text"))
      Dedup.nearDuplicates(corpus, threshold = 0.3)
        .where(col("doc_b") >= 1000000L)
        .withColumn("is_tp",
          col("doc_b") === col("doc_a") + 1000000L && col("doc_a") < 20)
        .agg(count(lit(1)).as("n_pred"),
          sum(when(col("is_tp"), 1L).otherwise(0L)).as("tp"))
        .withColumn("n_true", lit(20L))
        .withColumn("fp", col("n_pred") - col("tp"))
        .withColumn("fn", col("n_true") - col("tp"))
        .withColumn("precision_ppm", expr("(1000000 * tp) div n_pred"))
        .withColumn("recall_ppm", expr("(1000000 * tp) div n_true"))
        .select("n_true", "n_pred", "tp", "fp", "fn",
          "precision_ppm", "recall_ppm")
    },
      // predicted = exact >=0.3 Jaccard pairs INVOLVING a variant
      // (variants x corpus — bounded, never all-pairs); truth is the
      // injected (i, i+1000000) set
      """WITH base AS (SELECT doc_id, text FROM documents),
        |vars AS (SELECT doc_id + 1000000 AS doc_id,
        |    concat('zz yy ', array_to_string(string_split(text, ' ')[3:], ' ')) AS text
        |  FROM base WHERE doc_id < 20),
        |docs AS (SELECT * FROM base UNION ALL SELECT * FROM vars),
        |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM docs),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(words) - 3, 0) + 2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS s FROM w),
        |shv AS (SELECT * FROM sh WHERE doc_id >= 1000000),
        |pred AS (SELECT a.doc_id AS da, b.doc_id AS db FROM sh a, shv b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s))
        |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.3),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_pred,
        |    CAST(sum(CASE WHEN db = da + 1000000 AND da < 20
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tp
        |  FROM pred)
        |SELECT CAST(20 AS BIGINT) AS n_true, n_pred, tp,
        |  n_pred - tp AS fp, CAST(20 AS BIGINT) - tp AS fn,
        |  (1000000 * tp) // n_pred AS precision_ppm,
        |  (1000000 * tp) // 20 AS recall_ppm
        |FROM m""".stripMargin),

    Gate("pipe_span_corrupt", { (s, dir) =>
      // T5-style denoising input builder: deterministic md5 span mask
      // (span k of doc d corrupts iff hash(d:k) % 5 == 0), corrupted
      // spans collapse to one <X> sentinel, targets carry the masked
      // tokens — a pure function of (doc_id, position), so epochs,
      // retries, and engines agree on every mask. One posexplode + one
      // keyed agg; re-assembly sorts inside the aggregated array.
      graft.operators.Pipeline.spanCorrupt(tbl(s, dir, "documents"))
        .orderBy("doc_id")
    },
      // same md5→BIGINT span mask; string_agg ORDER BY pos skips NULL
      // placeholders exactly like Spark's array_join; target coalesces
      // to '' for mask-free docs (string_agg of no rows is NULL where
      // array_join of an all-null array is '')
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |pt AS (SELECT doc_id, unnest(tk) AS tok,
        |    CAST(generate_subscripts(tk, 1) - 1 AS BIGINT) AS pos FROM t),
        |x AS (SELECT doc_id, tok, pos, pos // 3 AS span,
        |    (('0x' || substring(md5(doc_id || ':' || (pos // 3)), 1, 15))
        |      ::BIGINT % 5 = 0) AS flag
        |  FROM pt)
        |SELECT doc_id,
        |  CAST(max(span) + 1 AS BIGINT) AS n_spans,
        |  CAST(count(DISTINCT CASE WHEN flag THEN span END) AS BIGINT)
        |    AS n_corrupted,
        |  string_agg(CASE WHEN NOT flag THEN tok
        |    WHEN pos % 3 = 0 THEN '<X>' END, ' ' ORDER BY pos)
        |    AS corrupted,
        |  coalesce(string_agg(CASE WHEN flag THEN tok END, ' '
        |    ORDER BY pos), '') AS target
        |FROM x GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Gate("pipe_bounded_contrib", { (s, dir) =>
      // user-level contribution bounding — the pre-noise half of any
      // user-level DP release: keep each user's FIRST 10 events (by
      // time, event_id tiebreak — deterministic cap), clamp the value
      // to [0, 20000] integer cents, then aggregate per event type.
      // The clamp + cap bound each user's influence on every output
      // cell; one window + one agg.
      val ev = events(s, dir).select(col("user_id"),
          col("event_type"), unix_timestamp(col("ts")).as("t"),
          col("event_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .withColumn("rn", row_number().over(Window.partitionBy("user_id")
          .orderBy(col("t"), col("event_id"))))
        .where(col("rn") <= 10)
        .withColumn("clamped", expr("greatest(0L, least(20000L, cents))"))
      ev.groupBy("event_type")
        .agg(count(lit(1)).as("n_contrib"),
          sum("clamped").as("sum_clamped_cents"))
        .orderBy("event_type")
    },
      """WITH ev AS (SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS rn
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_contrib,
        |  CAST(sum(greatest(0, least(20000, cents))) AS BIGINT)
        |    AS sum_clamped_cents
        |FROM ev WHERE rn <= 10
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    Gate("pipe_ks_drift", { (s, dir) =>
      // per-source distribution-drift audit: EXACT two-sample
      // Kolmogorov–Smirnov statistic of each source's doc-length
      // distribution vs the rest of the corpus (one-vs-rest), the
      // nonparametric complement of text_kl_by_source's token-level KL.
      // The KS supremum runs on integer counts only — D's numerator is
      // max |c1·n2 − c2·n1| over the combined support, reported in exact
      // basis points ((10000·num) div (n1·n2)) — bit-identical on any
      // engine, no float CDFs anywhere. Scale shape: the evaluation
      // grid is (distinct length × source) — metadata-scale — built
      // from one count agg and a broadcast cross join; raw docs scan
      // once. The global-cumulative window is single-partition over
      // distinct lengths only (bounded, q_ntile_cume-style).
      // The (source, n_chars) histogram is the ONE corpus scan; every
      // other relation (per-source totals, global cumulative, grand
      // total) derives from that metadata-scale table, localCheckpoint'd
      // so the shared subtree is not re-planned (and the docs not
      // re-scanned) once per use.
      val d = tbl(s, dir, "documents").select("source", "n_chars")
      val cnt = d.groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val ns = cnt.groupBy("source").agg(sum("c").as("n1"))
      val allCum = cnt.groupBy("n_chars").agg(sum("c").as("ca"))
        .withColumn("c_all", sum("ca").over(Window.orderBy("n_chars")))
        .select("n_chars", "c_all")
      val grid = ns.crossJoin(broadcast(allCum))
        .join(cnt, Seq("source", "n_chars"), "left")
        .na.fill(0L, Seq("c"))
      val w = Window.partitionBy("source").orderBy("n_chars")
      grid.withColumn("c1", sum("c").over(w))
        .crossJoin(broadcast(cnt.agg(sum("c").as("n_total"))))
        .withColumn("c2", col("c_all") - col("c1"))
        .withColumn("n2", col("n_total") - col("n1"))
        .withColumn("dev", abs(col("c1") * col("n2") - col("c2") * col("n1")))
        .groupBy("source", "n1", "n2")
        .agg(max("dev").as("ks_num"))
        .withColumn("ks_bp", expr("(10000 * ks_num) div (n1 * n2)"))
        .select("source", "n1", "ks_num", "ks_bp")
        .orderBy("source")
    },
      // one-vs-rest KS on integer counts: the supremum is evaluated
      // just after each step of the combined empirical CDF — i.e. at
      // every distinct length — which is where a max of right-
      // continuous step functions lives
      """WITH d AS (SELECT source, n_chars FROM documents),
        |cnt AS (SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
        |  FROM d GROUP BY source, n_chars),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n1
        |  FROM d GROUP BY source),
        |ac AS (SELECT n_chars, CAST(sum(count(*))
        |    OVER (ORDER BY n_chars) AS BIGINT) AS c_all
        |  FROM d GROUP BY n_chars),
        |grid AS (SELECT ns.source, ns.n1, ac.n_chars, ac.c_all,
        |    coalesce(cnt.c, 0) AS c
        |  FROM ns CROSS JOIN ac
        |  LEFT JOIN cnt ON cnt.source = ns.source
        |    AND cnt.n_chars = ac.n_chars),
        |cum AS (SELECT source, n1, c_all,
        |    CAST(sum(c) OVER (PARTITION BY source ORDER BY n_chars)
        |      AS BIGINT) AS c1,
        |    (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_total
        |  FROM grid)
        |SELECT source, n1,
        |  max(abs(c1 * (n_total - n1) - (c_all - c1) * n1)) AS ks_num,
        |  (10000 * max(abs(c1 * (n_total - n1) - (c_all - c1) * n1)))
        |    // (n1 * (n_total - n1)) AS ks_bp
        |FROM cum GROUP BY source, n1, n_total ORDER BY source""".stripMargin),

    Gate("pipe_mw_drift", { (s, dir) =>
      // rank-based drift audit: one-vs-rest Mann–Whitney U of each
      // source's doc-length distribution — KS (pipe_ks_drift) feels the
      // largest LOCAL CDF gap, MW the overall stochastic ordering (a
      // source can pass KS yet sit systematically long). Exact integer
      // lane throughout: tie handling uses DOUBLED midranks (2·midrank =
      // 2·cum_below + count_at + 1, always an integer), 2·R1 sums those
      // over the source's histogram, 2·U1 = 2·R1 − 2·n1(n1+1)/2, and the
      // effect size is AUC = U1/(n1·n2) reported as floored ppm — no
      // float ranks, bit-identical on any engine. (BIGINT headroom:
      // 10⁶·2·n1·n2 caps the lane at ~2M docs per side; past that the
      // ppm numerator moves to DECIMAL.) Same scale shape as
      // pipe_ks_drift: ONE corpus scan into the (source, n_chars)
      // histogram, all ranking on the metadata-scale distinct-length
      // table (the global cumulative window is bounded by the length
      // support, q_ntile_cume-style).
      val d = tbl(s, dir, "documents").select("source", "n_chars")
      val cnt = d.groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val ns = cnt.groupBy("source").agg(sum("c").as("n1"))
      val dr = cnt.groupBy("n_chars").agg(sum("c").as("ca"))
        .withColumn("cum", sum("ca").over(Window.orderBy("n_chars")))
        .withColumn("dr", expr("2 * (cum - ca) + ca + 1"))
        .select("n_chars", "dr")
      val tot = cnt.agg(sum("c").as("n_total"))
      cnt.join(broadcast(dr), "n_chars")
        .groupBy("source").agg(sum(expr("c * dr")).as("two_r1"))
        .join(ns, "source")
        .crossJoin(broadcast(tot))
        .withColumn("two_u1", expr("two_r1 - n1 * (n1 + 1)"))
        .withColumn("auc_ppm",
          expr("(1000000 * two_u1) div (2 * n1 * (n_total - n1))"))
        .select("source", "n1", "two_u1", "auc_ppm")
        .orderBy("source")
    },
      // doubled midranks keep tie-corrected ranks in integers:
      // 2·midrank(v) = 2·(count below v) + (count at v) + 1
      """WITH cnt AS (SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n1
        |  FROM cnt GROUP BY 1),
        |av AS (SELECT n_chars, CAST(sum(c) AS BIGINT) AS ca
        |  FROM cnt GROUP BY 1),
        |dr AS (SELECT n_chars,
        |    2 * (CAST(sum(ca) OVER (ORDER BY n_chars) AS BIGINT) - ca)
        |      + ca + 1 AS dr
        |  FROM av),
        |tr AS (SELECT cnt.source, CAST(sum(cnt.c * dr.dr) AS BIGINT)
        |    AS two_r1
        |  FROM cnt JOIN dr USING (n_chars) GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM cnt)
        |SELECT tr.source, ns.n1,
        |  tr.two_r1 - ns.n1 * (ns.n1 + 1) AS two_u1,
        |  (1000000 * (tr.two_r1 - ns.n1 * (ns.n1 + 1)))
        |    // (2 * ns.n1 * (tot.n_total - ns.n1)) AS auc_ppm
        |FROM tr JOIN ns USING (source) CROSS JOIN tot
        |ORDER BY source""".stripMargin),

    Gate("pipe_curriculum", { (s, dir) =>
      // staged curriculum ordering for training: per-language difficulty
      // quartile (short docs first) = stage, deterministic md5 shuffle
      // WITHIN each stage — easy→hard phases whose internal order is
      // reproducible across runs and engines. Stage comes from the
      // per-language rank (4·(rn−1)) div n — pure integers, no ntile
      // float boundaries; the shuffle key is the 60-bit md5 lane
      // (conv(substring(md5,1,15)) ≡ DuckDB ('0x'||…)::BIGINT).
      // r16: both ranks are TWO-LEVEL (guide §8 hash-range split) —
      // the r15 windows partitioned by lang alone ranked every doc in
      // #languages partitions (the q_percentile_disc weak class).
      // rn decomposes as (docs with smaller n_chars, from the
      // distinct-value CDF) + row_number within (lang, n_chars);
      // pos as (per-bucket offsets over bkt = shuf div 2⁵²,
      // order-preserving since bkt is a monotone prefix of shuf) +
      // row_number within (lang, stage, bkt). Offset tables are
      // dimension-scale broadcasts; results are rank-identical because
      // each split key is a prefix of the original sort key.
      val d = tbl(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val n = d.groupBy("lang").agg(count(lit(1)).as("n"))
      val wc = Window.partitionBy("lang").orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val below = d.groupBy("lang", "n_chars").agg(count(lit(1)).as("k"))
        .withColumn("below", sum("k").over(wc) - col("k"))
        .select("lang", "n_chars", "below")
      // r17 (verdict item 6): the within-(lang, n_chars) row_number was
      // still a VALUE split — one hot partition if doc lengths tie
      // heavily (truncation-capped corpora). Split ties by an
      // order-preserving doc_id range (dbkt = doc_id div ceil((max_id
      // + 1)/256), 256 ranges over the ACTUAL id domain): per-bucket
      // row_number + a broadcast offset of smaller buckets inside the
      // tie group recomposes the identical rank, because dbkt is a
      // monotone prefix of the doc_id sort key — the same discipline
      // as the bkt rank below. ScaleSpec pins bit-equality + the plan.
      // The range width rides the plan as a one-row broadcast (no Spark
      // action while the plan is built; an empty corpus has max = null,
      // which coalesces to width 1).
      val dDiv = d.agg(expr("greatest(1L, coalesce(max(doc_id), 0L) div 256 + 1)")
        .as("ddiv"))
      val dd = d.crossJoin(broadcast(dDiv))
        .withColumn("dbkt", expr("doc_id div ddiv")).drop("ddiv")
      val wdc = Window.partitionBy("lang", "n_chars").orderBy("dbkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dBelow = dd.groupBy("lang", "n_chars", "dbkt")
        .agg(count(lit(1)).as("dk"))
        .withColumn("dbelow", sum("dk").over(wdc) - col("dk"))
        .select("lang", "n_chars", "dbkt", "dbelow")
      val staged = dd
        .withColumn("dwrn", row_number().over(
          Window.partitionBy("lang", "n_chars", "dbkt").orderBy("doc_id")))
        .join(broadcast(dBelow), Seq("lang", "n_chars", "dbkt"))
        .withColumn("wrn", col("dbelow") + col("dwrn"))
        .join(broadcast(below), Seq("lang", "n_chars"))
        .join(broadcast(n), Seq("lang"))
        .withColumn("rn", col("below") + col("wrn"))
        .withColumn("stage", expr("(4 * (rn - 1)) div n"))
        .withColumn("shuf", expr(
          "CAST(conv(substring(md5(concat('cur:', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"))
        .withColumn("bkt", expr("shuf div 4503599627370496")) // 2^52
        .localCheckpoint(true) // feeds the offset counts AND the rank
      val wb = Window.partitionBy("lang", "stage").orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val below2 = staged.groupBy("lang", "stage", "bkt")
        .agg(count(lit(1)).as("k2"))
        .withColumn("below2", sum("k2").over(wb) - col("k2"))
        .select("lang", "stage", "bkt", "below2")
      staged
        .withColumn("wp", row_number().over(
          Window.partitionBy("lang", "stage", "bkt").orderBy("shuf", "doc_id")))
        .join(broadcast(below2), Seq("lang", "stage", "bkt"))
        .withColumn("pos", (col("below2") + col("wp")).cast("long"))
        .select("lang", "stage", "pos", "doc_id")
        .orderBy("lang", "stage", "pos")
    },
      // identical rank-quartile staging + 60-bit md5 shuffle lane
      """WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
        |n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM d GROUP BY lang),
        |staged AS (SELECT d.doc_id, d.lang,
        |    (4 * (CAST(row_number() OVER (PARTITION BY d.lang
        |        ORDER BY n_chars, doc_id) AS BIGINT) - 1)) // n AS stage,
        |    ('0x' || substring(md5('cur:' || CAST(doc_id AS VARCHAR)),
        |      1, 15))::BIGINT AS shuf
        |  FROM d JOIN n ON d.lang = n.lang)
        |SELECT lang, stage,
        |  CAST(row_number() OVER (PARTITION BY lang, stage
        |    ORDER BY shuf, doc_id) AS BIGINT) AS pos,
        |  doc_id
        |FROM staged ORDER BY lang, stage, pos""".stripMargin))

  // same fingerprint CTEs as dedup_winnow; eval fps come UNPRUNED from
  // the per-doc fingerprint function (fingerprints depend only on a
  // doc's own text, so filtering the full-corpus table ≡ computing on
  // the eval set alone), corpus side df-pruned. Shared by the batch
  // lane and its streaming twin.
  private val contamWinnowOracleSql: String =
    """WITH w AS MATERIALIZED (SELECT doc_id,
      |    string_split(text, ' ') AS words FROM documents),
      |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |    CAST(len(words) - 3 AS BIGINT) AS ng,
      |    ('0x' || substring(md5(
      |      array_to_string(words[i + 1 : i + 4], ' ')), 1, 15))::BIGINT
      |      AS hv
      |  FROM (SELECT doc_id, words,
      |      unnest(range(0, len(words) - 3)) AS i FROM w)),
      |m AS (SELECT doc_id, ng, pos, min(hv) OVER (PARTITION BY doc_id
      |    ORDER BY pos ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
      |  FROM g),
      |f AS (SELECT DISTINCT doc_id, fp FROM m WHERE pos <= ng - 8),
      |d AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 20),
      |r AS (SELECT f.doc_id, f.fp FROM f JOIN d USING (fp)),
      |e AS (SELECT doc_id AS eval_id, fp FROM f WHERE doc_id < 5)
      |SELECT r.doc_id, CAST(count(*) AS BIGINT) AS n_shared_fps,
      |  CAST(count(DISTINCT e.eval_id) AS BIGINT) AS n_eval_docs
      |FROM r JOIN e USING (fp) WHERE r.doc_id <> e.eval_id
      |GROUP BY r.doc_id HAVING count(*) >= 1
      |ORDER BY n_shared_fps DESC, doc_id""".stripMargin

  // shared by pipe_psi_drift (batch) and pipe_psi_drift_stream (the
  // live count-fold monitor)
  private val psiDriftOracleSql: String =
      // same integer bins/counts; the PSI double mirrors term-for-term
      """WITH d AS (SELECT source,
        |    least(n_chars // 200, 9) AS bin FROM documents),
        |bs AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS c_sb
        |  FROM d GROUP BY 1, 2),
        |bb AS (SELECT bin, CAST(count(*) AS BIGINT) AS c_b
        |  FROM d GROUP BY 1),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
        |  FROM d GROUP BY 1),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |grid AS (SELECT bs.source, bs.c_sb, bb.c_b - bs.c_sb AS c_rest,
        |    ns.n_s, nt.n - ns.n_s AS n_rest
        |  FROM bs JOIN bb USING (bin) JOIN ns USING (source)
        |  CROSS JOIN nt
        |  WHERE bs.c_sb > 0 AND bb.c_b - bs.c_sb > 0)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_bins_used,
        |  round(sum((CAST(c_sb AS DOUBLE) / n_s
        |      - CAST(c_rest AS DOUBLE) / n_rest)
        |    * ln((CAST(c_sb AS DOUBLE) / n_s)
        |        / (CAST(c_rest AS DOUBLE) / n_rest))), 4) AS psi
        |FROM grid GROUP BY source ORDER BY source""".stripMargin

  // shared by pipe_e2e_curation (batch) and pipe_e2e_curation_stream
  // (the stateful funnel twin)
  private val curationOracleSql: String =
      // same stage recipe end-to-end; every branch casts so DuckDB's
      // HUGEINT sums can't drift the union's column type
      """WITH c0 AS (SELECT doc_id, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 97 <> 0),
        |cor AS (SELECT doc_id, text, lang, source, n_chars FROM c0
        |  UNION ALL
        |  SELECT doc_id + 2000000, text, lang, source, n_chars
        |  FROM c0 WHERE doc_id < 25),
        |ct AS (SELECT *, CAST(len(string_split(text, ' ')) AS BIGINT)
        |    AS n_toks FROM cor),
        |s1 AS (SELECT * FROM ct WHERE lang IN ('en', 'de', 'fr')),
        |s2 AS (SELECT * FROM s1 WHERE n_chars >= 150 AND n_toks >= 20),
        |s3 AS (SELECT * FROM s2 QUALIFY
        |  row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
        |tg AS (SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM s3)),
        |bg AS (SELECT DISTINCT unnest(list_distinct(
        |    list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS g
        |  FROM (SELECT string_split(text, ' ') AS tk FROM documents
        |        WHERE doc_id % 97 = 0)),
        |contam AS (SELECT tg.doc_id FROM tg JOIN bg USING (g)
        |  GROUP BY tg.doc_id HAVING count(*) >= 3),
        |s4 AS (SELECT * FROM s3
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
        |s5 AS (SELECT * FROM s4 QUALIFY
        |  row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 12)
        |SELECT stage, n_docs, n_tokens FROM (
        |  SELECT 's0_all' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(coalesce(sum(n_toks), 0) AS BIGINT) AS n_tokens FROM ct
        |  UNION ALL SELECT 's1_lang', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM s1
        |  UNION ALL SELECT 's2_quality', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM s2
        |  UNION ALL SELECT 's3_dedup', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM s3
        |  UNION ALL SELECT 's4_decontam', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM s4
        |  UNION ALL SELECT 's5_cap', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM s5)
        |ORDER BY stage""".stripMargin
}
