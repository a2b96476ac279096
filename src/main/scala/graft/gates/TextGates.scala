package graft
package gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TextStats
import Fixtures._

/** Text statistics gates (`text_*`): token distributions, language models,
  * BPE, sketches and novelty over the documents table.
  */
object TextGates {

  def gates: Seq[Gate] = Seq(

    Gate("text_token_gini", { (s, dir) =>
      // lexical-diversity scoring by Gini impurity of each doc's token
      // distribution: 1 − Σ(cᵢ/n)² — no logs (unlike entropy), so the
      // whole score is exact rational arithmetic: ppm lane =
      // (10⁶·(n² − Σcᵢ²)) div n², BIGINT end to end. Plan is
      // explode → two hash aggs keyed on (doc_id, tok) then doc_id —
      // fully codegen, partial aggs before each shuffle.
      val tok = tbl(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_toks"), count(lit(1)).as("n_distinct"),
          sum(expr("c * c")).as("sq"))
        .withColumn("gini_ppm", expr(
          "(1000000 * (n_toks * n_toks - sq)) div (n_toks * n_toks)"))
        .select("doc_id", "n_toks", "n_distinct", "gini_ppm")
        .orderBy("doc_id")
    },
      // same exact rational ppm lane; BIGINT casts off HUGEINT sums
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM t GROUP BY 1, 2),
        |g AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
        |    CAST(count(*) AS BIGINT) AS n_distinct,
        |    CAST(sum(c * c) AS BIGINT) AS sq
        |  FROM c GROUP BY 1)
        |SELECT doc_id, n_toks, n_distinct,
        |  (1000000 * (n_toks * n_toks - sq)) // (n_toks * n_toks)
        |    AS gini_ppm
        |FROM g ORDER BY doc_id""".stripMargin),

    Gate("text_zipf_fit", { (s, dir) =>
      // Zipf's-law fit: OLS slope/intercept in log-log (rank, freq)
      // space over the top-1000 tokens — the corpus-health check
      // (natural text sits near slope −1; template/spam corpora
      // don't). Counts and ranks are exact integers; the log sums are
      // the only float step, round(4) absorbs ulps; + 0.0 after the
      // round maps a rounded −0.0 to +0.0 on both engines (a fit of ±ulp
      // noise rounds to a signed zero whose sign depends on summation
      // order). The rank window is GLOBAL but vocabulary-scale (the
      // q_ntile_cume dispensation).
      val tf = tbl(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("t"))
        .where(col("t") =!= "")
        .groupBy("t").agg(count(lit(1)).as("c"))
      // r17: TWO-LEVEL top-k (guide §8, the q_tfidf_top_terms move):
      // the global window alone sorts the whole vocabulary in ONE task.
      // Level 1 keeps each pmod(xxhash64(t), 32) bucket's top 1000 —
      // structural recall (a global top-1000 token has < 1000 bucket
      // rows ahead of it) — so the unchanged global window ranks
      // <= 32k candidate rows. Same (c desc, t) order ⇒ identical fit.
      val wb = Window.partitionBy("bkt").orderBy(col("c").desc, col("t"))
      val ranked = tf
        .withColumn("bkt", pmod(xxhash64(col("t")), lit(32)))
        .withColumn("br", row_number().over(wb))
        .where(col("br") <= 1000)
        .withColumn("r", row_number().over(
          Window.orderBy(col("c").desc, col("t"))))
        .where(col("r") <= 1000)
        .select(expr("ln(CAST(r AS DOUBLE))").as("x"),
          expr("ln(CAST(c AS DOUBLE))").as("y"))
      ranked.agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum("y").as("sy"), sum(expr("x * y")).as("sxy"),
          sum(expr("x * x")).as("sxx"))
        .select(col("n").as("n_tokens"),
          expr("round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)" +
            " + CAST(0 AS DOUBLE)").as("zipf_slope"),
          expr("round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))" +
            " * sx) / n, 4) + CAST(0 AS DOUBLE)").as("intercept"))
    },
      // same integer counts/ranks; the OLS double mirrors term-for-term,
      // + 0.0 canonicalizes a rounded signed zero as on the Spark side
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM t
        |  WHERE tok <> '' GROUP BY tok),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r
        |  FROM c),
        |p AS (SELECT ln(CAST(r AS DOUBLE)) AS x,
        |    ln(CAST(c AS DOUBLE)) AS y FROM r WHERE r <= 1000),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx FROM p)
        |SELECT n AS n_tokens,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
        |    + CAST(0 AS DOUBLE) AS zipf_slope,
        |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
        |    / n, 4) + CAST(0 AS DOUBLE) AS intercept
        |FROM g""".stripMargin),

    Gate("text_heaps_fit", { (s, dir) =>
      // Heaps'-law fit (the Zipf fit's companion corpus-health check):
      // vocabulary growth V(n) ≈ K·n^β over ten doc-prefix checkpoints —
      // natural text sits near β ≈ 0.5; a template corpus saturates
      // (β → 0), an id-heavy one inflates (β → 1). V_j = tokens whose
      // FIRST document lands before cut_j (one vocab-scale min +
      // broadcast theta-join — never a per-prefix rescan), n_j = token
      // mass before cut_j. Counts/cuts are exact integers; ln + OLS is
      // the zipf lane's float discipline (round(4) absorbs sum-order
      // ulps, + 0.0 makes the sign of a rounded zero canonical — a
      // saturated vocabulary fits β = ±ulp noise).
      import s.implicits._
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val toks = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("t"))
        .where(col("t") =!= "")
        .localCheckpoint(true) // feeds first-doc AND per-doc mass
      val mindoc = toks.groupBy("t").agg(min("doc_id").as("m"))
      val perdoc = toks.groupBy("doc_id").agg(count(lit(1)).as("c"))
      val nd = docs.count()
      val cuts = (1 to 10).map(j => nd * j / 10).toDF("cut")
      val v = mindoc.join(broadcast(cuts), col("m") < col("cut"))
        .groupBy("cut").agg(count(lit(1)).as("v"))
      val nj = perdoc.join(broadcast(cuts), col("doc_id") < col("cut"))
        .groupBy("cut").agg(sum("c").as("nmass"))
      nj.join(v, "cut")
        .select(expr("ln(CAST(nmass AS DOUBLE))").as("x"),
          expr("ln(CAST(v AS DOUBLE))").as("y"))
        .agg(count(lit(1)).as("np"), sum("x").as("sx"),
          sum("y").as("sy"), sum(expr("x * y")).as("sxy"),
          sum(expr("x * x")).as("sxx"))
        .select(col("np").as("n_points"),
          expr("round((np * sxy - sx * sy) / (np * sxx - sx * sx), 4)" +
            " + CAST(0 AS DOUBLE)").as("heaps_beta"),
          expr("round((sy - ((np * sxy - sx * sy) / (np * sxx - sx * sx))" +
            " * sx) / np, 4) + CAST(0 AS DOUBLE)").as("intercept"))
    },
      // same exact-integer checkpoints; ln + OLS mirrors term-for-term,
      // + 0.0 canonicalizes a rounded signed zero as on the Spark side
      """WITH d AS (SELECT doc_id, text FROM documents),
        |t0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM d),
        |t AS (SELECT * FROM t0 WHERE tok <> ''),
        |md AS (SELECT tok, min(doc_id) AS m FROM t GROUP BY tok),
        |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS c FROM t
        |  GROUP BY doc_id),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM d),
        |cuts AS (SELECT (nd * j) // 10 AS cut
        |  FROM nn, (SELECT unnest(range(1, 11)) AS j)),
        |v AS (SELECT cut, CAST(count(*) AS BIGINT) AS v FROM cuts
        |  JOIN md ON md.m < cuts.cut GROUP BY cut),
        |nj AS (SELECT cut, CAST(sum(c) AS BIGINT) AS nmass FROM cuts
        |  JOIN pd ON pd.doc_id < cuts.cut GROUP BY cut),
        |p AS (SELECT ln(CAST(nmass AS DOUBLE)) AS x,
        |    ln(CAST(v AS DOUBLE)) AS y FROM nj JOIN v USING (cut)),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS np, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx FROM p)
        |SELECT np AS n_points,
        |  round((np * sxy - sx * sy) / (np * sxx - sx * sx), 4)
        |    + CAST(0 AS DOUBLE) AS heaps_beta,
        |  round((sy - ((np * sxy - sx * sy) / (np * sxx - sx * sx)) * sx)
        |    / np, 4) + CAST(0 AS DOUBLE) AS intercept
        |FROM g""".stripMargin),

    Gate("text_hash_features", { (s, dir) =>
      // the hashing trick (Weinberger et al.) — fixed-dimension token
      // featurization with no vocabulary artifact: token → md5 15-hex
      // BIGINT % 64 bucket, per-doc bucket counts. The featurizer
      // behind linear probes / DSIR-style scoring at corpus scale;
      // emitted long-form (doc, bucket, cnt) — exact integers, and the
      // sparse relational shape IS the scale form (a dense array column
      // would carry 64 values per doc through every shuffle).
      val tok = tbl(s, dir, "documents")
        .where(col("doc_id") < 200)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        .where(col("t") =!= "")
      tok.withColumn("bucket", expr(
          "CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) % 64"))
        .groupBy("doc_id", "bucket")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("doc_id", "bucket")
    },
      // same 15-hex md5 → BIGINT bucket lane as the dedup hashes
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 200),
        |b AS (SELECT doc_id,
        |    ('0x' || substring(md5(tok), 1, 15))::BIGINT % 64 AS bucket
        |  FROM t WHERE tok <> '')
        |SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
        |FROM b GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin),

    Gate("text_entropy", { (s, dir) =>
      // Shannon entropy of each doc's token distribution in BITS — the
      // log-lane sibling of text_token_gini (quality filters threshold
      // on it; low-entropy docs are boilerplate/spam): H = (ln n −
      // Σ cᵢ·ln cᵢ / n) / ln 2. Counts stay exact BIGINTs; the one
      // float step is ln + divide, and round(4) absorbs the
      // cross-engine libm + summation-order ulps (the drv_ewma rule).
      // Same explode → two hash aggs plan as the gini.
      val tok = tbl(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_toks"), count(lit(1)).as("n_distinct"),
          sum(expr("CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))")).as("sclc"))
        .withColumn("ent_bits", round(
          (log(col("n_toks").cast("double")) -
            col("sclc") / col("n_toks").cast("double")) /
            log(lit(2.0)), 4))
        .select("doc_id", "n_toks", "n_distinct", "ent_bits")
        .orderBy("doc_id")
    },
      // same count CTEs; the one float step mirrors term-for-term and
      // round(4) absorbs libm/summation-order ulps
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM t GROUP BY 1, 2),
        |g AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
        |    CAST(count(*) AS BIGINT) AS n_distinct,
        |    sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS sclc
        |  FROM c GROUP BY 1)
        |SELECT doc_id, n_toks, n_distinct,
        |  round((ln(CAST(n_toks AS DOUBLE)) - sclc / CAST(n_toks AS DOUBLE))
        |    / ln(CAST(2 AS DOUBLE)), 4) AS ent_bits
        |FROM g ORDER BY doc_id""".stripMargin),

    Gate("text_readability", { (s, dir) =>
      // syllable-density readability proxy (the Flesch family's
      // syllables-per-word term; the corpus has no sentence punctuation,
      // so the sentence term is out of scope by construction): vowel
      // GROUPS approximate syllables, one regex pass per document, all
      // ratios in exact integer bp (10000·n div d). Pure projection —
      // no shuffle at all; the regex class [aeiou]+ sits in the
      // RE2 ⊆ Java common subset.
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_words"),
          size(regexp_extract_all(col("text"), lit("[aeiou]+"), lit(0)))
            .cast("long").as("n_syl"))
        .withColumn("syl_per_word_bp", expr("(10000L * n_syl) div n_words"))
        .withColumn("vowel_density_bp", expr("(10000L * n_syl) div n_chars"))
        .orderBy("doc_id")
    },
      // vowel-group count via one regexp_extract_all pass; bp ratios by
      // integer division (numerators non-negative, so // ≡ div)
      """SELECT doc_id, n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT) AS n_syl,
        |  (10000 * CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT))
        |    // CAST(len(string_split(text, ' ')) AS BIGINT)
        |    AS syl_per_word_bp,
        |  (10000 * CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT))
        |    // n_chars AS vowel_density_bp
        |FROM documents ORDER BY doc_id""".stripMargin),

    Gate("text_lang_id", { (s, dir) =>
      TextStats.languageId(tbl(s, dir, "documents")).orderBy("doc_id")
    },
      """WITH s AS (SELECT doc_id,
        |  len(list_filter(string_split(text, ' '),
        |    x -> x IN ('the', 'and', 'of', 'is', 'to'))) AS s_en,
        |  len(list_filter(string_split(text, ' '),
        |    x -> x IN ('der', 'die', 'das', 'und', 'ist'))) AS s_de,
        |  len(list_filter(string_split(text, ' '),
        |    x -> x IN ('le', 'la', 'les', 'et', 'est'))) AS s_fr,
        |  len(list_filter(string_split(text, ' '),
        |    x -> x IN ('el', 'la', 'los', 'y', 'es'))) AS s_es,
        |  len(list_filter(string_split(text, ' '),
        |    x -> x IN ('的', '是', '了', '在', '和'))) AS s_zh
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) > 0 THEN
        |    (list_sort([
        |      {'score': s_de, 'lang': 'de'},
        |      {'score': s_en, 'lang': 'en'},
        |      {'score': s_es, 'lang': 'es'},
        |      {'score': s_fr, 'lang': 'fr'},
        |      {'score': s_zh, 'lang': 'zh'}])[5]).lang
        |  ELSE 'und' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin),

    Gate("text_logprob", { (s, dir) =>
      // self-trained unigram LM score: token freq table (one shuffle) +
      // broadcast join back, mean ln P(token) per doc
      TextStats.unigramLogProb(tbl(s, dir, "documents")).orderBy("doc_id")
    },
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |freq AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM freq)
        |SELECT t.doc_id, avg(ln(f.n / tot.total)) AS logprob
        |FROM toks t JOIN freq f ON t.tok = f.tok, tot
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),

    Gate("text_bigram_lm", { (s, dir) =>
      // self-trained bigram LM with additive smoothing (CCNet-style
      // perplexity-filter signal): mean ln P(w2|w1) per doc
      TextStats.bigramLogProb(tbl(s, dir, "documents")).orderBy("doc_id")
    },
      // bigram LM: conditionals smoothed against the bigram-left counts;
      // n_bigrams cast to BIGINT on both engines; logprob is fp-only (sum
      // order differs across engines at ~1e-15 rel)
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bgl AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS bg FROM d),
        |cnt AS (SELECT bg, count(*) AS c FROM bgl GROUP BY bg),
        |leftc AS (SELECT string_split(bg, ' ')[1] AS w1,
        |    CAST(sum(c) AS BIGINT) AS lc FROM cnt GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok) AS v FROM
        |  (SELECT unnest(toks) AS tok FROM d) t)
        |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  avg(ln((cnt.c + 0.5) / (leftc.lc + 0.5 * v.v))) AS logprob
        |FROM bgl b JOIN cnt ON b.bg = cnt.bg
        |JOIN leftc ON string_split(b.bg, ' ')[1] = leftc.w1
        |CROSS JOIN v
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin),

    Gate("text_ppl_buckets", { (s, dir) =>
      // CCNet's head/middle/tail split: per-source perplexity tertiles
      // from the self-trained bigram LM (bucket 1 = most fluent). Ranks
      // run on round(logprob, 6) with a doc_id tiebreak — the raw avg is
      // float-summation-order noisy across engines, the rounded key is
      // stable; per-source window, so parallelism = #sources
      import org.apache.spark.sql.expressions.Window
      val lp = TextStats.bigramLogProb(tbl(s, dir, "documents"))
        .withColumn("lp6", round(col("logprob"), 6))
      val d = tbl(s, dir, "documents").select("doc_id", "source")
      val w = Window.partitionBy("source").orderBy(col("lp6").desc, col("doc_id"))
      lp.join(d, "doc_id")
        .withColumn("bucket", ntile(3).over(w).cast("long"))
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n_bigrams").as("n_bigrams"))
        .orderBy("source", "bucket")
    },
      // text_bigram_lm's LM CTEs + per-source tertiles on the
      // round(·, 6) key (same smoothing, same 0.5-alpha)
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bgl AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS bg FROM d),
        |cnt AS (SELECT bg, count(*) AS c FROM bgl GROUP BY bg),
        |leftc AS (SELECT string_split(bg, ' ')[1] AS w1,
        |    CAST(sum(c) AS BIGINT) AS lc FROM cnt GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok) AS v FROM
        |  (SELECT unnest(toks) AS tok FROM d) t),
        |lp AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    round(avg(ln((cnt.c + 0.5) / (leftc.lc + 0.5 * v.v))), 6) AS lp6
        |  FROM bgl b JOIN cnt ON b.bg = cnt.bg
        |  JOIN leftc ON string_split(b.bg, ' ')[1] = leftc.w1
        |  CROSS JOIN v
        |  GROUP BY b.doc_id),
        |t AS (SELECT doc.source, lp.n_bigrams,
        |    CAST(ntile(3) OVER (PARTITION BY doc.source
        |      ORDER BY lp.lp6 DESC, lp.doc_id) AS BIGINT) AS bucket
        |  FROM lp JOIN documents doc USING (doc_id))
        |SELECT source, bucket, count(*) AS n_docs,
        |  CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams
        |FROM t GROUP BY source, bucket ORDER BY source, bucket""".stripMargin),

    Gate.captured("text_bpe_encode", { (s, dir) =>
      // BPE tokenizer training at corpus scale: 40 merges learned on the
      // word-frequency table (training never iterates the corpus — one
      // groupBy collapses it to vocabulary scale), then replayed over
      // the docs; per-source compression stats. The iterative merge
      // argmax has no fixed-depth SQL mirror, but the ENCODE does: the
      // learned merge table rides into the oracle as literals
      // (bpeOracleSql — the emb_pca move) where a chr(31)-framed replace()
      // chain replays it exactly, so the query hashes under the full
      // gate since r11.
      val docs = tbl(s, dir, "documents").select("doc_id", "source", "text")
      val merges = graft.operators.Bpe.train(docs, nMerges = 40)
      bpeFitted = Some(merges)
      graft.operators.Bpe.encodeStats(docs, merges)
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"),
          sum("n_subwords").as("n_subwords"))
        .orderBy("source")
    }, bpeFitted.map(bpeOracleSql)),

    Gate("text_kl_by_source", { (s, dir) =>
      // per-source token-distribution drift vs the corpus mixture:
      // KL(P(tok|source) || P(tok)) per source
      TextStats.tokenKlDivergence(tbl(s, dir, "documents"))
        .orderBy("source")
    },
      // per-source KL drift: group/global token count tables off one token
      // stream; kl is fp-only (sum order differs across engines)
      """WITH toks AS (SELECT source AS grp, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |bygrp AS (SELECT grp, tok, count(*) AS c_gt FROM toks GROUP BY grp, tok),
        |gall AS (SELECT tok, count(*) AS c_t FROM toks GROUP BY tok),
        |grptot AS (SELECT grp, count(*) AS n_g FROM toks GROUP BY grp),
        |tot AS (SELECT count(*) AS n FROM toks)
        |SELECT b.grp AS source, CAST(g2.n_g AS BIGINT) AS n_tokens,
        |  sum((b.c_gt / CAST(g2.n_g AS DOUBLE)) *
        |      ln((b.c_gt / CAST(g2.n_g AS DOUBLE))
        |         / (g.c_t / CAST(tot.n AS DOUBLE)))) AS kl
        |FROM bygrp b JOIN gall g ON b.tok = g.tok
        |JOIN grptot g2 ON b.grp = g2.grp CROSS JOIN tot
        |GROUP BY b.grp, g2.n_g
        |ORDER BY source""".stripMargin),

    Gate("text_lang_confusion", { (s, dir) =>
      // classifier eval against the ground-truth lang column: confusion
      // matrix of (actual, predicted) with per-cell counts
      val docs = tbl(s, dir, "documents")
      TextStats.languageId(docs)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")
    },
      """WITH s AS (SELECT doc_id,
        |  len(list_filter(string_split(text, ' '),
        |    x -> x IN ('the', 'and', 'of', 'is', 'to'))) AS s_en,
        |  len(list_filter(string_split(text, ' '),
        |    x -> x IN ('der', 'die', 'das', 'und', 'ist'))) AS s_de,
        |  len(list_filter(string_split(text, ' '),
        |    x -> x IN ('le', 'la', 'les', 'et', 'est'))) AS s_fr,
        |  len(list_filter(string_split(text, ' '),
        |    x -> x IN ('el', 'la', 'los', 'y', 'es'))) AS s_es,
        |  len(list_filter(string_split(text, ' '),
        |    x -> x IN ('的', '是', '了', '在', '和'))) AS s_zh
        |  FROM documents),
        |p AS (SELECT doc_id,
        |  CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) > 0 THEN
        |    (list_sort([
        |      {'score': s_de, 'lang': 'de'},
        |      {'score': s_en, 'lang': 'en'},
        |      {'score': s_es, 'lang': 'es'},
        |      {'score': s_fr, 'lang': 'fr'},
        |      {'score': s_zh, 'lang': 'zh'}])[5]).lang
        |  ELSE 'und' END AS lang_pred FROM s)
        |SELECT d.lang, p.lang_pred, count(*) AS n
        |FROM p JOIN documents d USING (doc_id)
        |GROUP BY d.lang, p.lang_pred
        |ORDER BY d.lang, p.lang_pred""".stripMargin),

    Gate("text_kmv_distinct", { (s, dir) =>
      // KMV cardinality sketch next to its exact twin: per source, the
      // 16th-smallest md5-lane hash of the distinct vocabulary and the
      // floored (k−1)·2⁶⁰/h_k estimate (k = 16 < the ~31-token fixture
      // vocabulary, so the ESTIMATOR lane fires, not the small-set rule) — deterministic cross-engine
      // (exact-double constant, identical bigint→double rounding).
      graft.operators.TextStats.kmvDistinct(
          tbl(s, dir, "documents").select("source", "text"), 16)
        .orderBy("source")
    },
      """WITH t0 AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |t AS (SELECT DISTINCT source, tok FROM t0 WHERE tok <> ''),
        |h AS (SELECT source, tok,
        |    ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM t),
        |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM h
        |  GROUP BY source),
        |kth AS (SELECT source, h AS kth_hash FROM (SELECT source, h,
        |    row_number() OVER (PARTITION BY source ORDER BY h, tok) AS rn
        |  FROM h) WHERE rn = 16)
        |SELECT ex.source, ex.n_exact, kth.kth_hash,
        |  CASE WHEN kth.kth_hash IS NULL THEN ex.n_exact
        |    ELSE CAST(floor(15.0 * 1152921504606846976.0
        |      / CAST(kth.kth_hash AS DOUBLE)) AS BIGINT) END AS est_floor
        |FROM ex LEFT JOIN kth ON kth.source = ex.source
        |ORDER BY ex.source""".stripMargin),

    Gate("text_kmv_stream", { (s, dir) =>
      // the LIVE KMV sketch under a seeded SHUFFLED replay with a
      // re-delivered head slice (take-k-smallest is a commutative
      // monoid — the strongest invariance class, the psi-drift
      // precedent; duplicates cannot move the k-set). State is O(k)
      // per source. Final snapshots elect min(struct) per group — the
      // sketch only improves — and equal the batch estimator verbatim.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.Streaming.TokenRow]
      val name = s"kmv_replay_${System.nanoTime()}"
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = graft.streaming.Streaming.kmvDistinct(mem.toDS(), 16)
          .toDF().writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          val rows = tbl(s, dir, "documents")
            .select(col("source"),
              explode(split(col("text"), " ")).as("tok"))
            .where(col("tok") =!= "").distinct()
            .collect()
            .map(r => graft.streaming.Streaming.TokenRow(
              r.getString(0), r.getString(1)))
          val rnd = new scala.util.Random(17)
          val shuffled = rnd.shuffle(rows.toSeq)
          (shuffled.grouped(shuffled.length / 3 + 1).toSeq :+
            shuffled.take(300)) // cross-batch duplicate re-delivery
            .foreach { b => mem.addData(b); q.processAllAvailable() }
        } finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table(name).groupBy("g")
        .agg(min(struct(col("kth_hash"), col("est_floor"))).as("s"))
        .select(col("g").as("source"), col("s.kth_hash").as("kth_hash"),
          col("s.est_floor").as("est_floor"))
        .orderBy("source")
    },
      // the batch estimator's kth/est columns only (sources reaching a
      // full k-set — all of them at every SF)
      """WITH t0 AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |t AS (SELECT DISTINCT source, tok FROM t0 WHERE tok <> ''),
        |h AS (SELECT source, tok,
        |    ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM t),
        |kth AS (SELECT source, h AS kth_hash FROM (SELECT source, h,
        |    row_number() OVER (PARTITION BY source ORDER BY h, tok) AS rn
        |  FROM h) WHERE rn = 16)
        |SELECT source, kth_hash,
        |  CAST(floor(15.0 * 1152921504606846976.0
        |    / CAST(kth_hash AS DOUBLE)) AS BIGINT) AS est_floor
        |FROM kth ORDER BY source""".stripMargin),

    Gate("text_vocab_overlap", { (s, dir) =>
      // cross-source vocabulary overlap — the data-mixing signal next
      // to text_kl_by_source's distributional drift: pairwise DISTINCT-
      // vocabulary Jaccard between sources in exact integer ppm.
      // Dimension-scale everywhere: one distinct (source, tok) table,
      // per-source sizes broadcast, the intersection a self-join on tok
      // over the distinct table (vocab × small source fan-out, never
      // doc-pair work).
      val vocab = tbl(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "").distinct()
        .localCheckpoint(true) // sizes AND both sides of the pair join
      val sizes = vocab.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = vocab.as("a").join(vocab.as("b"),
          col("a.tok") === col("b.tok") &&
            col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
      inter
        .join(broadcast(sizes.select(col("source").as("src_a"),
          col("n").as("n_a"))), "src_a")
        .join(broadcast(sizes.select(col("source").as("src_b"),
          col("n").as("n_b"))), "src_b")
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          col("n_shared"),
          expr("n_shared * 1000000L div (n_a + n_b - n_shared)")
            .as("jaccard_ppm"))
        .orderBy("src_a", "src_b")
    },
      """WITH v AS (SELECT DISTINCT source, tok FROM (SELECT source,
        |    unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> ''),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM v
        |  GROUP BY source),
        |inter AS (SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY a.source, b.source)
        |SELECT i.src_a, i.src_b, sa.n AS n_a, sb.n AS n_b, i.n_shared,
        |  CAST(i.n_shared * 1000000 // (sa.n + sb.n - i.n_shared)
        |    AS BIGINT) AS jaccard_ppm
        |FROM inter i JOIN sz sa ON sa.source = i.src_a
        |JOIN sz sb ON sb.source = i.src_b
        |ORDER BY i.src_a, i.src_b""".stripMargin),

    Gate("text_heavy_hitters", { (s, dir) =>
      // exact heavy hitters (count > total/64) through a Misra–Gries
      // candidate pass: per-partition MG summaries (shuffle-free, <= 128
      // candidates each) + an exact recount of the candidate union only —
      // recall structurally total by pigeonhole, output ≡ the oracle's
      // direct full-vocabulary groupBy at O(counters × partitions)
      // shuffle instead of O(vocab)
      graft.operators.TextStats
        .heavyHitters(tbl(s, dir, "documents"))
        .orderBy(desc("cnt"), col("tok"))
    },
      // direct full groupBy — the MG candidate pass is output-invariant
      // (structural recall + exact recount)
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
        |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        |  FROM t GROUP BY tok)
        |SELECT tok, cnt, (1000000 * cnt) // n AS freq_ppm
        |FROM c, tot WHERE cnt * 64 > n
        |ORDER BY cnt DESC, tok""".stripMargin),

    Gate("text_oov_rate", { (s, dir) =>
      // tokenizer-coverage audit: per source, the fraction of token
      // occurrences outside the global top-1000 vocabulary (count desc,
      // token tiebreak), in exact ppm — the first number checked before
      // committing to a fixed vocab. The vocab ranking window runs on
      // the DISTINCT-token table (vocabulary-scale, q_ntile_cume-style);
      // the corpus joins against the broadcast vocab once.
      val t = tbl(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "")
        .localCheckpoint(true) // feeds the vocab ranking AND the probe
      // r17: two-level top-k (the text_zipf_fit discipline) — bucket
      // pre-rank with structural recall; the final window sees <= 32k
      // candidate rows instead of the vocabulary
      val vwb = Window.partitionBy("bkt")
        .orderBy(col("c").desc, col("tok"))
      val vocab = t.groupBy("tok").agg(count(lit(1)).as("c"))
        .withColumn("bkt", pmod(xxhash64(col("tok")), lit(32)))
        .withColumn("brk", row_number().over(vwb))
        .where(col("brk") <= 1000)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("c").desc, col("tok"))))
        .where(col("rk") <= 1000)
        .select(col("tok"), lit(1L).as("iv"))
      t.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("source").agg(count(lit(1)).as("n_toks"),
          sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_ppm", expr("(1000000 * n_oov) div n_toks"))
        .orderBy("source")
    },
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tt AS (SELECT * FROM t WHERE tok <> ''),
        |cnts AS (SELECT tok, count(*) AS c FROM tt GROUP BY tok),
        |v AS (SELECT tok FROM (SELECT tok,
        |    row_number() OVER (ORDER BY c DESC, tok) AS rk FROM cnts)
        |  WHERE rk <= 1000)
        |SELECT tt.source, CAST(count(*) AS BIGINT) AS n_toks,
        |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  (1000000 * CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT)) // CAST(count(*) AS BIGINT) AS oov_ppm
        |FROM tt LEFT JOIN v ON v.tok = tt.tok
        |GROUP BY tt.source ORDER BY tt.source""".stripMargin),

    Gate("text_collocations", { (s, dir) =>
      // collocation extraction (PMI family) in the EXACT integer lane:
      // instead of log p(xy)/(p(x)p(y)) — whose ln diverges by libm —
      // rank bigrams by integer LIFT ppm = (10⁶·c_xy·N) div (c_x·c_y),
      // a monotone transform of PMI, with min-support 5 and the
      // (lift, w1, w2) total order. One corpus scan explodes adjacent
      // pairs (the words array is materialized BEFORE the lambda — the
      // per-element re-split trap); counts are two hash aggs; the
      // unigram joins key on the word. BIGINT headroom: 10⁶·c_xy·N
      // caps the lane at ~10⁵ corpus tokens per 10⁷ bigram count —
      // fine to ~10⁹ tokens with c_xy ≤ 10⁴.
      val w = tbl(s, dir, "documents")
        .select(split(col("text"), " ").as("ws"))
      val bi = w.where(size(col("ws")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(ws) - 1),
            |  i -> struct(ws[i - 1] AS w1, ws[i] AS w2))""".stripMargin))
          .as("b"))
        .select("b.w1", "b.w2")
        .where(col("w1") =!= "" && col("w2") =!= "")
      val toks = w.select(explode(col("ws")).as("tok"))
        .where(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // keys BOTH unigram joins
      val ntot = toks.agg(sum("c").as("n_total"))
      bi.groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
        .where(col("cxy") >= 5)
        .join(toks.select(col("tok").as("w1"), col("c").as("c1")), "w1")
        .join(toks.select(col("tok").as("w2"), col("c").as("c2")), "w2")
        .crossJoin(broadcast(ntot))
        .withColumn("lift_ppm",
          expr("(1000000 * cxy * n_total) div (c1 * c2)"))
        .select("w1", "w2", "cxy", "lift_ppm")
        .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
        .limit(20)
    },
      // DuckDB arrays are 1-based: words[i] || ' ' pairs with words[i+1]
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |bi AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
        |  FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM w
        |    WHERE len(ws) >= 2)
        |  WHERE ws[i] <> '' AND ws[i + 1] <> ''),
        |toks AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(ws) AS tok FROM w) WHERE tok <> '' GROUP BY 1),
        |ntot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM toks),
        |cxy AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cxy FROM bi
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT cxy.w1, cxy.w2, cxy.cxy,
        |  (1000000 * cxy.cxy * ntot.n_total) // (t1.c * t2.c) AS lift_ppm
        |FROM cxy JOIN toks t1 ON t1.tok = cxy.w1
        |JOIN toks t2 ON t2.tok = cxy.w2 CROSS JOIN ntot
        |ORDER BY lift_ppm DESC, w1, w2 LIMIT 20""".stripMargin),

    Gate("text_ngram_novelty", { (s, dir) =>
      // per-doc n-gram novelty (curriculum/dup-pressure signal): the
      // fraction of a doc's distinct word-3-grams whose global FIRST
      // occurrence (min doc_id) is this doc. Grams shuffle as 60-bit
      // md5-prefix BIGINTs (the oracle-reproducible hash lane), never
      // strings; the words array is materialized ONCE and indexed (the
      // higher-order-lambda O(n²) trap). One explode + two keyed aggs +
      // one equi-join — corpus-linear.
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("w", expr("filter(split(text, ' '), x -> x != '')"))
      // the 16-byte-per-gram (doc_id, gh) table feeds two consumers
      // (first-occurrence agg + attribution join) — checkpoint it so the
      // corpus is scanned and md5'd ONCE, not once per consumer
      val grams = d.where(size(col("w")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(w) - 3), " +
            "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("g"))
        .select(col("doc_id"),
          expr("CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT)")
            .as("gh"))
        .distinct()
        .localCheckpoint(true)
      val first = grams.groupBy("gh").agg(min("doc_id").as("first_doc"))
      grams.join(first, "gh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty_bp", expr("(10000 * n_novel) div n_grams"))
        .orderBy("doc_id")
    }, ngramNoveltyOracleSql),

    Gate("text_novelty_stream", { (s, dir) =>
      // STREAMING n-gram novelty under the oracle: the documents corpus
      // replayed doc_id-ordered through Streaming.ngramNoveltyStream in
      // three micro-batches. First-arrival-wins + ordered arrival ⇒ the
      // gram attribution equals global min(doc_id), so this shares
      // text_ngram_novelty's oracle SQL verbatim.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val work = java.nio.file.Files
        .createTempDirectory("graft-novelty-q").toString
      val rows = tbl(s, dir, "documents").select("doc_id", "text")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val src = mem.toDF.toDF("doc_id", "text")
        val q = graft.streaming.Streaming
          .ngramNoveltyStream(src, s"$work/state", s"$work/out")
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
        .select("doc_id", "n_grams", "n_novel", "novelty_bp")
        .orderBy("doc_id")
    },
      // streaming twin: first-arrival-wins + doc_id-ordered replay ⇒ the
      // decision table equals the batch lane exactly — same SQL verbatim
      ngramNoveltyOracleSql),

    Gate("text_lang_fertility", { (s, dir) =>
      // per-language token-density profile (tokenizer-budget planning):
      // docs, whitespace tokens, chars, and exact-integer bp ratios.
      // size(split(text,' ')) is declarative — the
      // ReduceSplitSizeToNTokens rule strength-reduces it to the
      // graft_ntokens byte scan, no token array materialized.
      tbl(s, dir, "documents")
        .select(col("lang"),
          expr("CAST(size(split(text, ' ')) AS BIGINT)").as("ntok"),
          col("n_chars"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"),
          sum("n_chars").as("n_chars_total"))
        .withColumn("tok_per_doc_bp",
          expr("(10000 * n_tokens) div n_docs"))
        .withColumn("tok_per_100chars_bp",
          expr("(1000000 * n_tokens) div n_chars_total"))
        .orderBy("lang")
    },
      // identical whitespace-token count: Spark size(split) ≡ DuckDB
      // len(string_split) (both count empty tokens); exact integer bp
      """WITH d AS (SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
        |    n_chars
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
        |  (10000 * CAST(sum(ntok) AS BIGINT))
        |    // CAST(count(*) AS BIGINT) AS tok_per_doc_bp,
        |  (1000000 * CAST(sum(ntok) AS BIGINT))
        |    // CAST(sum(n_chars) AS BIGINT) AS tok_per_100chars_bp
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin),

    Gate("text_rake_keywords", { (s, dir) =>
      // RAKE keyword extraction: candidate phrases are maximal runs of
      // non-stopwords (the pos − row_number island trick, per doc),
      // word degree = Σ length of phrases it appears in, word score =
      // degree/frequency in exact integer ppm, global top-25 (TakeOrdered
      // — never a full sort). The phrase-length window partitions by
      // (doc, island) — island-sized buffers; positions index the
      // FILTERED word array on both engines so empty tokens never shift
      // the island structure.
      val stops = Seq("the", "a", "fast", "slow", "big", "small")
      val words = tbl(s, dir, "documents")
        .select(col("doc_id"),
          expr("filter(split(text, ' '), x -> x <> '')").as("w"))
        .select(col("doc_id"), posexplode(col("w")).as(Seq("p", "word")))
      val ns = words.where(!col("word").isInCollection(stops))
        .withColumn("grp", col("p") - row_number().over(
          Window.partitionBy("doc_id").orderBy("p")))
      ns.withColumn("len", count(lit(1)).over(
          Window.partitionBy("doc_id", "grp")))
        .groupBy("word")
        .agg(count(lit(1)).as("freq"), sum("len").as("deg"))
        .withColumn("score_ppm", expr("(1000000 * deg) div freq"))
        .select("word", "freq", "deg", "score_ppm")
        .orderBy(col("score_ppm").desc, col("freq").desc, col("word"))
        .limit(25)
    },
      // same filtered-array positions + island grouping; HUGEINT sums
      // cast back, ppm floor division
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |ix AS (SELECT doc_id, w[i + 1] AS word, i AS p FROM (
        |    SELECT doc_id, w, unnest(range(0, len(w))) AS i FROM d)),
        |ns AS (SELECT doc_id, p, word,
        |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
        |  FROM ix
        |  WHERE word NOT IN ('the', 'a', 'fast', 'slow', 'big', 'small')),
        |pl AS (SELECT word,
        |    count(*) OVER (PARTITION BY doc_id, grp) AS len FROM ns),
        |st AS (SELECT word, CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(len) AS BIGINT) AS deg FROM pl GROUP BY word)
        |SELECT word, freq, deg, (1000000 * deg) // freq AS score_ppm
        |FROM st ORDER BY score_ppm DESC, freq DESC, word
        |LIMIT 25""".stripMargin))

  /** Per-doc n-gram novelty recomputation, shared VERBATIM by the batch
    * text_ngram_novelty and streaming text_novelty_stream (ordered-replay
    * first-arrival attribution ≡ global min doc_id) gate queries. Same
    * 60-bit md5-prefix gram hashes; DuckDB list indexing is 1-based and
    * unnest(range(...)) is the scalar-list lateral workaround.
    */
  private val ngramNoveltyOracleSql: String =
    """WITH d AS (SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents),
      |ix AS (SELECT doc_id, w,
      |    unnest(range(0, len(w) - 2)) AS i
      |  FROM d WHERE len(w) >= 3),
      |g AS (SELECT DISTINCT doc_id,
      |    CAST(('0x' || substring(
      |      md5(w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]), 1, 15))
      |      AS BIGINT) AS gh
      |  FROM ix),
      |f AS (SELECT gh, min(doc_id) AS first_doc FROM g GROUP BY gh),
      |n AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |    CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_novel
      |  FROM g JOIN f USING (gh) GROUP BY g.doc_id)
      |SELECT doc_id, n_grams, n_novel,
      |  (10000 * n_novel) // n_grams AS novelty_bp
      |FROM n ORDER BY doc_id""".stripMargin

  /** Learned BPE merge table captured by the text_bpe_encode query run
    * (the emb_pca discipline — Verify dumps oracle_sql.json after
    * the queries execute, so the table rides into the oracle as
    * literals).
    */
  @volatile private var bpeFitted: Option[Seq[(String, String)]] = None

  /** The text_bpe_encode oracle, generated from the captured merges.
    * Encoding replays in SQL through a SEPARATOR-FRAMED replace chain:
    * a word becomes `␟c1␟␟c2␟…␟</w>␟` (each symbol individually wrapped
    * in chr(31), which the ASCII corpus never contains), and merge
    * (a,b)→ab is `replace(s, '␟a␟␟b␟', '␟ab␟')` — SQL replace scans
    * left-to-right, non-overlapping, resuming AFTER each replacement,
    * which is EXACTLY mergePair's skip-after-merge rule (pinned in
    * OperatorsSpec on adversarial overlap corpora). Per-symbol framing
    * (not shared boundaries) is what lets a later occurrence in the
    * same word still match after an earlier replacement consumed its
    * neighbor's separator. Symbol count = #chr(31) / 2. Absent until
    * the query has run, exactly like emb_pca.
    */
  private def bpeOracleSql(merges: Seq[(String, String)]): String = {
    val S = "chr(31)"
    def lit(s: String) = "'" + s.replace("'", "''") + "'"
    val s0 = s"$S || array_to_string(string_split(w, ''), $S || $S) || " +
      s"$S || $S || '</w>' || $S"
    val chain = merges.foldLeft(s0) { case (acc, (a, b)) =>
      s"replace($acc, $S || ${lit(a)} || $S || $S || ${lit(b)} || $S, " +
        s"$S || ${lit(a + b)} || $S)"
    }
    s"""WITH d AS (SELECT doc_id, source,
       |    list_filter(string_split(text, ' '), w -> w <> '') AS ws
       |  FROM documents),
       |enc AS (SELECT doc_id, source,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(coalesce(list_sum(list_transform(
       |      list_transform(ws, w -> $chain),
       |      s -> (length(s) - length(replace(s, chr(31), ''))) // 2)),
       |      0) AS BIGINT) AS n_subwords
       |  FROM d)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_words) AS BIGINT) AS n_words,
       |  CAST(sum(n_subwords) AS BIGINT) AS n_subwords
       |FROM enc GROUP BY source ORDER BY source""".stripMargin
  }
}
