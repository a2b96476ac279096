package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Retrieval, Similarity}
import graft.obs.GraftSession
import Fixtures._

/** Retrieval and index gates (`q_*`): BM25, query-likelihood, phrase,
  * BM25F and hybrid search, direct and over persisted indexes, ranking
  * evals, and the versioned-table lifecycle (merge, merge-on-read deletes,
  * time travel, CDC, incremental views).
  */
object RetrievalGates {

  def gates: Seq[Gate] = Seq(

    Gate("q_tfidf_top_terms", { (s, dir) =>
      // distinctive terms per language: corpus-wide document frequency +
      // per-lang term frequency, scored tf × (N/df). The RATIO idf (not
      // ln) is deliberate: a rational of small integers is bit-identical
      // across engines, so the top-5 ranking cannot be perturbed by
      // last-ulp libm differences. Two shuffles total (df by term, tf by
      // (lang, term)); df is distinct-term-sized → broadcast back.
      val docs = tbl(s, dir, "documents")
      val nDocs = docs.count().toDouble
      // checkpoint: the token stream feeds BOTH the df and tf branches —
      // without it each branch re-scans and re-explodes the corpus
      // (CLAUDE.md: materialize shared derived stages, never recompute)
      val toks = docs
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "")
        .localCheckpoint(true)
      val df = toks.groupBy("tok").agg(countDistinct("doc_id").as("df"))
      val tf = toks.groupBy("lang", "tok").agg(count(lit(1)).as("tf"))
      // r17: TWO-LEVEL top-k (guide §8 / r16 verdict item 5). The
      // per-lang window alone sorts the whole (lang, tok) vocabulary in
      // #langs tasks — vocab-scale, single task per lang at 100 TB.
      // Level 1 ranks within (lang, bkt = pmod(xxhash64(tok), 64)) and
      // keeps each bucket's top 5; recall is STRUCTURAL (any tok in the
      // global per-lang top-5 has < 5 bucket rows ahead of it — every
      // row ahead in its bucket is ahead globally), so level 2's
      // unchanged per-lang window runs over <= 5·64 rows per lang.
      // Same (score desc, tok) order both levels ⇒ output identical.
      val scored = tf.join(broadcast(df), "tok")
        .withColumn("score", col("tf") * (lit(nDocs) / col("df")))
      val wb = Window.partitionBy("lang", "bkt")
        .orderBy(col("score").desc, col("tok"))
      val w = Window.partitionBy("lang")
        .orderBy(col("score").desc, col("tok"))
      scored
        .withColumn("bkt", pmod(xxhash64(col("tok")), lit(64)))
        .withColumn("brnk", row_number().over(wb))
        .where(col("brnk") <= 5)
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 5)
        .select("lang", "rnk", "tok", "tf", "df", "score")
        .orderBy("lang", "rnk")
    },
      """WITH toks AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |t AS (SELECT * FROM toks WHERE tok <> ''),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        |tf AS (SELECT lang, tok, count(*) AS tf FROM t GROUP BY lang, tok),
        |scored AS (
        |  SELECT tf.lang, tf.tok, tf.tf, df.df,
        |    tf.tf * ((SELECT CAST(count(*) AS DOUBLE) FROM documents) / df.df) AS score
        |  FROM tf JOIN df ON tf.tok = df.tok),
        |ranked AS (
        |  SELECT lang, tok, tf, df, score,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY score DESC, tok) AS INT) AS rnk
        |  FROM scored)
        |SELECT lang, rnk, tok, tf, df, score
        |FROM ranked WHERE rnk <= 5 ORDER BY lang, rnk""".stripMargin),

    Gate("q_phrase_search", { (s, dir) =>
      // exact two-token phrase search ("sort merge") by token-position
      // adjacency: the token array materializes as a COLUMN first (the
      // derived-expr-in-lambda rule), then adjacent pairs come from
      // zipping two slices of that column — overlapping matches counted,
      // no regex (engine regex dialects diverge; token positions don't).
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      d.withColumn("hits", expr(
          "CAST(size(filter(zip_with(slice(w, 1, size(w) - 1), " +
            "slice(w, 2, size(w) - 1), " +
            "(x, y) -> x = 'sort' AND y = 'merge'), b -> b)) AS BIGINT)"))
        .where(col("hits") > 0)
        .select("doc_id", "hits")
        .orderBy(col("hits").desc, col("doc_id")).limit(20)
    }, phraseOracleSql),

    Gate("q_phrase_search_indexed", { (s, dir) =>
      // the PHRASE lane from the persisted index: a POSITIONAL build
      // adds a (doc_id, tok, positions) tree bucketed by token, and the
      // search reads ONLY the phrase tokens' buckets — hits per doc =
      // |∩_i (positions_i − i)|, the positional-postings conjunction,
      // equal to q_phrase_search's direct adjacency count (oracle
      // shared verbatim). The positional index is the shared read-only
      // fixture (r14: the snippet lane reads it too — read paths never
      // write under it, the roIndexes contract).
      Retrieval.phraseTopKIndexed(s, bm25PosBaseIndex(s, dir),
        Seq("sort", "merge"), 20)
    },
      // positional-postings conjunction == the direct adjacency count
      phraseOracleSql),

    Gate("q_bitmap_intersect", { (s, dir) =>
      // bitmap-index set intersection — the OLAP acceleration primitive
      // (roaring-style, word-packed): per returnflag, order-key sets
      // pack into 32-bits-per-word BIGINT bitmaps (shift ≤ 31 keeps
      // both engines inside ANSI/overflow rules); pairwise intersection
      // cardinality = Σ bit_count(a & b) over aligned words — one
      // distinct pass, one bit_or aggregation, one word-aligned
      // self-join. All-integer, exact.
      val ok = tbl(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"), col("l_orderkey").as("k"))
        .distinct()
      val words = ok
        .groupBy(col("flag"), expr("k div 32").as("w"))
        .agg(expr("bit_or(shiftleft(1L, CAST(k % 32 AS INT)))").as("bits"))
        .localCheckpoint(true) // sizes AND both sides of the pair join
      val sizes = words.groupBy("flag")
        .agg(sum(expr("bit_count(bits)")).cast("long").as("n"))
      words.as("a").join(words.as("b"),
          col("a.w") === col("b.w") && col("a.flag") < col("b.flag"))
        .groupBy(col("a.flag").as("flag_a"), col("b.flag").as("flag_b"))
        .agg(sum(expr("bit_count(a.bits & b.bits)")).cast("long")
          .as("n_common"))
        .join(broadcast(sizes.select(col("flag").as("flag_a"),
          col("n").as("n_a"))), "flag_a")
        .join(broadcast(sizes.select(col("flag").as("flag_b"),
          col("n").as("n_b"))), "flag_b")
        .select("flag_a", "flag_b", "n_a", "n_b", "n_common")
        .orderBy("flag_a", "flag_b")
    },
      // same word-packed bitmaps: bit_or / bit_count / & are exact
      // integer ops on both engines at 32-bit packing
      """WITH ok AS (SELECT DISTINCT l_returnflag AS flag,
        |    l_orderkey AS k FROM lineitem),
        |w AS (SELECT flag, k // 32 AS w,
        |    bit_or(1::BIGINT << CAST(k % 32 AS INT)) AS bits
        |  FROM ok GROUP BY flag, k // 32),
        |sz AS (SELECT flag, CAST(sum(bit_count(bits)) AS BIGINT) AS n
        |  FROM w GROUP BY flag),
        |pr AS (SELECT a.flag AS flag_a, b.flag AS flag_b,
        |    CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT) AS n_common
        |  FROM w a JOIN w b ON a.w = b.w AND a.flag < b.flag
        |  GROUP BY a.flag, b.flag)
        |SELECT pr.flag_a, pr.flag_b, sa.n AS n_a, sb.n AS n_b,
        |  pr.n_common
        |FROM pr JOIN sz sa ON sa.flag = pr.flag_a
        |JOIN sz sb ON sb.flag = pr.flag_b
        |ORDER BY pr.flag_a, pr.flag_b""".stripMargin),

    Gate("q_bm25_topk", { (s, dir) =>
      // keyword retrieval: BM25 top-5 per query (queries = the first 5
      // docs' own text; each recalls itself at rank 1), inverted-index
      // equi-join on token — no doc×query cartesian
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.bm25TopK(docs, broadcast(queries), 5)
        .orderBy("qid", "rnk")
    },
      // BM25: Lucene-form idf; score rounded to 6 before ranking (with
      // doc_id tie-break) so last-ulp ln/sum-order differences can't flip
      // ranks; the score column itself is fp-only
      bm25TopkOracleSql),

    Gate("q_bm25_filtered", { (s, dir) =>
      // attribute-filtered indexed BM25 (r15): candidates restricted to
      // an allowed doc set (doc_id % 3 = 1 stands in for a metadata
      // predicate), corpus stats UNfiltered — surviving docs score
      // identically to q_bm25_indexed; ranking re-fills to k from the
      // allowed pool. Shares the read-only index fixture; the semi-join
      // runs before any term math.
      val work = bm25BaseIndex(s, dir)
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      val allowed = docs.where(col("doc_id") % 3 === 1).select("doc_id")
      Retrieval.bm25TopKIndexedFiltered(s, work, broadcast(queries), 5,
          broadcast(allowed))
        .orderBy("qid", "rnk")
    },
      // the q_bm25_topk recipe with candidates restricted to the allowed
      // residue BEFORE ranking; df/st CTEs stay full-corpus, so surviving
      // scores are the unfiltered lane's verbatim
      """WITH d AS (SELECT doc_id, text FROM documents),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d),
        |t AS (SELECT * FROM toks WHERE tok <> ''),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        |st AS (SELECT (SELECT count(*) FROM d) AS n,
        |    (SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
        |      / (SELECT count(*) FROM d) AS avgdl),
        |q AS (SELECT doc_id AS qid,
        |    unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM d WHERE doc_id < 5),
        |qq AS (SELECT * FROM q WHERE tok <> ''),
        |scored AS (SELECT qq.qid, tf.doc_id,
        |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |  FROM qq JOIN tf ON qq.tok = tf.tok JOIN df ON qq.tok = df.tok
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
        |  WHERE tf.doc_id % 3 = 1
        |  GROUP BY qq.qid, tf.doc_id),
        |r AS (SELECT qid, doc_id, score, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk FROM scored)
        |SELECT qid, doc_id, score, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin),

    Gate("q_bm25_mor", { (s, dir) =>
      // MERGE-ON-READ takedown on the inverted index (r15): decoy
      // copies of the first 20 docs delete as an append-only tombstone
      // sidecar — no postings/doclens bucket rewritten — and the search
      // anti-joins candidates against it. Corpus stats (df, N, avgdl)
      // deliberately stay PHYSICAL until the fold (Delta DV stance), so
      // the oracle scores over docs ∪ decoys and filters candidates.
      // Without the mask every qid's rank-2 would be its own decoy.
      import s.implicits._
      val work = java.nio.file.Files
        .createTempDirectory("graft-bm25-mor").toString + "/idx"
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val decoys = docs.where(col("doc_id") < 20)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      Retrieval.buildIndex(docs.unionByName(decoys), work)
      Retrieval.deleteFromIndexMor(s, work,
        (10000000L until 10000020L).toDF("doc_id"))
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.bm25TopKIndexed(s, work, broadcast(queries), 5)
        .orderBy("qid", "rnk")
    },
      // stats over the PHYSICAL corpus (docs ∪ decoy copies of the first
      // 20 — pending tombstones don't touch df/N/avgdl until the fold),
      // candidates restricted to un-tombstoned docs
      """WITH d AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id < 20),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d),
        |t AS (SELECT * FROM toks WHERE tok <> ''),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        |st AS (SELECT (SELECT count(*) FROM d) AS n,
        |    (SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
        |      / (SELECT count(*) FROM d) AS avgdl),
        |q AS (SELECT doc_id AS qid,
        |    unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents WHERE doc_id < 5),
        |qq AS (SELECT * FROM q WHERE tok <> ''),
        |scored AS (SELECT qq.qid, tf.doc_id,
        |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |  FROM qq JOIN tf ON qq.tok = tf.tok JOIN df ON qq.tok = df.tok
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
        |  WHERE tf.doc_id < 10000000
        |  GROUP BY qq.qid, tf.doc_id),
        |r AS (SELECT qid, doc_id, score, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk FROM scored)
        |SELECT qid, doc_id, score, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin),

    Gate("q_maxsim_rerank", { (s, dir) =>
      // late-interaction retrieval (ColBERT MaxSim, r15): BM25 top-20
      // first stage, then Σ_q max_d token-level dot rerank over
      // md5-derived per-token embeddings (dim 8) — deployed shape:
      // MaxSim reranks a BOUNDED candidate list, never corpus×query
      // token cartesians. Sum folds in BIGINT fixed point; ranks tie on
      // doc_id.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      val cands = Retrieval.bm25TopK(docs, broadcast(queries), 20)
        .select("qid", "doc_id")
      val dTok = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "").distinct()
      val qTok = queries.select(col("qid"),
          explode(split(col("qtext"), " ")).as("tok"))
        .where(col("tok") =!= "").distinct()
      Retrieval.maxSimRerank(cands,
          Retrieval.tokenVectors(qTok, "tok", 8),
          Retrieval.tokenVectors(dTok, "tok", 8), k = 5)
        .orderBy("qid", "rnk")
    },
      // BM25 top-20 candidates (the q_bm25_topk recipe at rnk<=20), then
      // the MaxSim fold: per (qid, q_tok) max of list_dot_product over the
      // candidate doc's tokens, summed as floor(max·1e6) BIGINTs — dots
      // are bit-identical (graft_dot ≡ list_dot_product), the fixed-point
      // sum is order-free, rank ties on doc_id
      """WITH d AS (SELECT doc_id, text FROM documents),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d),
        |t AS (SELECT * FROM toks WHERE tok <> ''),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        |st AS (SELECT (SELECT count(*) FROM d) AS n,
        |    (SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
        |      / (SELECT count(*) FROM d) AS avgdl),
        |q AS (SELECT doc_id AS qid,
        |    unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM d WHERE doc_id < 5),
        |qq AS (SELECT * FROM q WHERE tok <> ''),
        |scored AS (SELECT qq.qid, tf.doc_id,
        |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |  FROM qq JOIN tf ON qq.tok = tf.tok JOIN df ON qq.tok = df.tok
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
        |  GROUP BY qq.qid, tf.doc_id),
        |cand AS (SELECT qid, doc_id FROM (SELECT qid, doc_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)
        |      AS rnk FROM scored) WHERE rnk <= 20),
        |dt AS (SELECT DISTINCT doc_id, tok FROM t),
        |vocab AS (SELECT DISTINCT tok FROM (
        |  SELECT dt.tok FROM dt JOIN cand USING (doc_id)
        |  UNION ALL SELECT tok FROM qq)),
        |tv AS (SELECT tok, list_transform(range(0, 8), dd ->
        |    CAST(('0x' || substring(md5(tok || ':' || CAST(dd AS VARCHAR)),
        |        1, 15))::BIGINT % 2001 - 1000 AS DOUBLE) / 1000.0) AS vec
        |  FROM vocab),
        |dots AS (SELECT cand.qid, cand.doc_id, qq.tok AS q_tok,
        |    max(list_dot_product(qv.vec, dv.vec)) AS mx
        |  FROM cand JOIN qq ON qq.qid = cand.qid
        |    JOIN tv qv ON qv.tok = qq.tok
        |    JOIN dt ON dt.doc_id = cand.doc_id
        |    JOIN tv dv ON dv.tok = dt.tok
        |  GROUP BY cand.qid, cand.doc_id, qq.tok),
        |s AS (SELECT qid, doc_id,
        |    CAST(sum(CAST(floor(mx * 1000000.0) AS BIGINT)) AS BIGINT)
        |      AS maxsim_fp
        |  FROM dots GROUP BY qid, doc_id),
        |r AS (SELECT qid, doc_id, maxsim_fp,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY maxsim_fp DESC, doc_id) AS BIGINT) AS rnk
        |  FROM s)
        |SELECT qid, doc_id, rnk, maxsim_fp FROM r WHERE rnk <= 5
        |ORDER BY qid, rnk""".stripMargin),

    Gate("q_bm25_indexed", { (s, dir) =>
      // BM25 through a MATERIALIZED inverted index: bucketed postings +
      // doclens on disk, search reads ONLY the query tokens' bucket dirs
      // (I/O ∝ matched vocabulary, not corpus) and recomputes df exactly
      // from them; identical scores to q_bm25_topk by construction —
      // same oracle verbatim
      val work = bm25BaseIndex(s, dir)
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.bm25TopKIndexed(s, work, queries, 5)
        .orderBy("qid", "rnk")
    },
      // identical results by construction: the materialized index changes
      // the I/O path (bucket-pruned postings), never the scoring — so the
      // direct lane's oracle applies VERBATIM
      bm25TopkOracleSql),

    Gate("q_bm25_maintained", { (s, dir) =>
      // the inverted index under its FULL LIFECYCLE (the
      // emb_ann_ivf_maintained move for text): build on ⅔ of the corpus
      // plus 100 decoy docs (shifted-id copies — the rows a takedown /
      // dedup purge later removes), append the remaining ⅓, DELETE the
      // decoys via the touched-buckets-only COW lane, then search.
      // Final index content ≡ the full corpus, so scores match
      // q_bm25_topk verbatim — same oracle; post-delete ≡ fresh-build
      // is additionally pinned in OperatorsSpec.
      val work = java.nio.file.Files
        .createTempDirectory("graft-bm25-mnt").toString + "/idx"
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val decoys = docs.where(col("doc_id") < 100)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      Retrieval.buildIndex(
        docs.where(col("doc_id") % 3 < 2).unionByName(decoys), work)
      Retrieval.appendToIndex(docs.where(col("doc_id") % 3 === 2), work)
      import s.implicits._
      Retrieval.deleteFromIndex(s, work,
        (10000000L until 10000100L).toDF("doc_id"))
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.bm25TopKIndexed(s, work, queries, 5)
        .orderBy("qid", "rnk")
    },
      // maintained index ≡ full corpus after the decoy delete — same oracle
      bm25TopkOracleSql),

    Gate("q_lm_dirichlet", { (s, dir) =>
      // Dirichlet-smoothed query-likelihood ranking (the LM scoring
      // family next to BM25 — rank-equivalent matched-terms form):
      // qtf·ln(1 + tf·|C|/(μ·cf)) summed over shared terms plus the
      // qlen·ln(μ/(dl+μ)) length norm, round-6 + doc_id rank key. All
      // inputs exact integers; the oracle recomputes the expression
      // verbatim.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.lmDirichletTopK(docs, broadcast(queries), 5)
        .orderBy("qid", "rnk")
    }, lmDirichletOracleSql),

    Gate("q_lm_dirichlet_indexed", { (s, dir) =>
      // the same LM scoring served from the persisted index: tf/dl ride
      // in the posting rows, cf is exact from each token's home bucket,
      // |C| is the stats sidecar's sum_dl — nothing corpus-sized on the
      // serving path, scores identical ⇒ oracle shared verbatim.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.lmDirichletTopKIndexed(s, bm25BaseIndex(s, dir), queries, 5)
        .orderBy("qid", "rnk")
    },
      // indexed LM changes only the I/O path (postings tf/dl, per-bucket
      // exact cf, sidecar |C|) — scores identical, oracle verbatim
      lmDirichletOracleSql),

    Gate("q_map_eval", { (s, dir) =>
      // mean-average-precision eval (the set-retrieval metric next to
      // q_mrr_eval's single-relevant rank and q_ndcg_eval's graded
      // gain): same mid-slice queries and same-source relevance as the
      // nDCG gate, AP@10 in EXACT integer ppm — P@k fractions share
      // denominator lcm(1..10) = 2520, so ap_ppm = (10⁶·Σ_{k rel}
      // hits_k·(2520 div k)) div (min(R,10)·2520), pure BIGINT on both
      // engines.
      val docs = tbl(s, dir, "documents").select("doc_id", "source", "text")
      val queries = docs.where(col("doc_id") < 20)
        .select(col("doc_id").as("qid"), col("source").as("qsource"),
          expr("concat_ws(' ', slice(split(text, ' '), 5, 8))").as("qtext"))
        .localCheckpoint(true) // feeds the run, the grades AND R
      val run = Retrieval.bm25TopK(docs.select("doc_id", "text"),
        broadcast(queries.select("qid", "qtext")), 10)
      val graded = run
        .join(broadcast(queries.select("qid", "qsource")), "qid")
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .withColumn("rel",
          when(col("doc_id") === col("qid") ||
            col("source") === col("qsource"), 1L).otherwise(0L))
      val wcum = Window.partitionBy("qid").orderBy("rnk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ap = graded
        .withColumn("hits_k", sum("rel").over(wcum))
        .groupBy("qid")
        .agg(sum(when(col("rel") === 1L,
            col("hits_k") * expr("2520L div rnk")).otherwise(0L))
          .as("ap_num"),
          sum("rel").as("n_rel_in_10"))
      val nSame = docs.groupBy("source").agg(count(lit(1)).as("ns"))
      queries.join(broadcast(nSame), col("qsource") === col("source"))
        .select(col("qid"), col("ns"))
        .join(ap, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_rel_in_10"), lit(0L)).as("n_rel_in_10"),
          expr("coalesce(ap_num, 0L) * 1000000L div (least(ns, 10L) * 2520L)")
            .as("ap_ppm"))
        .orderBy("qid")
    },
      // the ndcg oracle's bm25 run, folded to AP@10 in exact integer
      // ppm: P@k fractions share denominator lcm(1..10) = 2520
      """WITH d AS (SELECT doc_id, source, text FROM documents),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM d),
        |t AS (SELECT * FROM toks WHERE tok <> ''),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        |st AS (SELECT (SELECT count(*) FROM d) AS n,
        |    (SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
        |      / (SELECT count(*) FROM d) AS avgdl),
        |qd AS (SELECT doc_id AS qid, source AS qsource,
        |    array_to_string(string_split(text, ' ')[5:12], ' ') AS qtext
        |  FROM d WHERE doc_id < 20),
        |q AS (SELECT qid, unnest(list_distinct(string_split(qtext, ' ')))
        |    AS tok FROM qd),
        |qq AS (SELECT * FROM q WHERE tok <> ''),
        |scored AS (SELECT qq.qid, tf.doc_id,
        |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |  FROM qq JOIN tf ON qq.tok = tf.tok JOIN df ON qq.tok = df.tok
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
        |  GROUP BY qq.qid, tf.doc_id),
        |run AS (SELECT qid, doc_id, rnk FROM (SELECT qid, doc_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)
        |      AS rnk FROM scored) WHERE rnk <= 10),
        |graded AS (SELECT run.qid, run.rnk,
        |    CASE WHEN run.doc_id = run.qid OR dd.source = qd.qsource
        |      THEN 1 ELSE 0 END AS rel
        |  FROM run JOIN d dd ON dd.doc_id = run.doc_id
        |  JOIN qd ON qd.qid = run.qid),
        |cum AS (SELECT qid, rnk, rel, sum(rel) OVER (PARTITION BY qid
        |    ORDER BY rnk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS hits_k FROM graded),
        |ap AS (SELECT qid,
        |    CAST(sum(CASE WHEN rel = 1 THEN hits_k * (2520 // rnk)
        |      ELSE 0 END) AS BIGINT) AS ap_num,
        |    CAST(sum(rel) AS BIGINT) AS n_rel_in_10
        |  FROM cum GROUP BY qid),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS ns FROM d
        |  GROUP BY source)
        |SELECT qd.qid, coalesce(ap.n_rel_in_10, 0) AS n_rel_in_10,
        |  CAST(coalesce(ap.ap_num, 0) * 1000000
        |    // (least(ns.ns, 10) * 2520) AS BIGINT) AS ap_ppm
        |FROM qd JOIN ns ON ns.source = qd.qsource
        |LEFT JOIN ap ON ap.qid = qd.qid
        |ORDER BY qd.qid""".stripMargin),

    Gate("q_hybrid_rrf", { (s, dir) =>
      // hybrid search: reciprocal-rank fusion of the BM25 top-20 and the
      // exact-cosine top-20 per query (doc_id ≡ vec_id in the testdata);
      // rrf sums two exact rationals in fixed order — hash-exact oracle
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      val b20 = Retrieval.bm25TopK(docs, broadcast(queries), 20)
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val qv = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      val c20 = Similarity.cosineTopK(e, broadcast(qv), 20)
        .select(col("qid"), col("cid").as("doc_id"), col("rnk"))
      Retrieval.hybridRrf(b20, c20, 10).orderBy("qid", "rnk")
    },
      // hybrid RRF: same BM25 CTEs at top-20 + exact-cosine top-20, fused
      // as 1/(60+rank) sums — exact rationals, hash-exact
      hybridRrfOracleSql),

    Gate("q_hybrid_rrf_indexed", { (s, dir) =>
      // the PRODUCTION hybrid serving topology (the r12 gap: every
      // retrieval fusion lane ran direct over the corpus): BOTH lanes
      // come from the persisted indexes — BM25 reads only its query
      // tokens' postings buckets + the stats sidecar marker, the dense
      // lane reads the flat IVF cells at FULL probe (exact, stored
      // norms) — so the fused ranking shares q_hybrid_rrf's oracle
      // verbatim while the plan shows the index pruning.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      val b20 = Retrieval.bm25TopKIndexed(s, bm25BaseIndex(s, dir),
        queries, 20)
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val qv = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      val c20 = Similarity.ivfIndexTopKExact(s, ivfBaseIndex(s, dir), qv, 20)
        .select(col("qid"), col("cid").as("doc_id"), col("rnk"))
      Retrieval.hybridRrf(b20, c20, 10).orderBy("qid", "rnk")
    },
      // both lanes from the persisted indexes; bm25 indexed ≡ direct and the
      // flat index at full probe is exact — same fusion, same oracle verbatim
      hybridRrfOracleSql),

    Gate("q_bm25_prf", { (s, dir) =>
      // pseudo-relevance feedback (the RM3-shaped expansion loop every
      // production retrieval stack runs): first-pass BM25 top-3 are the
      // feedback docs, the 2 most frequent feedback-doc tokens NOT in
      // the query (exact integer counts, token-asc tie) expand it, and
      // the expanded query re-scores. Composes bm25TopK twice — the
      // expansion is metadata-scale (queries × top-3 docs; the token
      // join broadcasts the feedback list against the corpus explode).
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      val fb = Retrieval.bm25TopK(docs, broadcast(queries), 3)
        .select("qid", "doc_id")
      val toks = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "")
      val ftf = broadcast(fb).join(toks, "doc_id")
        .groupBy("qid", "tok").agg(count(lit(1)).as("ftf"))
      val qtok0 = queries.select(col("qid"),
          explode(array_distinct(split(col("qtext"), " "))).as("tok"))
        .where(col("tok") =!= "")
      val wexp = Window.partitionBy("qid")
        .orderBy(col("ftf").desc, col("tok"))
      val exp = ftf.join(qtok0, Seq("qid", "tok"), "left_anti")
        .withColumn("rn", row_number().over(wexp))
        .where(col("rn") <= 2)
        .groupBy("qid")
        .agg(concat_ws(" ", sort_array(collect_list("tok"))).as("extra"))
      val expanded = queries.join(broadcast(exp), Seq("qid"), "left")
        .select(col("qid"),
          concat_ws(" ", col("qtext"), coalesce(col("extra"), lit("")))
            .as("qtext"))
      Retrieval.bm25TopK(docs, broadcast(expanded), 5)
        .orderBy("qid", "rnk")
    }, bm25PrfOracleSql),

    Gate("q_bm25_prf_indexed", { (s, dir) =>
      // PRF over the persisted index (the r13 gap: the expansion loop
      // ran the direct corpus-scan BM25): both scoring passes are the
      // bucket-pruned bm25TopKIndexed lane; feedback-doc term vectors
      // come from the forward doc store (3 rows per query by id — the
      // inverted tree is token-major). The expansion rule is identical,
      // so q_bm25_prf's oracle is shared verbatim.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.bm25PrfTopKIndexed(s, bm25BaseIndex(s, dir), docs,
        queries, 5)
        .orderBy("qid", "rnk")
    },
      // the indexed PRF changes only the I/O path (bucket-pruned scoring
      // passes + forward-store feedback fetch), never the expansion rule
      // or the scores — direct oracle verbatim
      bm25PrfOracleSql),

    Gate("q_bm25_snippets_indexed", { (s, dir) =>
      // snippet extraction from the POSITIONAL index: ranking via
      // bm25TopKIndexed, hit positions read from the query tokens'
      // positions buckets — NO doc text touched on the serving path.
      // Window election identical to q_bm25_snippets; oracle shared
      // verbatim.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.snippetTopKIndexed(s, bm25PosBaseIndex(s, dir), queries, 8)
        .orderBy("qid")
    },
      // positional-index snippets: same election over the same positions
      // (assigned BEFORE the empty-token filter on both sides) — verbatim
      bm25SnippetsOracleSql),

    Gate("q_bm25_snippets", { (s, dir) =>
      // snippet extraction — the serving feature after ranking: in each
      // query's BM25 top-1 doc, elect the 8-token window with the most
      // query-term hits (window starts at a matched position — a
      // maximizing window always can — ties to the earliest start).
      // All-integer scoring: matched positions self-join within the
      // window span, count, elect (hits desc, start asc). Work is
      // queries × matches-in-one-doc — list-scale.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      val top1 = Retrieval.bm25TopK(docs, broadcast(queries), 1)
        .select("qid", "doc_id")
      val toks = docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos0", "tok")))
        .where(col("tok") =!= "")
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
          col("tok"))
      val qtok = queries.select(col("qid"),
          explode(array_distinct(split(col("qtext"), " "))).as("tok"))
        .where(col("tok") =!= "")
      val m = broadcast(top1).join(toks, "doc_id")
        .join(qtok, Seq("qid", "tok"))
        .select("qid", "doc_id", "pos")
        .localCheckpoint(true) // both sides of the window self-join
      val w = Window.partitionBy("qid", "doc_id")
        .orderBy(col("n_hits").desc, col("snip_start"))
      m.as("a").join(m.as("b"),
          col("a.qid") === col("b.qid") &&
            col("a.doc_id") === col("b.doc_id") &&
            col("b.pos") >= col("a.pos") &&
            col("b.pos") < col("a.pos") + 8)
        .groupBy(col("a.qid").as("qid"), col("a.doc_id").as("doc_id"),
          col("a.pos").as("snip_start"))
        .agg(count(lit(1)).as("n_hits"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1).drop("rn")
        .orderBy("qid")
    }, bm25SnippetsOracleSql),

    Gate("q_ndcg_eval", { (s, dir) =>
      // graded-relevance ranking eval (nDCG@10) — the eval the MRR/
      // recall pair lacks: queries are the q_mrr_eval mid-slices, and
      // relevance grades are exactly derivable on both engines (3 =
      // the source doc itself, 1 = any doc from the same `source`
      // corpus, 0 otherwise). DCG folds 1/log2(rank+1) over the BM25
      // top-10; the ideal DCG is closed-form from the same-source count
      // (one 3 plus min(9, n_same−1) ones in the best positions).
      // round(4) absorbs sum-order ulps (the zipf float discipline).
      val docs = tbl(s, dir, "documents").select("doc_id", "source", "text")
      val queries = docs.where(col("doc_id") < 20)
        .select(col("doc_id").as("qid"), col("source").as("qsource"),
          expr("concat_ws(' ', slice(split(text, ' '), 5, 8))").as("qtext"))
        .localCheckpoint(true) // feeds the run, the grades AND idcg
      val run = Retrieval.bm25TopK(docs.select("doc_id", "text"),
        broadcast(queries.select("qid", "qtext")), 10)
      val graded = run
        .join(broadcast(queries.select("qid", "qsource")), "qid")
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .withColumn("rel",
          when(col("doc_id") === col("qid"), 3.0)
            .when(col("source") === col("qsource"), 1.0).otherwise(0.0))
      val dcg = graded.groupBy("qid")
        .agg(sum(expr("rel / log2(CAST(rnk AS DOUBLE) + 1.0)")).as("dcg"),
          sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_rel_in_10"))
      val nSame = docs.groupBy("source").agg(count(lit(1)).as("ns"))
      queries.join(broadcast(nSame),
          col("qsource") === col("source"))
        .select(col("qid"), col("ns"))
        .join(dcg, Seq("qid"), "left")
        .withColumn("idcg", lit(3.0) +
          when(col("ns") >= 2, expr(
            "aggregate(sequence(2, CAST(least(10L, ns) AS INT)), 0D," +
              " (a, i) -> a + 1.0 / log2(CAST(i AS DOUBLE) + 1.0))"))
            .otherwise(lit(0.0)))
        .select(col("qid"),
          coalesce(col("n_rel_in_10"), lit(0L)).as("n_rel_in_10"),
          round(coalesce(col("dcg"), lit(0.0)) / col("idcg"), 4).as("ndcg"))
        .orderBy("qid")
    },
      // same grades/fold; list_sum over range ≡ the sequential aggregate
      """WITH d AS (SELECT doc_id, source, text FROM documents),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM d),
        |t AS (SELECT * FROM toks WHERE tok <> ''),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        |st AS (SELECT (SELECT count(*) FROM d) AS n,
        |    (SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
        |      / (SELECT count(*) FROM d) AS avgdl),
        |qd AS (SELECT doc_id AS qid, source AS qsource,
        |    array_to_string(string_split(text, ' ')[5:12], ' ') AS qtext
        |  FROM d WHERE doc_id < 20),
        |q AS (SELECT qid, unnest(list_distinct(string_split(qtext, ' ')))
        |    AS tok FROM qd),
        |qq AS (SELECT * FROM q WHERE tok <> ''),
        |scored AS (SELECT qq.qid, tf.doc_id,
        |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |  FROM qq JOIN tf ON qq.tok = tf.tok JOIN df ON qq.tok = df.tok
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
        |  GROUP BY qq.qid, tf.doc_id),
        |run AS (SELECT qid, doc_id, rnk FROM (SELECT qid, doc_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)
        |      AS rnk FROM scored) WHERE rnk <= 10),
        |graded AS (SELECT run.qid, run.rnk,
        |    CASE WHEN run.doc_id = run.qid THEN 3.0
        |      WHEN dd.source = qd.qsource THEN 1.0 ELSE 0.0 END AS rel
        |  FROM run JOIN d dd ON dd.doc_id = run.doc_id
        |  JOIN qd ON qd.qid = run.qid),
        |dcg AS (SELECT qid,
        |    sum(rel / log2(CAST(rnk AS DOUBLE) + 1.0)) AS dcg,
        |    CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_rel_in_10
        |  FROM graded GROUP BY qid),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS ns FROM d
        |  GROUP BY source)
        |SELECT qd.qid,
        |  coalesce(dcg.n_rel_in_10, 0) AS n_rel_in_10,
        |  round(coalesce(dcg.dcg, 0.0) /
        |    (3.0 + CASE WHEN ns.ns >= 2 THEN coalesce(list_sum(
        |      list_transform(range(2, CAST(least(10, ns.ns) AS BIGINT) + 1),
        |        i -> 1.0 / log2(CAST(i AS DOUBLE) + 1.0))), 0.0)
        |      ELSE 0.0 END), 4) AS ndcg
        |FROM qd JOIN ns ON ns.source = qd.qsource
        |LEFT JOIN dcg ON dcg.qid = qd.qid
        |ORDER BY qd.qid""".stripMargin),

    Gate("q_mrr_eval", { (s, dir) =>
      // the retrieval eval harness (emb_ann_recall's keyword sibling):
      // queries are 8-word MID-SLICES (words 5..12) of the first 20
      // docs, ground truth = the source doc; report the source doc's
      // rank in the BM25 top-10, MRR in exact ppm (10⁶ div rank, 0 on
      // miss), and hit@3. Rank ties resolve on the rounded score with
      // the doc_id tiebreak — the bm25TopK convention — so the rank is
      // deterministic cross-engine.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val queries = docs.where(col("doc_id") < 20)
        .select(col("doc_id").as("qid"),
          expr("concat_ws(' ', slice(split(text, ' '), 5, 8))").as("qtext"))
      val rel = Retrieval.bm25TopK(docs, broadcast(queries), 10)
        .where(col("doc_id") === col("qid"))
        .select(col("qid"), col("rnk").as("rel_rank"))
      queries.select("qid").join(broadcast(rel), Seq("qid"), "left")
        .withColumn("rel_rank", coalesce(col("rel_rank"), lit(0L)))
        .withColumn("mrr_ppm", when(col("rel_rank") > 0,
          expr("1000000 div rel_rank")).otherwise(lit(0L)))
        .withColumn("hit3", col("rel_rank").between(1, 3))
        .orderBy("qid")
    },
      // bm25TopkOracleSql's CTE chain with mid-slice queries (words
      // 5..12 of the first 20 docs), evaluated against the source doc
      """WITH d AS (SELECT doc_id, text FROM documents),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d),
        |t AS (SELECT * FROM toks WHERE tok <> ''),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        |st AS (SELECT (SELECT count(*) FROM d) AS n,
        |    (SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
        |      / (SELECT count(*) FROM d) AS avgdl),
        |q AS (SELECT doc_id AS qid, unnest(list_distinct(
        |    string_split(array_to_string(string_split(text, ' ')[5:12], ' '),
        |      ' '))) AS tok
        |  FROM d WHERE doc_id < 20),
        |qq AS (SELECT * FROM q WHERE tok <> ''),
        |scored AS (SELECT qq.qid, tf.doc_id,
        |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |  FROM qq JOIN tf ON qq.tok = tf.tok JOIN df ON qq.tok = df.tok
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
        |  GROUP BY qq.qid, tf.doc_id),
        |r AS (SELECT qid, doc_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk FROM scored),
        |rel AS (SELECT qid, CAST(rnk AS BIGINT) AS rel_rank FROM r
        |  WHERE doc_id = qid AND rnk <= 10),
        |qs AS (SELECT DISTINCT doc_id AS qid FROM d WHERE doc_id < 20)
        |SELECT qs.qid, coalesce(rel.rel_rank, 0) AS rel_rank,
        |  CASE WHEN coalesce(rel.rel_rank, 0) > 0
        |    THEN 1000000 // rel.rel_rank ELSE 0 END AS mrr_ppm,
        |  coalesce(rel.rel_rank, 0) BETWEEN 1 AND 3 AS hit3
        |FROM qs LEFT JOIN rel ON rel.qid = qs.qid ORDER BY qs.qid""".stripMargin),

    Gate("q_zorder_key", { (s, dir) =>
      // Z-order layout key: bit-interleave (custkey, order-day) — the
      // sort key that keeps parquet min/max boxes tight in BOTH filter
      // dimensions (Layout.zorderWrite); pure codegen projection
      tbl(s, dir, "orders")
        .select(col("o_orderkey"),
          graft.operators.Layout.zorderKey(col("o_custkey"),
            datediff(col("o_orderdate"), lit("1970-01-01")), 16).as("zkey"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
        |  CAST(list_sum(list_transform(range(0, 16), i ->
        |    (((o_custkey >> i) & 1) << (2 * i + 1))
        |    + (((d >> i) & 1) << (2 * i)))) AS BIGINT) AS zkey
        |FROM (SELECT o_orderkey, o_custkey,
        |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
        |      AS d
        |  FROM orders)
        |ORDER BY o_orderkey""".stripMargin),

    Gate("q_merge_upsert", { (s, dir) =>
      // copy-on-write MERGE: a deterministic changelog (updates, a
      // higher-version overwrite, deletes, inserts) applied to a
      // key-bucketed parquet table; only changelog-named buckets are
      // read/rewritten (Mutations.mergeIntoPartitioned), read back under
      // the oracle's pure last-write-wins SQL
      import graft.operators.Mutations
      val work = java.nio.file.Files
        .createTempDirectory("graft-merge-q").toString + "/tbl"
      val o = tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val pexpr = pmod(col("o_orderkey"), lit(8L))
      o.withColumn("bucket", pexpr).repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(work)
      val upd = o.where(col("o_orderkey") % 7 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("op", lit("U")).withColumn("version", lit(1L))
      val upd2 = o.where(col("o_orderkey") % 21 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 5000.0)
        .withColumn("op", lit("U")).withColumn("version", lit(2L))
      val del = o.where(col("o_orderkey") % 7 === 2)
        .withColumn("op", lit("D")).withColumn("version", lit(1L))
      val ins = o.where(col("o_orderkey") % 7 === 3)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_custkey"), lit(42.0).as("o_totalprice"),
          lit("N").as("o_orderstatus"),
          lit("U").as("op"), lit(1L).as("version"))
      Mutations.mergeIntoPartitioned(s, work,
        upd.unionByName(upd2).unionByName(del).unionByName(ins),
        Seq("o_orderkey"), pexpr)
      Mutations.readPartitioned(s, work, o.schema).orderBy("o_orderkey")
    },
      // pure last-write-wins SQL over the same deterministic changelog;
      // the engine side applies it copy-on-write per bucket — results
      // must be identical
      """WITH o AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |    FROM orders),
        |ch AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice,
        |      o_orderstatus, 'U' AS op, 1 AS version
        |    FROM o WHERE o_orderkey % 7 = 1
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice + 5000.0, o_orderstatus,
        |      'U', 2 FROM o WHERE o_orderkey % 21 = 1
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 'D', 1
        |    FROM o WHERE o_orderkey % 7 = 2
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, 42.0, 'N', 'U', 1
        |    FROM o WHERE o_orderkey % 7 = 3),
        |latest AS (SELECT * FROM ch QUALIFY row_number() OVER (
        |    PARTITION BY o_orderkey ORDER BY version DESC, op DESC,
        |      o_custkey DESC, o_totalprice DESC, o_orderstatus DESC) = 1)
        |SELECT coalesce(c.o_orderkey, o.o_orderkey) AS o_orderkey,
        |  CASE WHEN c.op = 'U' THEN c.o_custkey ELSE o.o_custkey END AS o_custkey,
        |  CASE WHEN c.op = 'U' THEN c.o_totalprice ELSE o.o_totalprice END AS o_totalprice,
        |  CASE WHEN c.op = 'U' THEN c.o_orderstatus ELSE o.o_orderstatus END AS o_orderstatus
        |FROM o FULL OUTER JOIN latest c ON o.o_orderkey = c.o_orderkey
        |WHERE c.op IS NULL OR c.op = 'U'
        |ORDER BY o_orderkey""".stripMargin),

    Gate("q_time_travel", { (s, dir) =>
      // lakehouse time travel: three committed versions of a bucketed
      // orders table (init → update+delete → update+insert), every
      // snapshot re-read BY VERSION from the transaction log — unchanged
      // buckets are shared across versions, never rewritten
      // (VersionedTable). Money is exact integer cents (BIGINT) per the
      // cross-engine decimal invariant.
      import graft.operators.VersionedTable
      val (work, schema) = timeTravelTable(s, dir)
      (0L to 2L).map { v =>
        VersionedTable.readAt(s, work, schema, v)
          .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_cents"))
      }.reduce(_ unionByName _).orderBy("version")
    },
      // relational recomputation of each committed snapshot: v1 =
      // update(%7=1, +1000) + delete(%7=2); v2 = v1 + update(%21=1, a
      // further +5000 on the ORIGINAL cents => +6000) + inserts(%7=3)
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |v1 AS (SELECT k,
        |    CASE WHEN k % 7 = 1 THEN cents + 1000 ELSE cents END AS cents
        |  FROM base WHERE k % 7 <> 2),
        |v2 AS (
        |  SELECT k, CASE WHEN k % 21 = 1 THEN cents + 6000
        |                 WHEN k % 7 = 1 THEN cents + 1000
        |                 ELSE cents END AS cents
        |    FROM base WHERE k % 7 <> 2
        |  UNION ALL
        |  SELECT k + 100000000, 4242 FROM base WHERE k % 7 = 3)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows,
        |      CAST(sum(cents) AS BIGINT) AS sum_cents FROM base
        |  UNION ALL
        |  SELECT 1, count(*), CAST(sum(cents) AS BIGINT) FROM v1
        |  UNION ALL
        |  SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM v2)
        |ORDER BY version""".stripMargin),

    Gate("q_mor_delete", { (s, dir) =>
      // MERGE-ON-READ deletes (r15): two deletes commit as
      // deletion-vector sidecars (keys only — NO bucket rewrite; at
      // 100 TB a compliance-delete of 100 rows must not COW whole
      // buckets), reads anti-join the active DVs; a merge touching
      // bucket 1 folds its DVs into data, and compactDeletes COW-folds
      // the rest past the threshold. v4 ≡ v3 content pins the fold;
      // v1/v2 reads exercise the masked lane. Private table (mutation
      // gate). Money stays exact integer cents.
      import graft.operators.VersionedTable
      val work = java.nio.file.Files
        .createTempDirectory("graft-mor-q").toString + "/tbl"
      val base = tbl(s, dir, "orders").select(col("o_orderkey").as("k"),
        (col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"))
      val pexpr = pmod(col("k"), lit(16L))
      VersionedTable.init(s, work, base, pexpr)
      VersionedTable.deleteMergeOnRead(s, work,
        base.where(col("k") % 7 === 2).select("k"), pexpr)
      VersionedTable.deleteMergeOnRead(s, work,
        base.where(col("k") % 7 === 4).select("k"), pexpr)
      // k % 112 == 1 ⇒ bucket 1 only: the rewrite folds JUST that
      // bucket's DVs, leaving the rest for the threshold compaction
      val upd = base.where(col("k") % 112 === 1)
        .withColumn("cents", col("cents") + 6000L)
        .withColumn("op", lit("U")).withColumn("version", lit(3L))
      VersionedTable.merge(s, work, upd, Seq("k"), pexpr)
      VersionedTable.compactDeletes(s, work,
        org.apache.spark.sql.types.StructType(base.schema.fields), pexpr,
        minDvPerBucket = 1)
      val schema = org.apache.spark.sql.types.StructType(base.schema.fields)
      (0L to 4L).map { v =>
        VersionedTable.readAt(s, work, schema, v)
          .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_cents"))
      }.reduce(_ unionByName _).orderBy("version")
    },
      // relational replay: v1/v2 subtract the deleted residues (DV-masked
      // reads), v3 updates the single-bucket residue, v4 (the DV-fold
      // compaction) is content-identical to v3
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |v1 AS (SELECT * FROM base WHERE k % 7 <> 2),
        |v2 AS (SELECT * FROM v1 WHERE k % 7 <> 4),
        |v3 AS (SELECT k, CASE WHEN k % 112 = 1 THEN cents + 6000
        |                 ELSE cents END AS cents FROM v2)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows,
        |      CAST(sum(cents) AS BIGINT) AS sum_cents FROM base
        |  UNION ALL
        |  SELECT 1, count(*), CAST(sum(cents) AS BIGINT) FROM v1
        |  UNION ALL
        |  SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM v2
        |  UNION ALL
        |  SELECT 3, count(*), CAST(sum(cents) AS BIGINT) FROM v3
        |  UNION ALL
        |  SELECT 4, count(*), CAST(sum(cents) AS BIGINT) FROM v3)
        |ORDER BY version""".stripMargin),

    Gate("q_mor_stream", { (s, dir) =>
      // STREAMING takedown feed over the versioned table (r15): delete
      // keys arrive in micro-batches and apply as merge-on-read DV
      // commits (no bucket rewrites in the hot path); every 2nd batch
      // folds accumulated DVs through compactDeletes (the in-loop
      // compactEvery move). Deletes are naturally idempotent — a
      // re-delivered batch re-masks already-deleted keys, a no-op at
      // read time (batch 1 is re-delivered here to prove it) — so no
      // batch-id commit gate is needed, unlike the append lanes.
      import s.implicits._
      implicit val ctx = s.sqlContext
      import graft.operators.VersionedTable
      val work = java.nio.file.Files
        .createTempDirectory("graft-mor-stream").toString + "/tbl"
      val base = tbl(s, dir, "orders").select(col("o_orderkey").as("k"),
        (col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"))
      val pexpr = pmod(col("k"), lit(16L))
      val schema = org.apache.spark.sql.types.StructType(base.schema.fields)
      VersionedTable.init(s, work, base, pexpr)
      def keys(m: Long) = base.where(col("k") % 7 === m)
        .select("k").as[Long].collect().toSeq
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Long]
      val q = mem.toDF.toDF("k").writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          VersionedTable.deleteMergeOnRead(s, work, b.select("k"), pexpr)
          if (id % 2 == 1)
            VersionedTable.compactDeletes(s, work, schema, pexpr,
              minDvPerBucket = 1)
          ()
        }
        .option("checkpointLocation", s"$work/../ckpt").start()
      try {
        mem.addData(keys(2)); q.processAllAvailable()
        mem.addData(keys(4)); q.processAllAvailable()
        mem.addData(keys(2)); q.processAllAvailable() // re-delivery
      } finally q.stop()
      VersionedTable.readAt(s, work, schema)
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
    },
      // final content after the streamed DV deletes (+ idempotent
      // re-delivery) and in-loop folds
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders)
        |SELECT count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM base WHERE k % 7 <> 2 AND k % 7 <> 4""".stripMargin),

    Gate("q_mor_cdc", { (s, dir) =>
      // CDC across merge-on-read deletes (r15): the q_mor_delete fixture
      // shape, diffed v0 → v3 — DV deletes surface as 'D' rows (no
      // bucket was ever rewritten for them), the single-bucket merge as
      // 'U' rows; the diff reads only buckets the log (incl. dv lists)
      // names as touched.
      import graft.operators.VersionedTable
      val work = java.nio.file.Files
        .createTempDirectory("graft-morcdc-q").toString + "/tbl"
      val base = tbl(s, dir, "orders").select(col("o_orderkey").as("k"),
        (col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"))
      val pexpr = pmod(col("k"), lit(16L))
      VersionedTable.init(s, work, base, pexpr)
      VersionedTable.deleteMergeOnRead(s, work,
        base.where(col("k") % 7 === 2).select("k"), pexpr)
      VersionedTable.deleteMergeOnRead(s, work,
        base.where(col("k") % 7 === 4).select("k"), pexpr)
      val upd = base.where(col("k") % 112 === 1)
        .withColumn("cents", col("cents") + 6000L)
        .withColumn("op", lit("U")).withColumn("version", lit(3L))
      VersionedTable.merge(s, work, upd, Seq("k"), pexpr)
      val schema = org.apache.spark.sql.types.StructType(base.schema.fields)
      VersionedTable.changes(s, work, schema, Seq("k"), 0L, 3L)
        .orderBy("k")
    },
      // DV deletes diff as 'D' (before payload, NULL after), the
      // single-bucket merge as 'U'; residues are disjoint by construction
      // (k%112=1 ⇒ k%7=1)
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT k, cents AS before_cents, CAST(NULL AS BIGINT) AS after_cents,
        |      'D' AS change_op
        |    FROM base WHERE k % 7 = 2 OR k % 7 = 4
        |  UNION ALL
        |  SELECT k, cents, cents + 6000, 'U' FROM base WHERE k % 112 = 1)
        |ORDER BY k""".stripMargin),

    Gate("q_table_cdc", { (s, dir) =>
      // change-data-capture between snapshots v0 → v2 of the same
      // versioned table: the log names the buckets the window touched,
      // so the diff scans the churn, never the table; per-key I/U/D rows
      // with before/after payloads
      import graft.operators.VersionedTable
      val (work, schema) = timeTravelTable(s, dir)
      VersionedTable.changes(s, work, schema, Seq("k"), 0L, 2L)
        .select("k", "change_op", "before_cents", "after_cents")
        .orderBy("k")
    },
      // the v0→v2 diff is closed-form from the same change recipe:
      // %7=1 updated (+1000, +6000 where %21=1), %7=2 deleted, %7=3
      // cloned to k+1e8 as inserts; all other keys untouched
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT k, 'U' AS change_op, cents AS before_cents,
        |      cents + CASE WHEN k % 21 = 1 THEN 6000 ELSE 1000 END AS after_cents
        |    FROM base WHERE k % 7 = 1
        |  UNION ALL
        |  SELECT k, 'D', cents, CAST(NULL AS BIGINT) FROM base WHERE k % 7 = 2
        |  UNION ALL
        |  SELECT k + 100000000, 'I', CAST(NULL AS BIGINT), 4242
        |    FROM base WHERE k % 7 = 3)
        |ORDER BY k""".stripMargin),

    Gate("q_fingerprint_incremental", { (s, dir) =>
      // versioned-table audit WITHOUT a rescan: the xor row-hash
      // fingerprint is mergeable, so fp(v2) = fp(v0) xor
      // fold(before-hash xor after-hash over the v0→v2 CDC) — the
      // 100 TB story is auditing a new version by folding the churn,
      // never re-reading the table. Both lanes computed and compared:
      // a green row proves direct ≡ incremental on real CDC output.
      import graft.operators.VersionedTable
      val (work, schema) = timeTravelTable(s, dir)
      def h(k: String, cents: String): org.apache.spark.sql.Column =
        expr(s"CAST(conv(substring(md5(CAST(concat(CAST($k AS STRING), " +
          s"':', CAST($cents AS STRING)) AS BINARY)), 1, 15), 16, 10) " +
          "AS BIGINT)")
      def fp(df: DataFrame, out: String) =
        df.withColumn("h", h("k", "cents"))
          .agg(expr("bit_xor(h)").as(out))
      val fp0 = fp(VersionedTable.readAt(s, work, schema, 0L), "fp_v0")
      val fpd = fp(VersionedTable.readAt(s, work, schema, 2L),
        "fp_v2_direct")
      val delta = VersionedTable.changes(s, work, schema, Seq("k"), 0L, 2L)
        .withColumn("hb", when(col("before_cents").isNotNull,
          h("k", "before_cents")).otherwise(lit(0L)))
        .withColumn("ha", when(col("after_cents").isNotNull,
          h("k", "after_cents")).otherwise(lit(0L)))
        .agg(expr("bit_xor(hb ^ ha)").as("delta"))
      fp0.crossJoin(fpd).crossJoin(delta)
        .withColumn("fp_v2_incremental", expr("fp_v0 ^ delta"))
        .withColumn("consistent",
          col("fp_v2_direct") === col("fp_v2_incremental"))
        .select("fp_v0", "fp_v2_direct", "fp_v2_incremental", "consistent")
    },
      // both lanes closed-form from the change recipe; xor() is the
      // DuckDB spelling of bitwise xor (its ^ is exponentiation)
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |final AS (
        |  SELECT k, CASE WHEN k % 21 = 1 THEN cents + 6000
        |      WHEN k % 7 = 1 THEN cents + 1000 ELSE cents END AS cents
        |    FROM base WHERE k % 7 <> 2
        |  UNION ALL
        |  SELECT k + 100000000, 4242 FROM base WHERE k % 7 = 3),
        |fp0 AS (SELECT bit_xor(('0x' || substring(md5(
        |    CAST(k AS VARCHAR) || ':' || CAST(cents AS VARCHAR)),
        |    1, 15))::BIGINT) AS fp_v0 FROM base),
        |fp2 AS (SELECT bit_xor(('0x' || substring(md5(
        |    CAST(k AS VARCHAR) || ':' || CAST(cents AS VARCHAR)),
        |    1, 15))::BIGINT) AS fp_v2 FROM final),
        |chg AS (
        |  SELECT k, cents AS bc, CASE WHEN k % 21 = 1 THEN cents + 6000
        |      ELSE cents + 1000 END AS ac
        |    FROM base WHERE k % 7 = 1
        |  UNION ALL SELECT k, cents, CAST(NULL AS BIGINT)
        |    FROM base WHERE k % 7 = 2
        |  UNION ALL SELECT k + 100000000, CAST(NULL AS BIGINT), 4242
        |    FROM base WHERE k % 7 = 3),
        |d AS (SELECT bit_xor(xor(
        |    coalesce(('0x' || substring(md5(CAST(k AS VARCHAR) || ':' ||
        |      CAST(bc AS VARCHAR)), 1, 15))::BIGINT, 0),
        |    coalesce(('0x' || substring(md5(CAST(k AS VARCHAR) || ':' ||
        |      CAST(ac AS VARCHAR)), 1, 15))::BIGINT, 0))) AS delta
        |  FROM chg)
        |SELECT fp0.fp_v0, fp2.fp_v2 AS fp_v2_direct,
        |  xor(fp0.fp_v0, d.delta) AS fp_v2_incremental,
        |  fp2.fp_v2 = xor(fp0.fp_v0, d.delta) AS consistent
        |FROM fp0 CROSS JOIN fp2 CROSS JOIN d""".stripMargin),

    Gate("q_mv_incremental", { (s, dir) =>
      // incremental materialized-view maintenance: a per-bucket
      // (count, sum-cents) metric view initialized at v0, then refreshed
      // TWICE from the v0→v1 and v1→v2 CDC feeds — each refresh scans
      // only the churn and joins at MV (dimension) scale
      // (Mutations.maintainSumCount). The oracle recomputes the final
      // aggregate closed-form from the change recipe, so a green hash
      // proves incremental ≡ recompute across both refresh steps.
      import graft.operators.{Mutations, VersionedTable}
      val (work, schema) = timeTravelTable(s, dir)
      val bucket = pmod(col("k"), lit(16L))
      val mv0 = VersionedTable.readAt(s, work, schema, 0L)
        .groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
      val mv2 = Seq((0L, 1L), (1L, 2L)).foldLeft(mv0) { case (mv, (a, b)) =>
        Mutations.maintainSumCount(mv,
          VersionedTable.changes(s, work, schema, Seq("k"), a, b),
          bucket, col("before_cents"), col("after_cents"))
      }
      mv2.orderBy("bucket")
    }, mvOracleSql),

    Gate("q_mv_stream", { (s, dir) =>
      // STREAMING twin of q_mv_incremental: the same three CDC feeds
      // (v0 snapshot as inserts, v0→v1, v1→v2) replayed as micro-batches
      // through Streaming.mvStream — each batch folds into the parquet
      // MV under the batch-id commit gate (a replayed id is skipped, so
      // a delta can never double-apply). Final view ≡ batch recompute ⇒
      // shares q_mv_incremental's oracle SQL verbatim.
      import s.implicits._
      implicit val ctx = s.sqlContext
      import graft.operators.{Mutations, VersionedTable}
      val (work, schema) = timeTravelTable(s, dir)
      val mvRoot = java.nio.file.Files
        .createTempDirectory("graft-mvstream-q").toString + "/mv"
      def cdcRows(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "change_op", "before_cents", "after_cents")
          .orderBy("k").collect()
          .map(r => (r.getLong(0), r.getString(1),
            Option(r.get(2)).map(_.asInstanceOf[Long]),
            Option(r.get(3)).map(_.asInstanceOf[Long])))
      val b0 = cdcRows(VersionedTable.readAt(s, work, schema, 0L)
        .select(col("k"), lit("I").as("change_op"),
          lit(null).cast("long").as("before_cents"),
          col("cents").as("after_cents")))
      val b1 = cdcRows(VersionedTable.changes(s, work, schema, Seq("k"), 0L, 1L))
      val b2 = cdcRows(VersionedTable.changes(s, work, schema, Seq("k"), 1L, 2L))
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, Option[Long], Option[Long])]
      GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> "8") {
        val src = mem.toDF
          .toDF("k", "change_op", "before_cents", "after_cents")
        val q = graft.streaming.Streaming
          .mvStream(src, mvRoot, pmod(col("k"), lit(16L)),
            col("before_cents"), col("after_cents"))
          .option("checkpointLocation", s"$mvRoot/../ckpt").start()
        try {
          mem.addData(b0.toSeq); q.processAllAvailable()
          mem.addData(b1.toSeq); q.processAllAvailable()
          mem.addData(b2.toSeq); q.processAllAvailable()
        } finally q.stop()
      }
      Mutations.readMv(s, mvRoot).orderBy("bucket")
    }, mvOracleSql),

    Gate("q_scd2_intervals", { (s, dir) =>
      // gaps-and-islands / SCD2: collapse each user's consecutive equal
      // event_types into validity intervals with exclusive handoff
      graft.operators.Temporal.scd2(
          events(s, dir).select(col("user_id"),
            unix_timestamp(col("ts")).as("sec"), col("event_id"),
            col("event_type")),
          Seq("user_id"), Seq("sec", "event_id"), "sec", "event_type")
        .orderBy("user_id", "island")
    },
      """WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    event_id, event_type FROM events),
        |f AS (SELECT *, CASE WHEN lag(event_type)
        |      OVER (PARTITION BY user_id ORDER BY sec, event_id)
        |      IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
        |  FROM e),
        |g AS (SELECT *, CAST(sum(chg)
        |      OVER (PARTITION BY user_id ORDER BY sec, event_id) AS BIGINT) - 1
        |      AS island
        |  FROM f),
        |i AS (SELECT user_id, island, min(event_type) AS event_type,
        |    min(sec) AS valid_from, CAST(count(*) AS BIGINT) AS n_events
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id, island, event_type, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY island) AS valid_to,
        |  n_events
        |FROM i ORDER BY user_id, island""".stripMargin),

    Gate("q_bm25_index_stats", { (s, dir) =>
      // corpus-level index observability for the BM25 postings tree:
      // total postings / distinct vocabulary / doc count / token mass.
      // Per-bucket skew (bucket = pmod(xxhash64(tok), 64) — not SQL-
      // reproducible) stays in indexStats for the ScaleSpec skew guard;
      // the gate pins the bucket-independent sums, which a token living
      // WHOLLY in one bucket makes exact.
      import org.apache.spark.sql.types._
      val work = bm25BaseIndex(s, dir)
      val stats = Retrieval.indexStats(s, work)
        .agg(sum("n_postings").as("n_postings"),
          sum("n_tokens").as("n_tokens"))
      val dl = s.read.schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("dl", LongType))))
        .parquet(s"$work/doclens")
        .agg(count(lit(1)).as("n_docs"), sum("dl").as("total_len"))
      stats.crossJoin(dl)
    },
      // bucket-independent index totals: a token's postings live wholly
      // in its bucket, so the per-bucket sums equal these corpus counts
      """WITH t0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents),
        |t AS (SELECT * FROM t0 WHERE tok <> '')
        |SELECT
        |  (SELECT count(*) FROM (SELECT DISTINCT doc_id, tok FROM t))
        |    AS n_postings,
        |  (SELECT count(DISTINCT tok) FROM t) AS n_tokens,
        |  (SELECT count(DISTINCT doc_id) FROM t) AS n_docs,
        |  (SELECT count(*) FROM t) AS total_len""".stripMargin),

    Gate("q_bm25_rebuilt", { (s, dir) =>
      // the skew remedy indexStats points at: re-shard a cramped 4-bucket
      // index into 32 buckets from the index's OWN tables (postings +
      // doclens carry everything; doc text never re-tokenizes), caller
      // flips the root pointer. Scoring is bucket-count-invariant, so
      // the rebuilt search shares the direct lane's oracle verbatim.
      val base = java.nio.file.Files
        .createTempDirectory("graft-bm25-rb").toString
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      Retrieval.buildIndex(docs, s"$base/v1", nBuckets = 4)
      Retrieval.rebuildIndex(s, s"$base/v1", s"$base/v2", nBuckets = 32)
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.bm25TopKIndexed(s, s"$base/v2", queries, 5, nBuckets = 32)
        .orderBy("qid", "rnk")
    },
      // re-sharding changes bucket membership, never scoring — same oracle
      bm25TopkOracleSql),

    Gate("q_bm25_stream", { (s, dir) =>
      // STREAMING maintenance of the text index (emb_ann_ivf_stream's
      // move for BM25): document micro-batches fold through
      // applyIndexBatch — scrub-by-id then append under a batch-id
      // commit gate, so the re-delivered batch here repairs rather than
      // duplicates postings. Final search ≡ a fresh build ⇒ the direct
      // lane's oracle verbatim.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val work = java.nio.file.Files
        .createTempDirectory("graft-bm25-stream").toString + "/idx"
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      def rows(m: Long) = docs.where(col("doc_id") % 3 === m)
        .as[(Long, String)].collect().toSeq
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val q = mem.toDF.toDF("doc_id", "text")
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          Retrieval.applyIndexBatch(s, work, b, id)
          ()
        }
        .option("checkpointLocation", s"$work/../ckpt").start()
      try {
        mem.addData(rows(0)); q.processAllAvailable()
        mem.addData(rows(1)); q.processAllAvailable()
        // at-least-once: re-deliver batch 1's rows under a NEW batch id
        mem.addData(rows(1)); q.processAllAvailable()
        mem.addData(rows(2)); q.processAllAvailable()
      } finally q.stop()
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.bm25TopKIndexed(s, work, queries, 5)
        .orderBy("qid", "rnk")
    },
      // streamed build ≡ fresh build (scrub-then-append, commit-gated) —
      // same oracle
      bm25TopkOracleSql),

    Gate("q_bm25f", { (s, dir) =>
      // field-weighted retrieval: docs split into title (first 8 words,
      // weight 3) and body (the rest, weight 1) — a title hit outranks
      // the same hit in the body. Integer field weights keep wtf/wdl
      // exact BIGINTs; scoring/ties are the bm25 lane's verbatim.
      val base = tbl(s, dir, "documents").select("doc_id", "text")
      val fdocs = base.select(col("doc_id"),
        expr("concat_ws(' ', slice(split(text, ' '), 1, 8))").as("title"),
        expr("concat_ws(' ', slice(split(text, ' '), 9, 1000000))")
          .as("body"))
      val queries = base.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.bm25fTopK(fdocs, broadcast(queries), 5,
          Seq("title" -> 3L, "body" -> 1L))
        .orderBy("qid", "rnk")
    },
      // BM25F: per-field token melt under integer weights (title ws[1:8]
      // ×3, body ws[9:] ×1), wtf/wdl exact BIGINT sums, scoring identical
      // to the bm25 lane (round-6 + doc_id tie)
      bm25fOracleSql),

    Gate("q_bm25f_indexed", { (s, dir) =>
      // BM25F served from the persisted index via the virtual-doc
      // identity (bm25f ≡ bm25 over fields repeated by weight — pinned
      // in OperatorsSpec): index the title×3 + body virtual text once,
      // then every search is the bucket-pruned bm25TopKIndexed lane.
      // wtf/wdl/df/avgdl all coincide, so q_bm25f's oracle is shared
      // verbatim.
      val base = tbl(s, dir, "documents").select("doc_id", "text")
      val title = "concat_ws(' ', slice(split(text, ' '), 1, 8))"
      val body = "concat_ws(' ', slice(split(text, ' '), 9, 1000000))"
      val virtual = base.select(col("doc_id"),
        expr(s"concat_ws(' ', $title, $title, $title, $body)").as("text"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-bm25f-idx").toString + "/idx"
      Retrieval.buildIndex(virtual, work)
      val queries = base.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      Retrieval.bm25TopKIndexed(s, work, queries, 5)
        .orderBy("qid", "rnk")
    },
      // the virtual-doc identity (bm25f ≡ bm25 over fields repeated by
      // weight, pinned in OperatorsSpec) carried through the persisted
      // index: indexed(virtual) ≡ bm25(virtual) ≡ bm25f — oracle verbatim
      bm25fOracleSql),

    Gate("q_bm25_audit", { (s, dir) =>
      // relevance-drift audit on a fresh consistent index: the sampled
      // direct-vs-indexed MRR row must come back perfect — (n_q, n_q,
      // 10000, sidecar diffs 0, false) — which only happens if the whole
      // chain agrees (sampling rule, both scoring lanes, doclens stats,
      // rank ties) AND the stats sidecar matches a live doclens recount
      // (the r14 runtime twin of the OperatorsSpec sidecar≡recount pin).
      // The analytic oracle recomputes n_q from the stride rule; the
      // gutted-bucket + drifted-sidecar lanes are pinned in OperatorsSpec.
      val work = bm25BaseIndex(s, dir)
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      Retrieval.auditIndex(s, work, docs, k = 5, sampleBudget = 20)
    },
      // analytic: a consistent index's sampled MRR audit is exactly
      // (n_q, n_q, 10000, false); n_q follows the stride-sample rule
      // max(1, ceil(n/20)) — the row only matches if both scoring lanes,
      // the doclens stats, and the rank tie rules all agree
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |q AS (SELECT count(*) AS n_q FROM documents, nn
        |      WHERE doc_id % greatest(1, (n + 19) // 20) = 0)
        |SELECT n_q, n_q AS n_top1_agree, CAST(10000 AS BIGINT) AS mrr_bp,
        |  CAST(0 AS BIGINT) AS sidecar_n_diff,
        |  CAST(0 AS BIGINT) AS sidecar_dl_diff,
        |  FALSE AS stale FROM q""".stripMargin),

    Gate("q_fuzzy_match", { (s, dir) =>
      // typo-tolerant term lookup, the SymSpell shape: both vocabulary
      // and query tokens explode into their 1-DELETION neighborhoods
      // (term itself + term minus each char), candidates are an
      // equi-join on deletion keys — covering edit distance <= 1
      // COMPLETELY (equal / insert / delete / substitute all share a
      // deletion) at index cost O(vocab × len) instead of
      // O(vocab × queries) brute levenshtein — then exact-verified with
      // levenshtein (bit-identical integer DP on both engines). Queries
      // are deterministic misspellings: the 10 most frequent len>=5
      // tokens with their 3rd char dropped.
      val toks = tbl(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true) // feeds vocab AND the query ranking
      // r17: two-level top-k (the q_tfidf_top_terms discipline) — the
      // query rank is vocab-scale; bucket pre-rank keeps recall
      // structural and the final window sees <= 10·32 rows
      val qwb = Window.partitionBy("bkt")
        .orderBy(col("cnt").desc, col("tok"))
      val queries = toks.where(length(col("tok")) >= 5)
        .withColumn("bkt", pmod(xxhash64(col("tok")), lit(32)))
        .withColumn("brk", row_number().over(qwb))
        .where(col("brk") <= 10)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("cnt").desc, col("tok"))))
        .where(col("rk") <= 10)
        .select(concat(expr("substring(tok, 1, 2)"),
          expr("substring(tok, 4)")).as("qtok"))
      Retrieval.fuzzyTermLookup(toks.select(col("tok").as("term")), queries)
        .orderBy("qtok", "term")
    },
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |t AS (SELECT tok, count(*) AS cnt FROM toks WHERE tok <> ''
        |  GROUP BY 1),
        |q AS (SELECT substring(tok, 1, 2) || substring(tok, 4) AS qtok
        |  FROM (SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok)
        |      AS rk FROM t WHERE length(tok) >= 5)
        |  WHERE rk <= 10),
        |vk AS (SELECT tok AS term, unnest(list_distinct(list_transform(
        |    range(0, length(tok) + 1),
        |    i -> CASE WHEN i = 0 THEN tok
        |      ELSE substring(tok, 1, i - 1) || substring(tok, i + 1) END)))
        |    AS key
        |  FROM t),
        |qk AS (SELECT qtok, unnest(list_distinct(list_transform(
        |    range(0, length(qtok) + 1),
        |    i -> CASE WHEN i = 0 THEN qtok
        |      ELSE substring(qtok, 1, i - 1) || substring(qtok, i + 1) END)))
        |    AS key
        |  FROM q),
        |cand AS (SELECT DISTINCT qk.qtok, vk.term
        |  FROM qk JOIN vk USING (key))
        |SELECT qtok, term, CAST(levenshtein(qtok, term) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(qtok, term) <= 1
        |ORDER BY qtok, term""".stripMargin))

  // shared by q_phrase_search (direct token-position adjacency) and
  // q_phrase_search_indexed (positional postings conjunction)
  private val phraseOracleSql: String =
      // 1-based list indexing; range(1, len) is end-exclusive, so i+1
      // stays in bounds — same overlapping-adjacency count
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |h AS (SELECT doc_id, CAST(len(list_filter(range(1, len(w)),
        |    i -> w[i] = 'sort' AND w[i + 1] = 'merge')) AS BIGINT) AS hits
        |  FROM d)
        |SELECT doc_id, hits FROM h WHERE hits > 0
        |ORDER BY hits DESC, doc_id LIMIT 20""".stripMargin

  // shared by q_hybrid_rrf (direct lanes) and q_hybrid_rrf_indexed
  // (persisted bm25 postings + flat IVF cells at full probe — exact)
  private val hybridRrfOracleSql: String =
      """WITH d AS (SELECT doc_id, text FROM documents),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d),
        |t AS (SELECT * FROM toks WHERE tok <> ''),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        |st AS (SELECT (SELECT count(*) FROM d) AS n,
        |    (SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
        |      / (SELECT count(*) FROM d) AS avgdl),
        |q AS (SELECT doc_id AS qid,
        |    unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM d WHERE doc_id < 5),
        |qq AS (SELECT * FROM q WHERE tok <> ''),
        |scored AS (SELECT qq.qid, tf.doc_id,
        |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |  FROM qq JOIN tf ON qq.tok = tf.tok JOIN df ON qq.tok = df.tok
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
        |  GROUP BY qq.qid, tf.doc_id),
        |b20 AS (SELECT qid, doc_id, rnk FROM (
        |  SELECT qid, doc_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk FROM scored)
        |  WHERE rnk <= 20),
        |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |qv AS (SELECT vec_id AS qid, emb AS qemb FROM emb WHERE vec_id < 5),
        |cs AS (SELECT qv.qid, e.vec_id AS doc_id,
        |    list_dot_product(qv.qemb, e.emb)
        |      / (sqrt(list_dot_product(qv.qemb, qv.qemb))
        |         * sqrt(list_dot_product(e.emb, e.emb))) AS sim
        |  FROM qv, emb e WHERE e.vec_id <> qv.qid),
        |c20 AS (SELECT qid, doc_id, rnk FROM (
        |  SELECT qid, doc_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY sim DESC, doc_id) AS rnk FROM cs)
        |  WHERE rnk <= 20),
        |f AS (SELECT coalesce(b.qid, c.qid) AS qid,
        |    coalesce(b.doc_id, c.doc_id) AS doc_id,
        |    coalesce(1.0 / (60 + b.rnk), 0) + coalesce(1.0 / (60 + c.rnk), 0)
        |      AS rrf
        |  FROM b20 b FULL OUTER JOIN c20 c
        |    ON b.qid = c.qid AND b.doc_id = c.doc_id),
        |r AS (SELECT qid, doc_id, rrf, row_number() OVER (
        |    PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rnk FROM f)
        |SELECT qid, doc_id, rrf, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin

  // shared by q_bm25f (direct) and q_bm25f_indexed (persisted index
  // over the weighted-repeat virtual doc)
  private val bm25fOracleSql: String =
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |ft AS (SELECT doc_id, unnest(ws[1:8]) AS tok,
        |    CAST(3 AS BIGINT) AS fw FROM d
        |  UNION ALL SELECT doc_id, unnest(ws[9:]) AS tok,
        |    CAST(1 AS BIGINT) AS fw FROM d),
        |t AS (SELECT * FROM ft WHERE tok <> ''),
        |wtf AS (SELECT doc_id, tok, CAST(sum(fw) AS BIGINT) AS wtf
        |  FROM t GROUP BY doc_id, tok),
        |wdl AS (SELECT doc_id, CAST(sum(fw) AS BIGINT) AS wdl
        |  FROM t GROUP BY doc_id),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        |st AS (SELECT (SELECT count(*) FROM d) AS n,
        |    (SELECT CAST(sum(wdl) AS DOUBLE) FROM wdl)
        |      / (SELECT count(*) FROM d) AS avgwdl),
        |q AS (SELECT doc_id AS qid,
        |    unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents WHERE doc_id < 5),
        |qq AS (SELECT * FROM q WHERE tok <> ''),
        |scored AS (SELECT qq.qid, wtf.doc_id,
        |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |      * (wtf.wtf * 2.2)
        |      / (wtf.wtf + 1.2 * (0.25 + 0.75 * wdl.wdl / st.avgwdl))), 6)
        |      AS score
        |  FROM qq JOIN wtf ON qq.tok = wtf.tok JOIN df ON qq.tok = df.tok
        |  JOIN wdl ON wtf.doc_id = wdl.doc_id CROSS JOIN st
        |  GROUP BY qq.qid, wtf.doc_id),
        |r AS (SELECT qid, doc_id, score, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk FROM scored)
        |SELECT qid, doc_id, score, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  /** BM25 brute-force recomputation, shared VERBATIM by q_bm25_topk
    * (direct inverted stream) and q_bm25_indexed (materialized
    * bucket-pruned index) — the index changes I/O, never scores.
    */
  private val bm25TopkOracleSql: String =
    """WITH d AS (SELECT doc_id, text FROM documents),
      |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d),
      |t AS (SELECT * FROM toks WHERE tok <> ''),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
      |st AS (SELECT (SELECT count(*) FROM d) AS n,
      |    (SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
      |      / (SELECT count(*) FROM d) AS avgdl),
      |q AS (SELECT doc_id AS qid,
      |    unnest(list_distinct(string_split(text, ' '))) AS tok
      |  FROM d WHERE doc_id < 5),
      |qq AS (SELECT * FROM q WHERE tok <> ''),
      |scored AS (SELECT qq.qid, tf.doc_id,
      |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
      |      * (tf.tf * 2.2)
      |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
      |  FROM qq JOIN tf ON qq.tok = tf.tok JOIN df ON qq.tok = df.tok
      |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
      |  GROUP BY qq.qid, tf.doc_id),
      |r AS (SELECT qid, doc_id, score, row_number() OVER (
      |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk FROM scored)
      |SELECT qid, doc_id, score, CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  // Dirichlet query-likelihood: matched-terms sum + length norm with
  // the EXACT expression parenthesization of Retrieval.lmScore; shared
  // by q_lm_dirichlet (direct) and q_lm_dirichlet_indexed (identical
  // scores off the postings + cf-per-bucket + sidecar |C|)
  private val lmDirichletOracleSql: String =
    """WITH d AS (SELECT doc_id, text FROM documents),
      |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d),
      |t AS (SELECT * FROM toks WHERE tok <> ''),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
      |cf AS (SELECT tok, count(*) AS cf FROM t GROUP BY tok),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS c FROM t),
      |q0 AS (SELECT doc_id AS qid, unnest(string_split(text, ' ')) AS tok
      |  FROM d WHERE doc_id < 5),
      |q1 AS (SELECT * FROM q0 WHERE tok <> ''),
      |qt AS (SELECT qid, tok, count(*) AS qtf FROM q1 GROUP BY qid, tok),
      |ql AS (SELECT qid, count(*) AS qlen FROM q1 GROUP BY qid),
      |m AS (SELECT qt.qid, tf.doc_id,
      |    sum(qt.qtf * ln(1.0 + (CAST(tf.tf AS DOUBLE) * st.c)
      |      / (2000.0 * cf.cf))) AS s
      |  FROM qt JOIN tf ON qt.tok = tf.tok JOIN cf ON qt.tok = cf.tok
      |  CROSS JOIN st
      |  GROUP BY qt.qid, tf.doc_id),
      |scored AS (SELECT m.qid, m.doc_id,
      |    round(m.s + ql.qlen * ln(2000.0 / (dl.dl + 2000.0)), 6) AS score
      |  FROM m JOIN dl ON m.doc_id = dl.doc_id JOIN ql ON m.qid = ql.qid),
      |r AS (SELECT qid, doc_id, score, row_number() OVER (
      |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk FROM scored)
      |SELECT qid, doc_id, score, CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  // top-1 via the bm25 chain, then the all-integer window election
  // (positions assigned BEFORE the empty-token filter on both sides).
  // Shared by q_bm25_snippets (direct) and q_bm25_snippets_indexed (the
  // positional-index lane — same positions, same election, by
  // construction).
  private val bm25SnippetsOracleSql: String =
    """WITH d AS (SELECT doc_id, text FROM documents),
      |t0 AS (SELECT doc_id,
      |    unnest(string_split(text, ' ')) AS tok,
      |    CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT)
      |      AS pos FROM d),
      |t AS (SELECT * FROM t0 WHERE tok <> ''),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
      |st AS (SELECT (SELECT count(*) FROM d) AS n,
      |    (SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
      |      / (SELECT count(*) FROM d) AS avgdl),
      |q AS (SELECT doc_id AS qid,
      |    unnest(list_distinct(string_split(text, ' '))) AS tok
      |  FROM d WHERE doc_id < 5),
      |qq AS (SELECT * FROM q WHERE tok <> ''),
      |scored AS (SELECT qq.qid, tf.doc_id,
      |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
      |      * (tf.tf * 2.2)
      |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
      |  FROM qq JOIN tf ON qq.tok = tf.tok JOIN df ON qq.tok = df.tok
      |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
      |  GROUP BY qq.qid, tf.doc_id),
      |top1 AS (SELECT qid, doc_id FROM (SELECT qid, doc_id, row_number()
      |    OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
      |  FROM scored) WHERE rnk = 1),
      |m AS (SELECT top1.qid, t.doc_id, t.pos
      |  FROM top1 JOIN t ON t.doc_id = top1.doc_id
      |  JOIN qq ON qq.qid = top1.qid AND qq.tok = t.tok),
      |wins AS (SELECT a.qid, a.doc_id, a.pos AS snip_start,
      |    CAST(count(*) AS BIGINT) AS n_hits
      |  FROM m a JOIN m b ON b.qid = a.qid AND b.doc_id = a.doc_id
      |    AND b.pos >= a.pos AND b.pos < a.pos + 8
      |  GROUP BY a.qid, a.doc_id, a.pos)
      |SELECT qid, doc_id, snip_start, n_hits FROM (SELECT *, row_number()
      |    OVER (PARTITION BY qid, doc_id
      |      ORDER BY n_hits DESC, snip_start) AS rn
      |  FROM wins) WHERE rn = 1 ORDER BY qid""".stripMargin

  // the PRF loop end-to-end: bm25TopkOracleSql's scoring body twice,
  // with the integer (ftf desc, tok asc) expansion election between
  private val bm25PrfOracleSql: String =
    """WITH d AS (SELECT doc_id, text FROM documents),
      |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d),
      |t AS (SELECT * FROM toks WHERE tok <> ''),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
      |st AS (SELECT (SELECT count(*) FROM d) AS n,
      |    (SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
      |      / (SELECT count(*) FROM d) AS avgdl),
      |q0 AS (SELECT doc_id AS qid,
      |    unnest(list_distinct(string_split(text, ' '))) AS tok
      |  FROM d WHERE doc_id < 5),
      |qq0 AS (SELECT * FROM q0 WHERE tok <> ''),
      |s0 AS (SELECT qq0.qid, tf.doc_id,
      |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
      |      * (tf.tf * 2.2)
      |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
      |  FROM qq0 JOIN tf ON qq0.tok = tf.tok JOIN df ON qq0.tok = df.tok
      |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
      |  GROUP BY qq0.qid, tf.doc_id),
      |fb AS (SELECT qid, doc_id FROM (SELECT qid, doc_id, row_number()
      |    OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
      |  FROM s0) WHERE rnk <= 3),
      |ftf AS (SELECT fb.qid, t.tok, CAST(count(*) AS BIGINT) AS ftf
      |  FROM fb JOIN t ON t.doc_id = fb.doc_id GROUP BY fb.qid, t.tok),
      |exp AS (SELECT qid, tok FROM (SELECT f.qid, f.tok, row_number()
      |    OVER (PARTITION BY f.qid ORDER BY f.ftf DESC, f.tok) AS rn
      |  FROM ftf f ANTI JOIN qq0 ON qq0.qid = f.qid AND qq0.tok = f.tok)
      |  WHERE rn <= 2),
      |qq1 AS (SELECT DISTINCT qid, tok FROM
      |  (SELECT qid, tok FROM qq0 UNION ALL SELECT qid, tok FROM exp)),
      |s1 AS (SELECT qq1.qid, tf.doc_id,
      |    round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
      |      * (tf.tf * 2.2)
      |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
      |  FROM qq1 JOIN tf ON qq1.tok = tf.tok JOIN df ON qq1.tok = df.tok
      |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
      |  GROUP BY qq1.qid, tf.doc_id),
      |r AS (SELECT qid, doc_id, score, row_number() OVER (
      |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk FROM s1)
      |SELECT qid, doc_id, score, CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  // shared by q_mv_incremental and its streaming twin q_mv_stream: final
  // v2 state closed-form from the timeTravelTable change recipe (%21=1
  // takes the v2 update, which overwrites v1's +1000; %7=2 deleted;
  // %7=3 cloned as inserts), aggregated per k%16 bucket
  private val mvOracleSql: String =
    """WITH base AS (SELECT o_orderkey AS k,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |final AS (
      |  SELECT k, CASE WHEN k % 21 = 1 THEN cents + 6000
      |      WHEN k % 7 = 1 THEN cents + 1000 ELSE cents END AS cents
      |    FROM base WHERE k % 7 <> 2
      |  UNION ALL
      |  SELECT k + 100000000, 4242 FROM base WHERE k % 7 = 3)
      |SELECT k % 16 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM final GROUP BY 1 ORDER BY bucket""".stripMargin
}
