package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}
import graft.obs.GraftSession
import Fixtures._

/** Near-duplicate gates (`dedup_*`): exact, MinHash, SimHash, n-gram,
  * winnowing and clustering lanes, batch and streaming.
  */
object DedupGates {

  def gates: Seq[Gate] = Seq(

    Gate("dedup_stream_exact", { (s, dir) =>
      // watermark-bounded streaming EXACT dedup
      // (dropDuplicatesWithinWatermark — state holds 16-byte hashes
      // inside the horizon, never the corpus) under the gate: batch 1
      // delivers the distinct-text corpus (min-doc_id survivor prep
      // keeps the replay deterministic — cross-doc duplicate texts
      // would otherwise elect an arrival-order survivor), batch 2
      // RE-DELIVERS every row; in-horizon copies drop as duplicates and
      // out-of-horizon copies drop as late — either way batch 2 emits
      // nothing, so the output is exactly batch 1.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, String)]
      val name = s"dexact_replay_${System.nanoTime()}"
      GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> "8") {
        val q = graft.streaming.Streaming
          .dedupExact(mem.toDF.toDF("doc_id", "ts", "text"))
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          // +1 day: a ts at exactly epoch 0 sits ON the initial
          // watermark and is dropped as late before it ever reaches
          // the dedup state
          val rows = tbl(s, dir, "documents").select("doc_id", "text")
            .groupBy("text").agg(min("doc_id").as("doc_id"))
            .select(col("doc_id"),
              timestamp_seconds(col("doc_id") + 86400L).as("ts"),
              col("text"))
            .collect().map(r => (r.getLong(0), r.getTimestamp(1),
              r.getString(2))).toSeq
          mem.addData(rows)
          q.processAllAvailable()
          mem.addData(rows) // full re-delivery
          q.processAllAvailable()
        } finally q.stop() // never leak a running query into later queries
      }
      s.table(name).select("doc_id", "content_hash").orderBy("doc_id")
    },
      """WITH k AS (SELECT min(doc_id) AS doc_id, text FROM documents
        |  GROUP BY text)
        |SELECT doc_id, md5(text) AS content_hash FROM k
        |ORDER BY doc_id""".stripMargin),

    Gate("dedup_exact", { (s, dir) =>
      Dedup.exact(tbl(s, dir, "documents")).orderBy("h")
    },
      """SELECT md5(text) AS h, count(*) AS dup_count, min(doc_id) AS keep_id
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY h""".stripMargin),

    Gate("dedup_normalized", { (s, dir) =>
      // normalization-keyed exact dedup (the C4/Gopher "fuzzy-exact" lane):
      // case/punctuation/whitespace variants collapse to one key. Variants
      // injected deterministically: docs 0..19 get an UPPERCASED copy with
      // trailing " !!" at doc_id+4000000 — byte-distinct (invisible to
      // dedup_exact), normalization-equal. Text never shuffles: only the
      // 16-byte md5 of the normalized form + the id leave the scan.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.unionByName(docs.where(col("doc_id") < 20)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          concat(upper(col("text")), lit(" !!")).as("text")))
      Dedup.normalized(corpus).orderBy("h")
    },
      // same normalization recipe; DuckDB regexp_replace needs the 'g'
      // flag (Spark replaces globally by default), and both regexes stay
      // in the RE2 ⊆ Java-regex common subset
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 4000000, upper(text) || ' !!'
        |  FROM documents WHERE doc_id < 20),
        |n AS (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
        |  FROM corpus)
        |SELECT md5(norm) AS h, CAST(count(*) AS BIGINT) AS dup_count,
        |  min(doc_id) AS keep_id
        |FROM n GROUP BY md5(norm) ORDER BY h""".stripMargin),

    Gate("dedup_minhash", { (s, dir) =>
      // oracled: the operator is LSH-candidates -> exact-Jaccard verify, so
      // its output equals the exact >= threshold pair set whenever banding
      // recall is total. Recall is NOT total in expectation near the
      // threshold (r=4,b=16 capture probability at j=0.63, the weakest
      // true pair here, is ~94%) — but the hash family and the gate
      // corpora are BOTH deterministic, and recall totality on them is
      // pinned by OperatorsSpec's brute-force cross-check at sf0.001 plus
      // the local compare at sf0.01, so the match cannot drift between
      // runs. Near-dups are injected deterministically (FIXTURES §2):
      // docs 0..19 get a variant with the first 2 words replaced.
      val corpus = withInjectedVariants(
        tbl(s, dir, "documents").select("doc_id", "text"))
      Dedup.nearDuplicates(corpus, threshold = 0.3)
        .orderBy("doc_a", "doc_b")
    },
      """WITH base AS (SELECT doc_id, text FROM documents),
        |vars AS (SELECT doc_id + 1000000 AS doc_id,
        |    concat('zz yy ', array_to_string(string_split(text, ' ')[3:], ' ')) AS text
        |  FROM base WHERE doc_id < 20),
        |docs AS (SELECT * FROM base UNION ALL SELECT * FROM vars),
        |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM docs),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(words) - 3, 0) + 2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS s FROM w)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.s, b.s))
        |    / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.s, b.s))
        |    / len(list_distinct(list_concat(a.s, b.s))) >= 0.3
        |ORDER BY doc_a, doc_b""".stripMargin),

    Gate("dedup_clusters", { (s, dir) =>
      // transitive closure of the near-dup pairs: min-label propagation
      // assigns each clustered doc its cluster representative ("keep one
      // per cluster" dedup). Oracle = recursive CTE over the same exact
      // >= 0.3 Jaccard pair graph.
      val corpus = withInjectedVariants(
        tbl(s, dir, "documents").select("doc_id", "text"))
      Dedup.connectedComponents(
          Dedup.nearDuplicates(corpus, threshold = 0.3))
        .orderBy("doc_id")
    }, ccClustersOracleSql),

    Gate("dedup_clusters_incr", { (s, dir) =>
      // INCREMENTAL cluster maintenance: the standing label map folds a
      // new batch of near-dup edges by label-space collapse (full
      // propagation only on the batch-sized collapsed graph, never the
      // corpus) — output ≡ from-scratch CC on the union, so it shares
      // dedup_clusters' oracle verbatim; equivalence additionally
      // pinned on random graphs in OperatorsSpec.
      val corpus = withInjectedVariants(
        tbl(s, dir, "documents").select("doc_id", "text"))
      val pairs = Dedup.nearDuplicates(corpus, threshold = 0.3)
        .localCheckpoint(true) // split into the two delivery halves
      val half1 = pairs.where((col("doc_a") + col("doc_b")) % 2 === 0)
      val half2 = pairs.where((col("doc_a") + col("doc_b")) % 2 =!= 0)
      Dedup.connectedComponentsIncremental(
          Dedup.connectedComponents(half1), half2)
        .orderBy("doc_id")
    }, ccClustersOracleSql),

    Gate("dedup_incremental", { (s, dir) =>
      // steady-state ingest dedup: a NEW batch (20 injected near-dup
      // variants + 20 reversed-text unique docs) checked against the
      // existing corpus — batch-bands x corpus-bands candidate join,
      // never corpus self-join. Oracle = exact batch x corpus Jaccard.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      Dedup.incrementalNearDuplicates(docs, incrementalGateBatch(docs),
          threshold = 0.3)
        .orderBy("doc_id", "dup_of")
    },
      """WITH base AS (SELECT doc_id, text FROM documents),
        |batch AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    concat('zz yy ', array_to_string(string_split(text, ' ')[3:], ' ')) AS text
        |  FROM base WHERE doc_id < 20
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, reverse(text) AS text
        |  FROM base WHERE doc_id >= 480 AND doc_id < 500),
        |wc AS (SELECT doc_id, string_split(text, ' ') AS words FROM base),
        |wb AS (SELECT doc_id, string_split(text, ' ') AS words FROM batch),
        |sc AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(words) - 3, 0) + 2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS s FROM wc),
        |sb AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(words) - 3, 0) + 2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS s FROM wb)
        |SELECT b.doc_id AS doc_id, c.doc_id AS dup_of,
        |  len(list_intersect(b.s, c.s))
        |    / len(list_distinct(list_concat(b.s, c.s))) AS jaccard
        |FROM sb b, sc c
        |WHERE len(list_intersect(b.s, c.s))
        |    / len(list_distinct(list_concat(b.s, c.s))) >= 0.3
        |ORDER BY doc_id, dup_of""".stripMargin),

    Gate("dedup_simhash", { (s, dir) =>
      // fully oracled: the 60-bit fingerprint is md5-based (DuckDB can
      // recompute it bit-for-bit) and maxHamming=3 < 4 bands makes
      // banding recall STRUCTURALLY total (pigeonhole), so the output
      // equals DuckDB's brute-force all-pairs hamming join by
      // construction — no probabilistic recall pinning needed
      val corpus = withInjectedVariants(
        tbl(s, dir, "documents").select("doc_id", "text"))
      Dedup.simhashNearDuplicates(corpus, maxHamming = 3)
        .orderBy("doc_a", "doc_b")
    },
      // brute-force recomputation of the 60-bit md5-based simhash: token
      // hash = first 15 md5 hex chars (= graft_md5_tokens), bit i set iff
      // sum(+1/-1 votes) >= 0 (= graft_simhash tie rule), pairs by all-pairs
      // hamming <= 3 — equals the banded Spark plan by the pigeonhole
      // argument in Dedup.simhashNearDuplicates
      """WITH base AS (SELECT doc_id, text FROM documents),
        |vars AS (SELECT doc_id + 1000000 AS doc_id,
        |    concat('zz yy ', array_to_string(string_split(text, ' ')[3:], ' ')) AS text
        |  FROM base WHERE doc_id < 20),
        |docs AS (SELECT * FROM base UNION ALL SELECT * FROM vars),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM docs),
        |th AS (SELECT doc_id,
        |    ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM toks),
        |bits AS (SELECT doc_id, b,
        |    CASE WHEN sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) >= 0
        |         THEN (1::BIGINT << b) ELSE 0::BIGINT END AS bitval
        |  FROM th, generate_series(0, 59) g(b) GROUP BY doc_id, b),
        |sig AS (SELECT doc_id, CAST(sum(bitval) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM sig a, sig b WHERE a.doc_id < b.doc_id
        |  AND bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin),

    Gate("dedup_stream_near", { (s, dir) =>
      // STREAMING near-dedup under the oracle: the gate corpus replayed
      // doc_id-ordered through Streaming.dedupNear in three micro-batches,
      // then the final batch RE-SENT (at-least-once at the data level —
      // every re-sent doc is an exact dup of its first arrival, so the
      // survivor set must not change). First-arrival-wins + id-ordered
      // arrival ⇒ survivors equal the batch rule "drop every doc_b of a
      // qualifying (doc_a < doc_b) pair", which the oracle recomputes by
      // exact all-pairs Jaccard.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val work = java.nio.file.Files
        .createTempDirectory("graft-neardedup-q").toString
      val corpus = withInjectedVariants(
        tbl(s, dir, "documents").select("doc_id", "text"))
      val rows = corpus.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> "8") {
        val src = mem.toDF.toDF("doc_id", "text")
        val q = graft.streaming.Streaming
          .dedupNear(src, s"$work/state", s"$work/out", threshold = 0.3)
          .option("checkpointLocation", s"$work/ckpt").start()
        try {
          val (b1, rest) = rows.splitAt(rows.length / 3)
          val (b2, b3) = rest.splitAt(rest.length / 2)
          mem.addData(b1.toSeq); q.processAllAvailable()
          mem.addData(b2.toSeq); q.processAllAvailable()
          mem.addData(b3.toSeq); q.processAllAvailable()
          mem.addData(b3.toSeq); q.processAllAvailable() // re-sent data
        } finally q.stop() // never leak a running query into later queries
      }
      s.read.parquet(s"$work/out").select("doc_id").orderBy("doc_id")
    },
      // streaming near-dedup survivors, recomputed batch-style: with
      // id-ordered arrival, first-arrival-wins ≡ "drop every doc_b of a
      // qualifying (doc_a < doc_b) pair" at exact Jaccard >= 0.3 (banding
      // recall is total on the gate corpus — OperatorsSpec pin)
      """WITH base AS (SELECT doc_id, text FROM documents),
        |vars AS (SELECT doc_id + 1000000 AS doc_id,
        |    concat('zz yy ', array_to_string(string_split(text, ' ')[3:], ' ')) AS text
        |  FROM base WHERE doc_id < 20),
        |docs AS (SELECT * FROM base UNION ALL SELECT * FROM vars),
        |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM docs),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(words) - 3, 0) + 2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS s FROM w),
        |dups AS (SELECT DISTINCT b.doc_id
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s))
        |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.3)
        |SELECT d.doc_id FROM docs d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM dups)
        |ORDER BY d.doc_id""".stripMargin),

    Gate("dedup_ngram_jaccard", { (s, dir) =>
      // exact word-3gram Jaccard over all pairs of the first 50 docs plus
      // injected variants of the first 10 (corpus has no real near-dups in
      // this slice at sf>=0.01)
      val corpus = withInjectedVariants(
        tbl(s, dir, "documents").where(col("doc_id") < 50)
          .select("doc_id", "text"), firstN = 10)
      val sh = Dedup.shingles(corpus)
      val a = sh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("jaccard",
          size(array_intersect(col("sh_a"), col("sh_b"))) /
            size(array_union(col("sh_a"), col("sh_b"))))
        .where(col("jaccard") > 0.2)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy("id_a", "id_b")
    },
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
        |vars AS (SELECT doc_id + 1000000 AS doc_id,
        |    concat('zz yy ', array_to_string(string_split(text, ' ')[3:], ' ')) AS text
        |  FROM base WHERE doc_id < 10),
        |docs AS (SELECT * FROM base UNION ALL SELECT * FROM vars),
        |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM docs),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(words) - 3, 0) + 2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS s FROM w)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.s, b.s))
        |    / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.s, b.s))
        |    / len(list_distinct(list_concat(a.s, b.s))) > 0.2
        |ORDER BY id_a, id_b""".stripMargin),

    Gate("dedup_setsim_prefix", { (s, dir) =>
      // EXACT Jaccard>=0.8 set-similarity join over the FULL corpus with
      // structurally-total recall — the PPJoin prefix filter: shingles
      // ordered rarest-first, only the first n − ceil(0.8n) + 1 per doc
      // enter the candidate equi-join (the smallest common shingle of any
      // qualifying pair provably lands in both prefixes), then exact
      // intersection verify. The deterministic complement of
      // dedup_minhash: no banding probability, no all-pairs — measured
      // ~1% of all-pairs candidates at sf0.1. All integer arithmetic
      // (threshold 4/5 rational), so the full pipeline runs under the
      // hash gate.
      Dedup.setSimilarityJoin(
          tbl(s, dir, "documents").select("doc_id", "text"))
        .orderBy("doc_a", "doc_b")
    },
      // mirrors the prefix-filtered plan shingle-for-shingle; threshold
      // 4/5 rational: prefix keeps rk <= n - ceil(4n/5) + 1, verify is
      // 9·inter >= 4·(n_a + n_b) — pure integer both sides
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
        |  FROM documents),
        |tok AS (SELECT DISTINCT doc_id,
        |    array_to_string(words[i : i + 2], ' ') AS tok
        |  FROM (SELECT doc_id, words,
        |      unnest(range(1, greatest(len(words) - 3, 0) + 2)) AS i
        |    FROM w)),
        |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        |  FROM tok GROUP BY 1),
        |df AS (SELECT tok, count(*) AS df FROM tok GROUP BY 1),
        |r AS (SELECT t.doc_id, t.tok, row_number()
        |    OVER (PARTITION BY t.doc_id ORDER BY df.df, t.tok) AS rk
        |  FROM tok t JOIN df ON df.tok = t.tok),
        |pre AS (SELECT r.doc_id, r.tok FROM r JOIN n ON n.doc_id = r.doc_id
        |  WHERE r.rk <= n.n - ((4 * n.n + 4) // 5) + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM pre a JOIN pre b ON a.tok = b.tok AND a.doc_id < b.doc_id),
        |i AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter
        |  FROM cand c JOIN tok ta ON ta.doc_id = c.doc_a
        |  JOIN tok tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, na.n AS n_a, nb.n AS n_b, i.inter,
        |  (1000000 * i.inter) // (na.n + nb.n - i.inter) AS jacc_ppm
        |FROM i JOIN n na ON na.doc_id = i.doc_a
        |JOIN n nb ON nb.doc_id = i.doc_b
        |WHERE 9 * i.inter >= 4 * (na.n + nb.n)
        |ORDER BY doc_a, doc_b""".stripMargin),

    Gate("dedup_winnow", { (s, dir) =>
      // MOSS winnowing fingerprint overlap: min-of-window over positional
      // md5 4-gram hashes (window 8), full windows only, boilerplate
      // fingerprints (df > 20) pruned before the pair equi-join. The
      // CONTIGUOUS-overlap complement of the set-based lanes: any shared
      // run of >= w+n-1 = 11 words is structurally guaranteed to share a
      // fingerprint (winnowing theorem), at ~2/(w+1) fingerprint density.
      Dedup.winnowPairs(tbl(s, dir, "documents").select("doc_id", "text"))
        .orderBy(desc("shared_fps"), col("doc_a"), col("doc_b"))
    },
      // same md5-15-hex gram lane as dedup_spans; the window min is a
      // BOUNDED sliding frame on both engines, full windows only
      // (pos <= ng - 8), df <= 20 prune before the pair join
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
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS BIGINT) AS shared_fps
        |  FROM r a JOIN r b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT doc_a, doc_b, shared_fps FROM p
        |ORDER BY shared_fps DESC, doc_a, doc_b""".stripMargin),

    Gate("dedup_cdc_chunks", { (s, dir) =>
      // content-defined chunking (rsync/borg boundaries at word level):
      // a chunk starts where the 4-gram ending just before it hashes
      // ≡ 0 mod 16 (expected ~16-word chunks that RE-ALIGN after
      // insertions, unlike fixed spans); shared chunk hashes counted
      // across docs — the shifted/edited near-copy detector
      Dedup.cdcSharedChunks(tbl(s, dir, "documents").select("doc_id", "text"))
        .orderBy(desc("n_occ"), col("h"))
    },
      // boundary flags from the same positional md5 4-gram lane; chunk
      // id = growing-frame running sum; chunk text re-joined in pos
      // order (string_agg ORDER BY ≡ Spark's sorted collect_list)
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, ws, list_transform(range(0, len(ws) - 3),
        |    i -> ('0x' || substring(md5(
        |      array_to_string(ws[i + 1 : i + 4], ' ')), 1, 15))::BIGINT)
        |    AS gh FROM d),
        |w AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, ws[i + 1] AS w,
        |    CASE WHEN i >= 4 AND gh[i - 4 + 1] % 16 = 0
        |      THEN 1 ELSE 0 END AS f
        |  FROM (SELECT doc_id, ws, gh, unnest(range(0, len(ws))) AS i
        |    FROM g)),
        |c AS (SELECT doc_id, pos, w, sum(f) OVER (PARTITION BY doc_id
        |    ORDER BY pos) AS chunk FROM w),
        |ch AS (SELECT doc_id, chunk,
        |    string_agg(w, ' ' ORDER BY pos) AS ctext,
        |    CAST(count(*) AS BIGINT) AS n_words
        |  FROM c GROUP BY 1, 2),
        |h AS (SELECT doc_id,
        |    ('0x' || substring(md5(ctext), 1, 15))::BIGINT AS h, n_words
        |  FROM ch)
        |SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occ, min(n_words) AS n_words
        |FROM h GROUP BY h HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_occ DESC, h""".stripMargin),

    Gate("dedup_containment", { (s, dir) =>
      // asymmetric n-gram CONTAINMENT |A∩B| / |A| — quote/excerpt
      // detection: a short doc embedded in a longer one scores ~1 where
      // symmetric Jaccard stays tiny and minhash never fires. Exact
      // all-pairs on the bounded 50-doc slice + injected 8-word prefix
      // excerpts of the first 5 docs (each contained in its original).
      val base = tbl(s, dir, "documents").where(col("doc_id") < 50)
        .select("doc_id", "text")
      val excerpts = base.where(col("doc_id") < 5)
        .select((col("doc_id") + 3000000).as("doc_id"),
          expr("concat_ws(' ', slice(split(text, ' '), 1, 8))").as("text"))
      val sh = Dedup.shingles(base.unionByName(excerpts))
      val a = sh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b"))
      a.join(b, col("id_a") =!= col("id_b"))
        .withColumn("containment",
          size(array_intersect(col("sh_a"), col("sh_b"))) / size(col("sh_a")))
        .where(col("containment") >= 0.8)
        .select("id_a", "id_b", "containment")
        .orderBy("id_a", "id_b")
    },
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
        |exc AS (SELECT doc_id + 3000000 AS doc_id,
        |    array_to_string(string_split(text, ' ')[1:8], ' ') AS text
        |  FROM base WHERE doc_id < 5),
        |docs AS (SELECT * FROM base UNION ALL SELECT * FROM exc),
        |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM docs),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(words) - 3, 0) + 2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS s FROM w)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.s, b.s)) / len(a.s) AS containment
        |FROM sh a, sh b WHERE a.doc_id <> b.doc_id
        |  AND len(list_intersect(a.s, b.s)) / len(a.s) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin),

    Gate("dedup_spans", { (s, dir) =>
      // stride-1 exact repeated-span detection (substring-dedup family):
      // per doc, how many of its 8-token windows occur anywhere else in
      // the corpus — catches duplicated passages that the aligned
      // paragraph windows of pipe_dedup_paragraphs shift right past.
      // The DEFAULT 120-bit production lane runs UNDER THE ORACLE (DuckDB
      // recomputes both md5 halves); the 60-bit oracleHash lane is pinned
      // ≡ to it on this corpus by OperatorsSpec
      Dedup.duplicateSpans(tbl(s, dir, "documents"), k = 8)
        .orderBy("doc_id")
    },
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sp AS (SELECT doc_id, unnest(range(1, len(w) - 8 + 2)) AS i, w
        |  FROM d WHERE len(w) >= 8),
        |hs AS (SELECT doc_id,
        |    ('0x' || substring(md5(array_to_string(w[i : i + 7], ' ')), 1, 15))::BIGINT AS h,
        |    ('0x' || substring(md5(array_to_string(w[i : i + 7], ' ')), 16, 15))::BIGINT AS h2
        |  FROM sp),
        |c AS (SELECT h, h2, count(*) AS cnt FROM hs GROUP BY h, h2),
        |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
        |  FROM hs JOIN c USING (h, h2) GROUP BY doc_id)
        |SELECT d2.doc_id, coalesce(r.n_spans, 0) AS n_spans,
        |  coalesce(r.n_dup_spans, 0) AS n_dup_spans
        |FROM documents d2 LEFT JOIN r USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    Gate("dedup_survivors", { (s, dir) =>
      // the full dedup chain end-to-end: near-dup pairs -> cluster
      // collapse -> drop non-representatives -> per-source survivor
      // stats. Restricted to doc_id < 200 (+ injected variants) to keep
      // the bench query bounded — the operators are the same at any size.
      val corpus = withInjectedVariants(tbl(s, dir, "documents")
        .where(col("doc_id") < 200)
        .select("doc_id", "source", "text"))
      val clusters = Dedup.connectedComponents(
        Dedup.nearDuplicates(corpus, threshold = 0.3))
      val drop = clusters.where(col("doc_id") =!= col("rep_id"))
        .select("doc_id")
      corpus.join(drop, Seq("doc_id"), "left_anti")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_toks"))
        .orderBy("source")
    },
      """WITH RECURSIVE base AS (SELECT doc_id, source, text FROM documents
        |    WHERE doc_id < 200),
        |vars AS (SELECT doc_id + 1000000 AS doc_id, source,
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
        |reps AS (SELECT u AS doc_id, least(u, min(v)) AS rep_id
        |  FROM reach GROUP BY u)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_toks
        |FROM docs
        |WHERE doc_id NOT IN (SELECT doc_id FROM reps WHERE doc_id != rep_id)
        |GROUP BY source ORDER BY source""".stripMargin),

    Gate("dedup_embedding", { (s, dir) =>
      // embedding-cosine near-dup DEDUP: drop every vector with a
      // >0.9-cosine neighbor at a lower id, dropped or not — order-free,
      // so fully parallel (same injected near-dups as emb_near_pairs);
      // neighbor pairs come from the banded LSH equi-join, not all-pairs
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val all = withInjectedEmbVariants(e)
      Similarity.cosineDedup(all, 0.9, dim = 64).select("vec_id").orderBy("vec_id")
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |v AS (SELECT vec_id + 100000 AS vec_id,
        |    list_concat([emb[1] + 0.05], emb[2:64]) AS emb FROM e WHERE vec_id < 20),
        |a AS (SELECT * FROM e UNION ALL SELECT * FROM v),
        |dup AS (SELECT DISTINCT y.vec_id FROM a x, a y
        |  WHERE x.vec_id < y.vec_id
        |    AND list_dot_product(x.emb, y.emb)
        |      / (sqrt(list_dot_product(x.emb, x.emb)) * sqrt(list_dot_product(y.emb, y.emb))) > 0.9)
        |SELECT vec_id FROM a WHERE vec_id NOT IN (SELECT vec_id FROM dup)
        |ORDER BY vec_id""".stripMargin))

  /** shared by dedup_clusters and dedup_clusters_incr — the incremental
    * label-space fold reproduces the from-scratch labeling exactly */
  private val ccClustersOracleSql: String =
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
        |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
        |SELECT u AS doc_id, least(u, min(v)) AS rep_id
        |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin
}
