package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators.TextStats
import Fixtures._

/** Document-profile gates (`doc_*`) and entity-resolution gates (`er_*`).
  */
object DocErGates {

  def gates: Seq[Gate] = Seq(

    Gate("doc_stats", { (s, dir) =>
      tbl(s, dir, "documents")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          avg("n_chars").as("avg_chars"),
          min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))
        .orderBy("lang", "source")
    },
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  avg(n_chars) AS avg_chars,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin),

    Gate("doc_token_stats", { (s, dir) =>
      TextStats.tokenStats(tbl(s, dir, "documents")).orderBy("doc_id")
    },
      """SELECT doc_id, length(text) AS n_chars,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpeish_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
        |  len(list_distinct(string_split(text, ' ')))
        |    / len(string_split(text, ' ')) AS ttr
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    Gate("doc_quality", { (s, dir) =>
      TextStats.qualityStats(tbl(s, dir, "documents")).orderBy("doc_id")
    },
      """SELECT doc_id,
        |  (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
        |    / length(text) AS punct_ratio,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'on', 'for', 'with')))
        |    AS DOUBLE) / len(string_split(text, ' ')) AS stopword_ratio,
        |  (length(text) - len(string_split(text, ' ')) + 1)
        |    / len(string_split(text, ' ')) AS mean_word_len
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    Gate("doc_repetition", { (s, dir) =>
      // Gopher-style repetition filters: duplicated word/bigram fractions
      TextStats.repetitionStats(tbl(s, dir, "documents")).orderBy("doc_id")
    },
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |b AS (SELECT doc_id, toks,
        |  list_transform(range(1, len(toks)),
        |                 i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
        |  FROM t)
        |SELECT doc_id,
        |  1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
        |    AS dup_word_ratio,
        |  CASE WHEN len(bigrams) = 0 THEN 0.0
        |       ELSE 1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE)
        |              / len(bigrams) END AS dup_bigram_ratio
        |FROM b ORDER BY doc_id""".stripMargin),

    Gate("doc_fingerprint", { (s, dir) =>
      // rolling-hash content fingerprint → duplicate pairs. The oracle
      // checks the PAIR STRUCTURE via md5 equality (DuckDB has no
      // xxhash64): identical iff neither hash collides, which the
      // deterministic fixture guarantees. Dupes injected: docs 0..9
      // re-appear verbatim under doc_id+1000000.
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val dupes = docs.where(col("doc_id") < 10)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      val fp = TextStats.fingerprint(docs.unionByName(dupes))
      fp.as("a").join(fp.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .orderBy("doc_a", "doc_b")
    },
      """WITH d AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 10)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM d a, d b
        |WHERE md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin),

    Gate("er_fuzzy_parts", { (s, dir) =>
      // fuzzy entity resolution on the part-name VALUE space: block on
      // the product noun (last token), length-band prefilter, then
      // levenshtein <= 2 — "cold widget"~"old widget" style variants
      // match, cross-noun pairs are never even candidates. Record counts
      // join back per matched value (Resolve.fuzzyValuePairs).
      val parts = tbl(s, dir, "part").select("p_partkey", "p_name")
      val vals = parts.withColumn("blk",
        element_at(split(col("p_name"), " "), -1))
      val pairs = graft.operators.Resolve
        .fuzzyValuePairs(vals, "p_name", "blk", maxDist = 2)
        .withColumn("dist", col("dist").cast("long"))
      val cnt = parts.groupBy("p_name").agg(count(lit(1)).as("n"))
      pairs
        .join(cnt.select(col("p_name").as("val_a"), col("n").as("n_a")), "val_a")
        .join(cnt.select(col("p_name").as("val_b"), col("n").as("n_b")), "val_b")
        .select("val_a", "val_b", "dist", "n_a", "n_b")
        .orderBy("val_a", "val_b")
    },
      // same blocking (last token) + length band + levenshtein <= 2 on
      // distinct names; DuckDB's levenshtein is the same unit-cost edit
      // distance as Spark's
      """WITH v AS (SELECT DISTINCT p_name AS val,
        |    string_split(p_name, ' ')[-1] AS blk FROM part),
        |pairs AS (SELECT a.val AS val_a, b.val AS val_b,
        |    CAST(levenshtein(a.val, b.val) AS BIGINT) AS dist
        |  FROM v a JOIN v b ON a.blk = b.blk AND a.val < b.val
        |    AND abs(length(a.val) - length(b.val)) <= 2
        |  WHERE levenshtein(a.val, b.val) <= 2),
        |cnt AS (SELECT p_name, CAST(count(*) AS BIGINT) AS n
        |  FROM part GROUP BY p_name)
        |SELECT val_a, val_b, dist, ca.n AS n_a, cb.n AS n_b
        |FROM pairs JOIN cnt ca ON ca.p_name = val_a
        |JOIN cnt cb ON cb.p_name = val_b
        |ORDER BY val_a, val_b""".stripMargin),

    Gate("er_entity_clusters", { (s, dir) =>
      // record-level entity resolution end-to-end: the er_fuzzy_parts
      // pair graph collapsed to entities (connected components on the
      // VALUE space, entity label = min member value) and joined back to
      // records; per multi-variant entity: record count, variant count,
      // min record key. Oracle replays the components as 8 unrolled
      // min-label rounds (diameter of typo-variant chains is far below
      // that; converged rounds are no-ops).
      val parts = tbl(s, dir, "part").select("p_partkey", "p_name")
      val vals = parts.withColumn("blk",
        element_at(split(col("p_name"), " "), -1))
      graft.operators.Resolve
        .resolveEntities(vals, "p_name", "blk", maxDist = 2)
        .groupBy("entity_id")
        .agg(count(lit(1)).as("n_records"),
          countDistinct("p_name").as("n_variants"),
          min("p_partkey").as("min_key"))
        .where(col("n_variants") > 1)
        .orderBy("entity_id")
    },
      (erResolvePrefixSql +
      """SELECT entity_id, CAST(count(*) AS BIGINT) AS n_records,
        |  CAST(count(DISTINCT p_name) AS BIGINT) AS n_variants,
        |  CAST(min(p_partkey) AS BIGINT) AS min_key
        |FROM rec GROUP BY 1 HAVING count(DISTINCT p_name) > 1
        |ORDER BY entity_id""".stripMargin)),

    Gate("er_golden_record", { (s, dir) =>
      // survivorship — the merge step after er_entity_clusters: per
      // resolved entity elect ONE golden record by (longest variant
      // name, then smallest record key) via the packed-BIGINT election
      // (len·10⁹ + (10⁹−1−key); headroom: names ≤ ~60 chars, keys ≪
      // 10⁹), and report the mapping every downstream join uses.
      val parts = tbl(s, dir, "part").select("p_partkey", "p_name")
      val vals = parts.withColumn("blk",
        element_at(split(col("p_name"), " "), -1))
      graft.operators.Resolve
        .resolveEntities(vals, "p_name", "blk", maxDist = 2)
        .groupBy("entity_id")
        .agg(count(lit(1)).as("n_records"),
          max(expr("CAST(length(p_name) AS BIGINT) * 1000000000L + " +
            "(999999999L - p_partkey)")).as("pack"))
        .select(col("entity_id"), col("n_records"),
          expr("999999999L - pack % 1000000000L").as("golden_key"),
          expr("pack div 1000000000L").as("golden_len"))
        .orderBy("entity_id")
    },
      // survivorship: packed (len, inverted-key) election per entity
      (erResolvePrefixSql +
      """SELECT entity_id, CAST(count(*) AS BIGINT) AS n_records,
        |  CAST(999999999 - (max(CAST(length(p_name) AS BIGINT)
        |    * 1000000000 + (999999999 - p_partkey)) % 1000000000)
        |    AS BIGINT) AS golden_key,
        |  CAST(max(CAST(length(p_name) AS BIGINT) * 1000000000
        |    + (999999999 - p_partkey)) // 1000000000 AS BIGINT)
        |    AS golden_len
        |FROM rec GROUP BY 1 ORDER BY entity_id""".stripMargin)))

  // the blocked fuzzy-pair + 8-round min-label resolution shared
  // by er_entity_clusters and er_golden_record (components by
  // unrolled MATERIALIZED CTEs; self-loop row covers own+neighbor
  // labels; rec = every part row tagged with its entity label)
  private val erResolvePrefixSql: String =
      """WITH v AS (SELECT DISTINCT p_name AS val,
        |    string_split(p_name, ' ')[-1] AS blk FROM part),
        |pairs AS MATERIALIZED (SELECT a.val AS val_a, b.val AS val_b
        |  FROM v a JOIN v b ON a.blk = b.blk AND a.val < b.val
        |    AND abs(length(a.val) - length(b.val)) <= 2
        |  WHERE levenshtein(a.val, b.val) <= 2),
        |mv AS MATERIALIZED (SELECT DISTINCT val FROM (
        |  SELECT val_a AS val FROM pairs
        |  UNION ALL SELECT val_b FROM pairs)),
        |und AS MATERIALIZED (
        |  SELECT val_a AS vv, val_b AS nb FROM pairs
        |  UNION ALL SELECT val_b, val_a FROM pairs
        |  UNION ALL SELECT val, val FROM mv),
        |l0 AS MATERIALIZED (SELECT val, val AS lbl FROM mv),
        |l1 AS MATERIALIZED (SELECT u.vv AS val, min(x.lbl) AS lbl
        |  FROM und u JOIN l0 x ON x.val = u.nb GROUP BY u.vv),
        |l2 AS MATERIALIZED (SELECT u.vv AS val, min(x.lbl) AS lbl
        |  FROM und u JOIN l1 x ON x.val = u.nb GROUP BY u.vv),
        |l3 AS MATERIALIZED (SELECT u.vv AS val, min(x.lbl) AS lbl
        |  FROM und u JOIN l2 x ON x.val = u.nb GROUP BY u.vv),
        |l4 AS MATERIALIZED (SELECT u.vv AS val, min(x.lbl) AS lbl
        |  FROM und u JOIN l3 x ON x.val = u.nb GROUP BY u.vv),
        |l5 AS MATERIALIZED (SELECT u.vv AS val, min(x.lbl) AS lbl
        |  FROM und u JOIN l4 x ON x.val = u.nb GROUP BY u.vv),
        |l6 AS MATERIALIZED (SELECT u.vv AS val, min(x.lbl) AS lbl
        |  FROM und u JOIN l5 x ON x.val = u.nb GROUP BY u.vv),
        |l7 AS MATERIALIZED (SELECT u.vv AS val, min(x.lbl) AS lbl
        |  FROM und u JOIN l6 x ON x.val = u.nb GROUP BY u.vv),
        |l8 AS MATERIALIZED (SELECT u.vv AS val, min(x.lbl) AS lbl
        |  FROM und u JOIN l7 x ON x.val = u.nb GROUP BY u.vv),
        |rec AS (SELECT p.p_partkey, p.p_name,
        |    coalesce(e.lbl, p.p_name) AS entity_id
        |  FROM part p LEFT JOIN l8 e ON e.val = p.p_name)
        |""".stripMargin
}
