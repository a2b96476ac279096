package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.obs.Meter
import graft.operators.{Dedup, Similarity}
import Fixtures._

/** Embedding gates (`emb_*`): exact and approximate nearest neighbours
  * (LSH, binary, IVF, IVF-PQ, direct and persisted, with their maintenance
  * lifecycles), semantic dedup, clustering and projections.
  */
object EmbGates {

  def gates: Seq[Gate] = Seq(

    Gate("emb_clusters", { (s, dir) =>
      // embedding-space cluster collapse: banded-LSH near-pair graph
      // (equi-join candidates, exact rerank) -> distributed min-label
      // connected components — the same composition as dedup_clusters but
      // over cosine edges. Oracle = recursive CTE over the exact pair set.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      Dedup.connectedComponents(
          Similarity.bandedNearPairs(withInjectedEmbVariants(e), 0.9, dim = 64)
            .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
        .orderBy("doc_id")
    },
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |v AS (SELECT vec_id + 100000 AS vec_id,
        |    list_concat([emb[1] + 0.05], emb[2:64]) AS emb FROM e WHERE vec_id < 20),
        |a AS (SELECT * FROM e UNION ALL SELECT * FROM v),
        |pairs AS (SELECT x.vec_id AS u, y.vec_id AS v FROM a x, a y
        |  WHERE x.vec_id < y.vec_id
        |    AND list_dot_product(x.emb, y.emb)
        |      / (sqrt(list_dot_product(x.emb, x.emb)) * sqrt(list_dot_product(y.emb, y.emb))) > 0.9),
        |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
        |reach(u, v) AS (SELECT u, v FROM edges
        |  UNION SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u)
        |SELECT u AS doc_id, least(u, min(v)) AS rep_id
        |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin),

    Gate("emb_topk_cosine", { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.cosineTopK(e, broadcast(q), 5)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 10),
        |p AS (SELECT qid, e.vec_id AS cid,
        |    list_dot_product(qemb, emb)
        |      / (sqrt(list_dot_product(qemb, qemb)) * sqrt(list_dot_product(emb, emb))) AS sim
        |  FROM q, e WHERE e.vec_id <> qid),
        |r AS (SELECT qid, cid, sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rnk
        |  FROM p)
        |SELECT qid, cid, rnk, round(sim, 6) AS sim
        |FROM r WHERE rnk <= 5
        |ORDER BY qid, rnk""".stripMargin),

    Gate("emb_topk_mips", { (s, dir) =>
      // max-inner-product retrieval (unnormalized relevance embeddings):
      // same broadcast-NLJ shape as cosine, ranked on the raw dot —
      // magnitude is signal, so no norm division
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.mipsTopK(e, broadcast(q), 5)
        .withColumn("ip", round(col("ip"), 6))
        .orderBy("qid", "rnk")
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 10),
        |p AS (SELECT qid, e.vec_id AS cid,
        |    list_dot_product(qemb, emb) AS ip
        |  FROM q, e WHERE e.vec_id <> qid),
        |r AS (SELECT qid, cid, ip,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY ip DESC, cid) AS BIGINT) AS rnk
        |  FROM p)
        |SELECT qid, cid, rnk, round(ip, 6) AS ip
        |FROM r WHERE rnk <= 5
        |ORDER BY qid, rnk""".stripMargin),

    Gate("emb_topk_filtered", { (s, dir) =>
      // hybrid search: top-3 cosine neighbors restricted to the query's
      // own label — equi-join on the filter key, never a cross join
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"),
          col("label"))
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"), col("label"))
      Similarity.cosineTopKGrouped(e, broadcast(q), 3)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qemb, label AS q_grp
        |  FROM e WHERE vec_id < 10),
        |p AS (SELECT qid, e.vec_id AS cid, e.label,
        |    list_dot_product(qemb, emb)
        |      / (sqrt(list_dot_product(qemb, qemb)) * sqrt(list_dot_product(emb, emb))) AS sim
        |  FROM q JOIN e ON q.q_grp = e.label AND e.vec_id <> q.qid),
        |r AS (SELECT qid, cid, label, sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rnk
        |  FROM p)
        |SELECT qid, cid, label, rnk, round(sim, 6) AS sim
        |FROM r WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin),

    Gate("emb_knn_label", { (s, dir) =>
      // kNN label propagation: held-out queries (vec_id < 15) classified
      // by majority vote of their 7 exact-cosine nearest labeled corpus
      // neighbors (vote ties -> smallest label). Neighbor sets are pinned
      // by the shared (sim desc, vec_id) tie-break, votes are integers —
      // the whole row is exact cross-engine. Scoring join = the same
      // broadcast NLJ as emb_topk_cosine; at corpus-scale query sets the
      // IVF/LSH candidate generators slot in for the NLJ.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"),
          col("label").cast("long").as("label"))
      val corpus = e.where(col("vec_id") >= 15)
      val q = e.where(col("vec_id") < 15)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.knnClassify(corpus, broadcast(q), 7)
        .join(e.select(col("vec_id").as("qid"), col("label").as("true_label")),
          "qid")
        .select(col("qid"), col("pred_label"), col("votes"),
          col("true_label"),
          when(col("pred_label") === col("true_label"), 1L).otherwise(0L)
            .as("hit"))
        .orderBy("qid")
    },
      // same (sim desc, cid) neighbor tie-break and (votes desc, label)
      // vote tie-break; every output column is an exact integer
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    CAST(label AS BIGINT) AS label FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 15),
        |c AS (SELECT * FROM e WHERE vec_id >= 15),
        |p AS (SELECT qid, c.vec_id AS cid, c.label,
        |    list_dot_product(qemb, emb)
        |      / (sqrt(list_dot_product(qemb, qemb))
        |         * sqrt(list_dot_product(emb, emb))) AS sim
        |  FROM q, c),
        |r AS (SELECT qid, label,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid)
        |      AS rnk
        |  FROM p),
        |v AS (SELECT qid, label, CAST(count(*) AS BIGINT) AS votes
        |  FROM r WHERE rnk <= 7 GROUP BY qid, label),
        |w AS (SELECT qid, label AS pred_label, votes,
        |    row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label)
        |      AS vr
        |  FROM v)
        |SELECT w.qid, w.pred_label, w.votes, t.label AS true_label,
        |  CAST(CASE WHEN w.pred_label = t.label THEN 1 ELSE 0 END
        |    AS BIGINT) AS hit
        |FROM w JOIN e t ON t.vec_id = w.qid
        |WHERE w.vr = 1 ORDER BY w.qid""".stripMargin),

    Gate("emb_near_pairs", { (s, dir) =>
      // embedding-cosine near-dup: corpus is random (max cross sim ~0.51),
      // so near-dups are injected: vec_id+100000 with emb[0] shifted +0.05
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val all = withInjectedEmbVariants(e)
      // banded LSH candidates + exact rerank — equi-join on (band,
      // bucket), never the O(n²) all-pairs join; recall vs the exact
      // oracle is total on the gate corpora (cross-checked in
      // OperatorsSpec against Similarity.cosineNearPairs)
      Similarity.bandedNearPairs(all, 0.9, dim = 64)
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
        .orderBy("id_a", "id_b")
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |v AS (SELECT vec_id + 100000 AS vec_id,
        |    list_concat([emb[1] + 0.05], emb[2:64]) AS emb FROM e WHERE vec_id < 20),
        |a AS (SELECT * FROM e UNION ALL SELECT * FROM v),
        |p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
        |    list_dot_product(x.emb, y.emb)
        |      / (sqrt(list_dot_product(x.emb, x.emb)) * sqrt(list_dot_product(y.emb, y.emb))) AS sim
        |  FROM a x, a y WHERE x.vec_id < y.vec_id)
        |SELECT id_a, id_b, round(sim, 6) AS sim FROM p WHERE sim > 0.9
        |ORDER BY id_a, id_b""".stripMargin),

    Gate("emb_semdedup", { (s, dir) =>
      // SemDeDup: stride-sampled coarse cells (centroids from the BASE
      // corpus, ids = sampled vec_ids) + intra-cell cosine collapse at
      // tau=0.95; the only >=tau pairs are the injected +100000 variants
      // (cosine >= 0.9987; organic max cross-sim ~0.51)
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val all = withInjectedEmbVariants(e)
      val cents = Similarity.strideCentroids(e, 50)
      Similarity.semDedup(all, cents, 0.95)
        .select(col("vec_id"), col("cell"), col("dup_of"),
          round(col("sim"), 6).as("sim"))
        .orderBy("vec_id")
    },
      // SemDeDup brute-force recomputation: same stride centroids (BASE
      // corpus vec_id % 50 = 0, ids = the sampled vec_ids), argmax-cosine
      // assignment with ties to the lowest centroid id, then keeper =
      // smallest same-cell vec_id within tau. arg_min(sim, o_id) mirrors
      // Spark's min(struct(o_id, sim)).
      semDedupOracleSql),

    Gate("emb_cluster_stats", { (s, dir) =>
      // cluster observability over the coarse cells (the k-means QA
      // view run before SemDeDup/prototype passes — spot dead, loose,
      // or skewed cells): per cell n_vecs, summed member→centroid
      // cosine in exact fixed point (floor(csim·10⁶) per member —
      // csim doubles are bit-identical cross-engine via the graft_dot
      // ≡ list_dot_product fold, and BIGINT sums are order-free), and
      // the weakest member's cosine (min — order-free, emitted raw).
      // Zero-shuffle codegen assignment + ONE hash agg.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cents = Similarity.strideCentroids(e, 50)
      Similarity.assignCells(e, cents)
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"),
          sum(expr("CAST(floor(csim * 1000000) AS BIGINT)"))
            .as("cohesion_fp"),
          min("csim").as("min_csim"))
        .orderBy("cell")
    },
      // cell assignment replayed like semDedupOracleSql (first-max ≡
      // ORDER BY csim DESC, cent_id), then exact integer cohesion sums
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cent_id, emb AS cemb FROM e
        |  WHERE vec_id % 50 = 0),
        |asg AS (SELECT vec_id, cell, csim FROM (
        |    SELECT x.vec_id, c.cent_id AS cell,
        |      list_dot_product(x.emb, c.cemb)
        |        / (sqrt(list_dot_product(x.emb, x.emb))
        |           * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY list_dot_product(x.emb, c.cemb)
        |          / (sqrt(list_dot_product(x.emb, x.emb))
        |             * sqrt(list_dot_product(c.cemb, c.cemb))) DESC,
        |        c.cent_id) AS rn
        |    FROM e x, cents c) WHERE rn = 1)
        |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(CAST(floor(csim * 1000000) AS BIGINT)) AS BIGINT)
        |    AS cohesion_fp,
        |  min(csim) AS min_csim
        |FROM asg GROUP BY cell ORDER BY cell""".stripMargin),

    Gate("emb_semdedup_incr", { (s, dir) =>
      // incremental SemDeDup: the 20 injected variants arrive as a batch
      // against the BASE corpus's pre-assigned cell index; a variant
      // whose +0.05 shift keeps it in its original's cell collapses onto
      // it, a cell-boundary flip surfaces as a keeper
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val batch = e.where(col("vec_id") < 20).select(
        (col("vec_id") + 100000).as("vec_id"),
        concat(array(element_at(col("emb"), 1) + 0.05),
          expr("slice(emb, 2, 63)")).as("emb"))
      val cents = Similarity.strideCentroids(e, 50)
      val idx = Similarity.assignCells(e, cents).localCheckpoint(true)
      Similarity.semDedupIncremental(idx, batch, cents, 0.95)
        .select(col("vec_id"), col("cell"), col("dup_of"),
          round(col("sim"), 6).as("sim"))
        .orderBy("vec_id")
    },
      // incremental SemDeDup: variants-vs-base with the same centroid/
      // assignment rules as emb_semdedup; batch vector dups iff a same-cell
      // BASE vector is within tau
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |v AS (SELECT vec_id + 100000 AS vec_id,
        |    list_concat([emb[1] + 0.05], emb[2:64]) AS emb FROM e WHERE vec_id < 20),
        |cents AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id % 50 = 0),
        |asgc AS (SELECT vec_id, emb, cell FROM (
        |    SELECT x.vec_id, x.emb, c.cent_id AS cell,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY list_dot_product(x.emb, c.cemb)
        |          / (sqrt(list_dot_product(x.emb, x.emb))
        |             * sqrt(list_dot_product(c.cemb, c.cemb))) DESC,
        |        c.cent_id) AS rn
        |    FROM e x, cents c) WHERE rn = 1),
        |asgb AS (SELECT vec_id, emb, cell FROM (
        |    SELECT x.vec_id, x.emb, c.cent_id AS cell,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY list_dot_product(x.emb, c.cemb)
        |          / (sqrt(list_dot_product(x.emb, x.emb))
        |             * sqrt(list_dot_product(c.cemb, c.cemb))) DESC,
        |        c.cent_id) AS rn
        |    FROM v x, cents c) WHERE rn = 1),
        |pairs AS (SELECT b.vec_id, o.vec_id AS o_id,
        |    list_dot_product(b.emb, o.emb)
        |      / (sqrt(list_dot_product(b.emb, b.emb))
        |         * sqrt(list_dot_product(o.emb, o.emb))) AS sim
        |  FROM asgb b, asgc o WHERE b.cell = o.cell),
        |d AS (SELECT vec_id, min(o_id) AS dup_of,
        |    round(arg_min(sim, o_id), 6) AS sim
        |  FROM pairs WHERE sim >= 0.95 GROUP BY vec_id)
        |SELECT g.vec_id, g.cell, d.dup_of, d.sim
        |FROM asgb g LEFT JOIN d ON g.vec_id = d.vec_id
        |ORDER BY g.vec_id""".stripMargin),

    Gate("emb_semdedup_stream", { (s, dir) =>
      // STREAMING semantic dedup under the oracle: the emb_semdedup gate
      // corpus replayed vec_id-ordered in three micro-batches + a re-sent
      // final batch (every re-sent vector is an exact dup of its first
      // arrival — decisions must not change). First-arrival-wins +
      // ordered arrival ⇒ the decision table equals batch semDedup, so
      // this query shares emb_semdedup's oracle SQL verbatim.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val work = java.nio.file.Files
        .createTempDirectory("graft-semstream-q").toString
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cents = Similarity.strideCentroids(e, 50)
      val rows = withInjectedEmbVariants(e).orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Double])]
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val src = mem.toDF.toDF("vec_id", "emb")
        val q = graft.streaming.Streaming
          .semDedupStream(src, cents, s"$work/state", s"$work/out", 0.95)
          .option("checkpointLocation", s"$work/ckpt").start()
        try {
          val (b1, rest) = rows.splitAt(rows.length / 3)
          val (b2, b3) = rest.splitAt(rest.length / 2)
          mem.addData(b1.toSeq); q.processAllAvailable()
          mem.addData(b2.toSeq); q.processAllAvailable()
          mem.addData(b3.toSeq); q.processAllAvailable()
          mem.addData(b3.toSeq); q.processAllAvailable() // re-sent data
        } finally q.stop() // never leak a running query into later queries
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      // re-sent rows duplicate their vec_ids in the decision log (new
      // batch_id, all marked dup): keep each vector's FIRST decision
      s.read.parquet(s"$work/out")
        .groupBy("vec_id")
        .agg(min(struct(col("batch_id"), col("cell"), col("dup_of"),
          col("sim"))).as("k"))
        .select(col("vec_id"), col("k.cell").as("cell"),
          col("k.dup_of").as("dup_of"), round(col("k.sim"), 6).as("sim"))
        .orderBy("vec_id")
    },
      // the streaming replay's first-decision table ≡ batch SemDeDup under
      // vec_id-ordered arrival — SAME oracle SQL, shared verbatim
      semDedupOracleSql),

    Gate("emb_prototypes", { (s, dir) =>
      // prototypicality sampling (SSL-prune/D4 family): top-3 most
      // prototypical vectors per coarse cell by cosine-to-centroid
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cents = Similarity.strideCentroids(e, 50)
      Similarity.prototypes(e, cents, 3)
        .select(col("cell"), col("vec_id"), round(col("csim"), 6).as("csim"),
          col("rnk"))
        .orderBy("cell", "rnk")
    },
      // prototypicality: same assignment CTE as emb_semdedup, the argmax
      // row's sim IS the cosine-to-own-centroid; rank desc per cell
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cents AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id % 50 = 0),
        |asg AS (SELECT vec_id, cell, csim FROM (
        |    SELECT x.vec_id, c.cent_id AS cell,
        |      list_dot_product(x.emb, c.cemb)
        |        / (sqrt(list_dot_product(x.emb, x.emb))
        |           * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY list_dot_product(x.emb, c.cemb)
        |          / (sqrt(list_dot_product(x.emb, x.emb))
        |             * sqrt(list_dot_product(c.cemb, c.cemb))) DESC,
        |        c.cent_id) AS rn
        |    FROM e x, cents c) WHERE rn = 1),
        |r AS (SELECT cell, vec_id, csim,
        |    row_number() OVER (PARTITION BY cell
        |      ORDER BY csim DESC, vec_id) AS rnk FROM asg)
        |SELECT cell, vec_id, round(csim, 6) AS csim, rnk FROM r WHERE rnk <= 3
        |ORDER BY cell, rnk""".stripMargin),

    Gate("emb_ann_lsh", { (s, dir) =>
      // ANN scale path: random-hyperplane LSH buckets + exact rerank per
      // bucket — an equi-join on bucket instead of the all-pairs cross
      // product (emb_near_pairs/emb_topk_cosine are the exact baselines)
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      Similarity.annTopK(e, dim = 64, k = 3, planes = 8)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    }, {
      // generated with the SAME plane-component literals the Spark operator
      // embeds (Similarity.planeComponent), so bucket assignment matches
      // bit-for-bit; DuckDB arrays are 1-based hence emb[j+1]
      val bucket = (0 until 8).map { p =>
        val terms = (0 until 64)
          .map(j => s"emb[${j + 1}] * ${operators.Similarity.planeComponent(p, j)}")
          .mkString(" + ")
        s"(CASE WHEN ($terms) >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |b AS (SELECT vec_id, emb, $bucket AS bucket FROM e),
        |p AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    list_dot_product(q.emb, c.emb)
        |      / (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb))) AS sim
        |  FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id),
        |r AS (SELECT qid, cid, sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rnk
        |  FROM p)
        |SELECT qid, cid, rnk, round(sim, 6) AS sim FROM r WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin
    }),

    Gate("emb_ann_binary", { (s, dir) =>
      // ANN scale path #4: binary (sign) quantization — the first pass
      // ranks by Hamming distance over 64 packed sign bits (16 bytes a
      // vector, codes-only scan), the exact cosine rerank touches only
      // the 10 survivors per query. Deterministic end to end: integer
      // Hamming with id tiebreak, then the cosineTopK rank convention.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.binaryTopK(e, q, k = 3, rerankDepth = 10)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },
      // the oracle needn't pack bits: xor+popcount over two 32-bit
      // halves == counting dims whose (x > 0) sign test disagrees
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 20),
        |h AS (SELECT q.qid, e.vec_id AS cid, e.emb, q.qemb,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      j -> CASE WHEN (q.qemb[j] > 0) <> (e.emb[j] > 0)
        |        THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
        |  FROM q JOIN e ON e.vec_id <> q.qid),
        |c AS (SELECT qid, cid, emb, qemb, hamming,
        |    row_number() OVER (PARTITION BY qid ORDER BY hamming, cid)
        |      AS crnk
        |  FROM h),
        |r AS (SELECT qid, cid, hamming,
        |    list_dot_product(qemb, emb) / (sqrt(list_dot_product(qemb, qemb))
        |      * sqrt(list_dot_product(emb, emb))) AS sim
        |  FROM c WHERE crnk <= 10),
        |t AS (SELECT qid, cid, hamming, sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid)
        |      AS BIGINT) AS rnk
        |  FROM r)
        |SELECT qid, cid, rnk, hamming, round(sim, 6) AS sim FROM t
        |WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin),

    Gate("emb_ann_ivf", { (s, dir) =>
      // ANN scale path #2: IVF — inlined stride-sampled centroids, zero-
      // shuffle cell assignment, nprobe=2 probe, equi-join inverted-file
      // scan + exact rerank (emb_ann_lsh is the hyperplane-LSH sibling)
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      Similarity.ivfTopK(e, k = 3, stride = 50, nprobe = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    }, ivfOracleSql),

    Gate("emb_ann_ivf_indexed", { (s, dir) =>
      // IVF through a MATERIALIZED index (the q_bm25_indexed move for
      // vectors): centroids + home-cell PARTITION DIRS with stored
      // norms persisted once; the search probe-assigns only the query
      // side and reads only probed cell dirs — identical results to
      // emb_ann_ivf by construction, same oracle verbatim.
      val work = ivfBaseIndex(s, dir)
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfIndexTopK(s, work, q, k = 3, nprobe = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },
      // identical computation through the PERSISTED index — same oracle
      ivfOracleSql),

    Gate("emb_ann_ivf_filtered", { (s, dir) =>
      // attribute-filtered ANN on the persisted index (r15): candidates
      // must satisfy src = 1 (src = vec_id % 4, carried into the cell
      // rows at build). Pre-filter lane — the predicate pushes into the
      // partition-pruned parquet scan, top-k exact over matching
      // candidates in the probed cells; some queries legitimately return
      // < k rows. Shares the read-only base fixture; oracle = the IVF
      // replay with the same predicate on the candidate side.
      val work = ivfBaseIndex(s, dir)
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfIndexTopKFiltered(s, work, q, k = 3,
          pred = col("src") === 1, nprobe = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },
      // same replay with the attribute predicate on the CANDIDATE side
      // only (queries stay unfiltered); rank over the filtered candidate
      // set, so sparse queries legitimately return < k rows
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id % 50 = 0),
        |s AS (SELECT e.vec_id, e.emb, c.cent_id,
        |    list_dot_product(e.emb, c.cemb)
        |      / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim
        |  FROM e, c),
        |r AS (SELECT vec_id, emb, cent_id, csim,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crnk
        |  FROM s),
        |cells AS (SELECT vec_id, emb, cent_id AS cell FROM r WHERE crnk = 1),
        |probes AS (SELECT vec_id AS qid, emb AS qemb, cent_id AS cell FROM r WHERE crnk <= 2),
        |p AS (SELECT qid, cells.vec_id AS cid,
        |    list_dot_product(qemb, emb)
        |      / (sqrt(list_dot_product(qemb, qemb)) * sqrt(list_dot_product(emb, emb))) AS sim
        |  FROM probes JOIN cells USING (cell)
        |  WHERE cells.vec_id <> qid AND cells.vec_id % 4 = 1),
        |t AS (SELECT qid, cid, sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rnk
        |  FROM p)
        |SELECT qid, cid, rnk, round(sim, 6) AS sim FROM t WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin),

    Gate("emb_ann_ivf_mor", { (s, dir) =>
      // MERGE-ON-READ takedown on the vector index (r15): decoys delete
      // as an append-only tombstone sidecar — NO cell rewrite — and the
      // search anti-joins the pending tombstones (the VersionedTable DV
      // move for vectors). Content nets to the corpus, so the MASKED
      // search shares emb_ann_ivf's oracle verbatim; the fold
      // (compactIvfTombstones ⇒ staged COW) is pinned ≡ in OperatorsSpec.
      import s.implicits._
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivf-mor").toString + "/idx"
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cents = Similarity.strideCentroids(e, 50)
      val decoys = e.where(col("vec_id") < 100)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("emb"))
      Similarity.buildIvfIndexWith(e.unionByName(decoys), work, cents)
      Similarity.deleteFromIvfIndexMor(s, work,
        (10000000L until 10000100L).toDF("vec_id"))
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfIndexTopK(s, work, q, k = 3, nprobe = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },
      // tombstone-masked content nets to the corpus — same oracle verbatim
      ivfOracleSql),

    Gate("emb_ann_ivf_maintained", { (s, dir) =>
      // the persisted index under its FULL LIFECYCLE: build on ⅔ of the
      // corpus plus 100 decoy vectors (shifted-id copies — the rows a
      // takedown/dedup pass later removes) under a FROZEN external
      // quantizer, append the remaining ⅓, then DELETE the decoys via
      // the touched-cells-only COW lane. Final index content ≡ the full
      // corpus, so the search matches emb_ann_ivf row-for-row — same
      // oracle verbatim; post-delete ≡ fresh-build is additionally
      // pinned in OperatorsSpec.
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivf-mnt").toString + "/idx"
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cents = Similarity.strideCentroids(e, 50)
      val decoys = e.where(col("vec_id") < 100)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("emb"))
      Similarity.buildIvfIndexWith(
        e.where(col("vec_id") % 3 < 2).unionByName(decoys), work, cents)
      Similarity.appendToIvfIndex(e.where(col("vec_id") % 3 === 2), work)
      Similarity.deleteFromIvfIndex(s, work,
        (10000000L until 10000100L).toSeq)
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfIndexTopK(s, work, q, k = 3, nprobe = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },
      // build+append+delete lifecycle nets out to the full corpus under
      // the same frozen quantizer — same oracle verbatim
      ivfOracleSql),

    Gate("emb_ann_ivf_compacted", { (s, dir) =>
      // the small-file remedy under the gate: the index fills in over
      // FOUR append batches (one file per touched cell each), then
      // compactIvfIndex rewrites every multi-file cell to one file via
      // the staged COW machinery. Content-preserving, so the search
      // matches emb_ann_ivf row-for-row — same oracle; the file-count
      // drop + pre≡post search are pinned in OperatorsSpec.
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivf-cpt").toString + "/idx"
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cents = Similarity.strideCentroids(e, 50)
      Similarity.buildIvfIndexWith(e.where(col("vec_id") % 4 === 0), work, cents)
      (1 to 3).foreach(i =>
        Similarity.appendToIvfIndex(e.where(col("vec_id") % 4 === i), work))
      Similarity.compactIvfIndex(s, work, maxFilesPerCell = 1)
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfIndexTopK(s, work, q, k = 3, nprobe = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },
      // compaction is content-preserving — same search, same oracle
      ivfOracleSql),

    Gate("emb_ann_ivf_rebuilt", { (s, dir) =>
      // the drift remedy closing the index lifecycle: build under a
      // frozen stride quantizer, append the rest of the corpus, then
      // REBUILD — retrain the exact-integer Lloyd recipe on the index's
      // own content and re-cell into a v2 root (caller flips the
      // pointer). Content ≡ corpus, so the rebuilt search coincides
      // with the ad-hoc trained lane — emb_ann_ivf_trained's oracle
      // verbatim; rebuilt ≡ ad-hoc is also pinned in OperatorsSpec.
      val base = java.nio.file.Files
        .createTempDirectory("graft-ivf-rb").toString
      val (idx1, idx2) = (s"$base/v1", s"$base/v2")
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      // phase tags (guide §1.5): build+append+rebuild+search bill to one
      // bench row — make each phase attributable in the job log
      val sc = s.sparkContext
      Meter.tagged(sc, "ivf-rebuilt:build") {
        Similarity.buildIvfIndex(e.where(col("vec_id") % 3 < 2), idx1,
          stride = 50)
      }
      Meter.tagged(sc, "ivf-rebuilt:append") {
        Similarity.appendToIvfIndex(e.where(col("vec_id") % 3 === 2), idx1)
      }
      Meter.tagged(sc, "ivf-rebuilt:rebuild") {
        Similarity.rebuildIvfIndex(s, idx1, idx2, stride = 50, iters = 2)
      }
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfIndexTopK(s, idx2, q, k = 3, nprobe = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    }, ivfTrainedOracleSql),

    Gate("emb_ann_ivf_stream", { (s, dir) =>
      // STREAMING maintenance of the persisted IVF index (the
      // q_bm25_indexed streaming move for vectors): embedding
      // micro-batches replay through foreachBatch → applyIvfBatch,
      // which scrubs-then-appends under a batch-id commit gate — a
      // checkpoint-replayed batch is skipped, a crashed half-append is
      // repaired, never duplicated (batch 1 is re-delivered here to
      // prove it). Final search ≡ the batch build ⇒ shares
      // emb_ann_ivf's oracle verbatim.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivf-stream").toString + "/idx"
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cents = Similarity.strideCentroids(e, 50)
      def rows(m: Long) = e.where(col("vec_id") % 3 === m)
        .as[(Long, Seq[Double])].collect().toSeq
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Double])]
      val q = mem.toDF.toDF("vec_id", "emb")
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          Similarity.applyIvfBatch(s, work, b, id, cents)
          // in-loop small-file maintenance (the dedup-state compactEvery
          // move): every 2nd batch, hot cells merge through the staged
          // COW lane — content-preserving, so the commit gate and the
          // scrub-by-content re-delivery repair are unaffected
          if (id % 2 == 1)
            Similarity.compactIvfIndex(s, work, maxFilesPerCell = 2)
          ()
        }
        .option("checkpointLocation", s"$work/../ckpt").start()
      try {
        mem.addData(rows(0)); q.processAllAvailable()
        mem.addData(rows(1)); q.processAllAvailable()
        // at-least-once: re-deliver batch 1's rows under a NEW batch id —
        // the scrub-then-append makes the re-apply idempotent by content
        mem.addData(rows(1)); q.processAllAvailable()
        mem.addData(rows(2)); q.processAllAvailable()
      } finally q.stop()
      val qs = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfIndexTopK(s, work, qs, k = 3, nprobe = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },
      // streaming scrub-then-append maintenance converges to the batch
      // build (re-delivered batch included) — same oracle verbatim
      ivfOracleSql),

    Gate("emb_ann_ivf_sq8", { (s, dir) =>
      // ANN scale path: IVF cell pruning composed with int8 scalar-
      // quantized scoring (FAISS IndexIVFScalarQuantizer) — candidates
      // bounded by nprobe equi-joins, scored on integer code dots
      // (exact at any summation order, BIGINT) instead of raw floats.
      // Completes the family: LSH / IVF / IVF-PQ / binary / SQ8 /
      // IVF-SQ8.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      Similarity.ivfSq8TopK(e, k = 3, stride = 50, nprobe = 2)
        .orderBy("qid", "rnk")
    },
      // IVF probe skeleton (stride-50 centroids, float-cosine argmax,
      // nprobe 2) + the SQ8 quantization CTEs; scoring = integer code
      // dots, rank (dot desc, cid) — no fp tolerance anywhere
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cent_id, emb AS cemb FROM e
        |  WHERE vec_id % 50 = 0),
        |s AS (SELECT e.vec_id, e.emb, c.cent_id,
        |    list_dot_product(e.emb, c.cemb)
        |      / (sqrt(list_dot_product(e.emb, e.emb))
        |         * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim
        |  FROM e, c),
        |r AS (SELECT vec_id, cent_id, csim,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY csim DESC, cent_id) AS crnk
        |  FROM s),
        |cells AS (SELECT vec_id, cent_id AS cell FROM r WHERE crnk = 1),
        |probes AS (SELECT vec_id AS qid, cent_id AS cell FROM r
        |  WHERE crnk <= 2),
        |x AS (SELECT vec_id, CAST(generate_subscripts(emb, 1) AS BIGINT)
        |    AS dim, unnest(emb) AS raw FROM e),
        |pr AS (SELECT dim, min(raw) AS vmin, max(raw) - min(raw) AS sp
        |  FROM x GROUP BY dim),
        |q8 AS (SELECT vec_id, x.dim,
        |    CASE WHEN sp = 0 THEN 0.0
        |      ELSE least(255.0, floor((raw - vmin) * 255.0 / sp)) END AS qv
        |  FROM x JOIN pr USING (dim)),
        |code AS (SELECT vec_id, list(qv ORDER BY dim) AS qc
        |  FROM q8 GROUP BY vec_id),
        |p AS (SELECT probes.qid, cells.vec_id AS cid,
        |    CAST(list_dot_product(qa.qc, ca.qc) AS BIGINT) AS dot
        |  FROM probes JOIN cells USING (cell)
        |  JOIN code qa ON qa.vec_id = probes.qid
        |  JOIN code ca ON ca.vec_id = cells.vec_id
        |  WHERE cells.vec_id <> probes.qid),
        |t AS (SELECT qid, cid, dot,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY dot DESC, cid) AS BIGINT) AS rnk
        |  FROM p)
        |SELECT qid, cid, rnk, dot FROM t WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin),

    Gate("emb_ann_ivf_audited", { (s, dir) =>
      // the CLOSED drift loop (the piece emb_ann_ivf_stream leaves to
      // the operator): the family bootstraps under a deliberately BIASED
      // frozen quantizer (5 centroids sampled from one corner of the
      // corpus — appends immediately drift from it), micro-batches fold
      // in through maintainIvfBatch, and the wired-in audit on the final
      // batch trips rebuild (recall decay / cell skew) → exact-Lloyd
      // retrain on the accumulated content → generation flip. Content ≡
      // corpus by then, so the post-flip search is the trained lane —
      // ivfTrainedOracleSql verbatim. The oracle is what pins that the
      // audit FIRED: without the rebuild the biased-quantizer search
      // diverges from the trained oracle.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val base = java.nio.file.Files
        .createTempDirectory("graft-ivf-aud").toString + "/fam"
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val biased = Similarity.strideCentroids(e.where(col("vec_id") < 40), 8)
      def rows(m: Long) = e.where(col("vec_id") % 3 === m)
        .as[(Long, Seq[Double])].collect().toSeq
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Double])]
      val q = mem.toDF.toDF("vec_id", "emb")
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          Similarity.maintainIvfBatch(s, base, b, id, biased,
            auditEvery = 3, k = 3, nprobe = 2, rebuildStride = 50)
          ()
        }
        .option("checkpointLocation", s"$base/../ckpt").start()
      try {
        mem.addData(rows(0)); q.processAllAvailable()
        mem.addData(rows(1)); q.processAllAvailable()
        mem.addData(rows(2)); q.processAllAvailable()
      } finally q.stop()
      val qs = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfIndexTopK(s, Similarity.ivfCurrentRoot(s, base),
          qs, k = 3, nprobe = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },
      // audit-triggered rebuild on full content ⇒ the trained lane exactly;
      // a silent non-firing audit would hash-diverge from this oracle
      ivfTrainedOracleSql),

    Gate("emb_ann_ivf_stats", { (s, dir) =>
      // per-cell observability for the persisted index — the balance
      // stats that feed auditIvfIndex's rebuild trigger (a hot cell
      // degrades its probes toward a scan; you want to see it BEFORE
      // recall drifts). Counts are home-cell assignment cardinalities,
      // exactly reproducible in SQL; file bytes stay Spark-side (ops
      // signal, not oracle material).
      val work = ivfBaseIndex(s, dir)
      Similarity.ivfIndexStats(s, work)
        .select(col("cell"), col("n_vecs"))
        .orderBy("cell")
    },
      // home-cell assignment cardinalities: the crnk=1 cells of the
      // shared IVF chain, counted per centroid
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id % 50 = 0),
        |s AS (SELECT e.vec_id, c.cent_id,
        |    list_dot_product(e.emb, c.cemb)
        |      / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim
        |  FROM e, c),
        |r AS (SELECT vec_id, cent_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crnk
        |  FROM s)
        |SELECT cent_id AS cell, count(*) AS n_vecs
        |FROM r WHERE crnk = 1 GROUP BY cent_id ORDER BY cell""".stripMargin),

    Gate("emb_ann_ivf_trained", { (s, dir) =>
      // trained-index ANN under the EXACT gate: 2 Lloyd iterations in
      // the integer lane (floor(el·1e6) BIGINT recentering, truncating
      // integer division — Spark div ≡ DuckDB //) make every centroid a
      // deterministic function of exact integers, so the full train →
      // assign → probe → rerank chain reproduces bit-for-bit in SQL.
      // The float-mean trainer can't do this (avg order drifts); this
      // is the lane a production gate would pin its index builds on.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      Similarity.ivfTopKTrainedExact(e, k = 3, stride = 50, nprobe = 2,
          iters = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    }, ivfTrainedOracleSql),

    Gate("emb_ann_ivfpq", { (s, dir) =>
      // ANN scale path #3: IVF + product quantization — coarse cells
      // bound the candidates, PQ asymmetric distance (16 subspaces × a
      // dense stride-5 codebook) scores them from codes alone; the
      // billion-vector memory shape (Similarity.ivfpqTopK)
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      Similarity.ivfpqTopK(e, k = 3, stride = 50, nprobe = 2, m = 16)
        .withColumn("adist", round(col("adist"), 6))
        .orderBy("qid", "rnk")
    }, ivfpqOracleSql),

    Gate("emb_ann_ivfpq_indexed", { (s, dir) =>
      // the PERSISTED codes-only IVF-PQ index (the compressed disk
      // shape: ~m ints per vector + metadata sidecars), searched with
      // the corpus as queries — identical sampling, encode kernel, and
      // ADC arithmetic as the in-memory lane, so emb_ann_ivfpq's oracle
      // is shared verbatim; search I/O is the probed cell partitions
      // of codes only.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val work = ivfpqBaseIndex(s, dir)
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfPqIndexTopK(s, work, q, k = 3, nprobe = 2)
        .withColumn("adist", round(col("adist"), 6))
        .orderBy("qid", "rnk")
    }, ivfpqOracleSql),

    Gate("emb_ann_ivfpq_filtered", { (s, dir) =>
      // attribute-filtered search on the COMPRESSED index (r15):
      // codes-only rows carry no attributes by design, so the filter is
      // an allowed vec-id frame semi-joined BEFORE the ADC kernel — no
      // distance math on filtered-out codes; shares the read-only PQ
      // fixture and the ivfpq oracle with the candidate predicate.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val work = ivfpqBaseIndex(s, dir)
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      val allowed = e.where(col("vec_id") % 4 === 1).select("vec_id")
      Similarity.ivfPqIndexTopKFiltered(s, work, q, k = 3,
          broadcast(allowed), nprobe = 2)
        .withColumn("adist", round(col("adist"), 6))
        .orderBy("qid", "rnk")
    },
      // the ivfpq replay with the allowed-set predicate on the CANDIDATE
      // side only (codes carry no attributes; the engine semi-joins an
      // allowed vec-id frame before the ADC kernel)
      {
        val candFrom =
          "FROM probes p JOIN cells cl USING (cell) WHERE cl.vec_id <> p.qid),"
        require(ivfpqOracleSql.contains(candFrom), "ivfpq oracle drifted")
        ivfpqOracleSql.replace(candFrom,
          "FROM probes p JOIN cells cl USING (cell)\n" +
            "  WHERE cl.vec_id <> p.qid AND cl.vec_id % 4 = 1),")
      }),

    Gate("emb_ann_ivf_postfiltered", { (s, dir) =>
      // the OTHER filtered-ANN strategy (r15): rank UNFILTERED to
      // k·oversample = 12 first, then filter and re-rank to 3 — right
      // when the predicate is near-unselective and pushing it buys
      // nothing; the recall trade is explicit (a query whose wide
      // window holds < 3 matching rows returns fewer). Own oracle: the
      // same two-stage rank in SQL.
      val work = ivfBaseIndex(s, dir)
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfIndexTopKFiltered(s, work, q, k = 3,
          pred = col("src") === 1, nprobe = 2, oversample = 4)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },
      // the POST-filter two-stage oracle: the ivf replay's unfiltered rank
      // cut at k·oversample = 12, then the attribute filter and the re-rank
      // to 3 — the explicit-recall-trade strategy, distinct from the
      // pre-filter lane's oracle
      {
        val finalSelect =
          """SELECT qid, cid, rnk, round(sim, 6) AS sim FROM t WHERE rnk <= 3
            |ORDER BY qid, rnk""".stripMargin
        require(ivfOracleSql.endsWith(finalSelect), "ivf oracle drifted")
        ivfOracleSql.stripSuffix(finalSelect).stripSuffix("\n") + ",\n" +
          """pf AS (SELECT qid, cid, sim FROM t WHERE rnk <= 12 AND cid % 4 = 1),
            |t2 AS (SELECT qid, cid, sim,
            |    CAST(row_number() OVER (PARTITION BY qid
            |      ORDER BY sim DESC, cid) AS BIGINT) AS rnk
            |  FROM pf)
            |SELECT qid, cid, rnk, round(sim, 6) AS sim FROM t2 WHERE rnk <= 3
            |ORDER BY qid, rnk""".stripMargin
      }),

    Gate("emb_ann_ivfpq_refined", { (s, dir) =>
      // the FAISS serving topology end-to-end: top-10 ADC candidates
      // from the codes-only PQ index, exact-cosine rerank from the
      // FLAT index's raw cells (both memoized read-only fixtures) —
      // rerank work ∝ queries × 10, never the corpus. The oracle runs
      // the full ADC chain to the SAME candidate cut, then the exact
      // rerank.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfPqIndexTopKRefined(s, ivfpqBaseIndex(s, dir),
          ivfBaseIndex(s, dir), q, k = 3, rerankR = 10, nprobe = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("qid", "rnk")
    },
      // the refined two-stage lane: the FULL ivfpq ADC chain cut at the
      // rerank budget (rnk <= 10), then the exact-cosine rerank over just
      // those candidates
      {
        val finalSelect =
          "SELECT qid, cid, rnk, round(adist, 6) AS adist FROM t WHERE rnk <= 3\nORDER BY qid, rnk"
        require(ivfpqOracleSql.endsWith(finalSelect),
          "ivfpq oracle tail drifted — update the refined extension")
        ivfpqOracleSql.stripSuffix(finalSelect).stripSuffix("\n") + ",\n" +
          """c10 AS (SELECT qid, cid FROM t WHERE rnk <= 10),
            |rr AS (SELECT c10.qid, c10.cid,
            |    list_dot_product(q.emb, d.emb)
            |      / (sqrt(list_dot_product(q.emb, q.emb))
            |         * sqrt(list_dot_product(d.emb, d.emb))) AS sim
            |  FROM c10 JOIN e q ON q.vec_id = c10.qid
            |  JOIN e d ON d.vec_id = c10.cid),
            |f AS (SELECT qid, cid, sim,
            |    CAST(row_number() OVER (PARTITION BY qid
            |      ORDER BY sim DESC, cid) AS BIGINT) AS rnk
            |  FROM rr)
            |SELECT qid, cid, rnk, round(sim, 6) AS sim FROM f WHERE rnk <= 3
            |ORDER BY qid, rnk""".stripMargin
      }),

    Gate("emb_ann_ivfpq_stream", { (s, dir) =>
      // STREAMING maintenance of the codes-only PQ index: frozen
      // quantizers up front, then foreachBatch → applyIvfPqBatch (batch
      // commit gate + crashed-dir repair + first-arrival-wins content
      // anti-join). Batch 1's rows are re-delivered under a NEW id to
      // prove the content gate. Final content ≡ corpus ⇒ shares
      // emb_ann_ivfpq's oracle verbatim.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivfpq-stream").toString + "/idx"
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      Similarity.writeIvfPqQuantizers(e, work, stride = 50, m = 16)
      def rows(m0: Long) = e.where(col("vec_id") % 3 === m0)
        .as[(Long, Seq[Double])].collect().toSeq
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Double])]
      val q = mem.toDF.toDF("vec_id", "emb")
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          Similarity.applyIvfPqBatch(s, work, b, id); ()
        }
        .option("checkpointLocation", s"$work/../ckpt").start()
      try {
        mem.addData(rows(0)); q.processAllAvailable()
        mem.addData(rows(1)); q.processAllAvailable()
        // at-least-once: re-deliver batch 1's rows under a NEW batch id
        // — the touched-cell anti-join drops every one by content
        mem.addData(rows(1)); q.processAllAvailable()
        mem.addData(rows(2)); q.processAllAvailable()
      } finally q.stop()
      val qs = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfPqIndexTopK(s, work, qs, k = 3, nprobe = 2)
        .withColumn("adist", round(col("adist"), 6))
        .orderBy("qid", "rnk")
    }, ivfpqOracleSql),

    Gate("emb_ann_ivfpq_appended", { (s, dir) =>
      // the frozen-quantizer APPEND lifecycle: quantizer sidecars train
      // on the full corpus once (writeIvfPqQuantizers — the production
      // split), then the cells fill through TWO appends (vec_id parity
      // halves) under the generation CAS. Content ≡ corpus and the
      // quantizers match the oracle's sampling, so the search shares
      // emb_ann_ivfpq's oracle verbatim — a lost or double-encoded
      // append hash-diverges.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivfpq-app").toString + "/idx"
      Similarity.writeIvfPqQuantizers(e, work, stride = 50, m = 16)
      Similarity.appendToIvfPqIndex(e.where(col("vec_id") % 2 === 0), work)
      Similarity.appendToIvfPqIndex(e.where(col("vec_id") % 2 === 1), work)
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfPqIndexTopK(s, work, q, k = 3, nprobe = 2)
        .withColumn("adist", round(col("adist"), 6))
        .orderBy("qid", "rnk")
    }, ivfpqOracleSql),

    Gate("emb_ann_ivfpq_deleted", { (s, dir) =>
      // deletion compliance for the codes-only index (the takedown pass
      // every 100 TB corpus eventually gets — r12's missing lane):
      // quantizers train on the real corpus (production split), the
      // cells fill with corpus + id-shifted decoys, then the staged
      // (batch, cell) COW delete purges the decoys. Surviving content ≡
      // corpus, so the search shares emb_ann_ivfpq's oracle verbatim —
      // leftover decoy codes OR an over-delete hash-diverges.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivfpq-del").toString + "/idx"
      Similarity.writeIvfPqQuantizers(e, work, stride = 50, m = 16)
      val decoys = e.where(col("vec_id") % 9 === 4)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("emb"))
      Similarity.appendToIvfPqIndex(e.unionByName(decoys), work)
      Similarity.deleteFromIvfPqIndexFrame(s, work, decoys.select("vec_id"))
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfPqIndexTopK(s, work, q, k = 3, nprobe = 2)
        .withColumn("adist", round(col("adist"), 6))
        .orderBy("qid", "rnk")
    },
      // staged (batch, cell) COW delete of the decoys leaves content ≡
      // corpus; compaction is content-preserving — same oracle verbatim
      ivfpqOracleSql),

    Gate("emb_ann_ivfpq_compacted", { (s, dir) =>
      // the batch-dir fold: three parity appends leave three
      // `pqcells/batch=N` dirs (a search pays a task per dir per probed
      // cell — the read-amplification ScaleSpec pins), compaction folds
      // them into the max label under the durable-marker protocol.
      // Content-preserving ⇒ emb_ann_ivfpq's oracle verbatim.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivfpq-cpt").toString + "/idx"
      Similarity.writeIvfPqQuantizers(e, work, stride = 50, m = 16)
      (0 to 2).foreach(i =>
        Similarity.appendToIvfPqIndex(e.where(col("vec_id") % 3 === i), work))
      Similarity.compactIvfPqIndex(s, work)
      val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfPqIndexTopK(s, work, q, k = 3, nprobe = 2)
        .withColumn("adist", round(col("adist"), 6))
        .orderBy("qid", "rnk")
    }, ivfpqOracleSql),

    Gate("emb_ann_ivfpq_maintained", { (s, dir) =>
      // the CLOSED drift loop for the codes-only index (emb_ann_ivf_
      // audited's shape on the PQ lane): the family bootstraps under
      // deliberately BIASED quantizers (coarse centroids AND codebooks
      // trained on one corner of the corpus — ADC quality on the full
      // corpus is immediately poor), micro-batches fold through
      // maintainIvfPqBatch with in-loop compaction, and the audit on the
      // final batch trips rebuild → quantizers retrain at the oracle's
      // strides on the corpus, cells re-encode, generation flips.
      // Content ≡ corpus and the retrained sampling ≡ the oracle's, so
      // the post-flip search shares emb_ann_ivfpq's oracle verbatim —
      // a silent non-firing audit leaves the biased quantizers and
      // hash-diverges.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val base = java.nio.file.Files
        .createTempDirectory("graft-ivfpq-mnt").toString + "/fam"
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      Similarity.writeIvfPqQuantizers(e.where(col("vec_id") < 40),
        s"$base/gen=0", stride = 8, m = 16, pqStride = 2)
      def rows(m0: Long) = e.where(col("vec_id") % 3 === m0)
        .as[(Long, Seq[Double])].collect().toSeq
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Double])]
      val q = mem.toDF.toDF("vec_id", "emb")
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          Similarity.maintainIvfPqBatch(s, base, b, id, e,
            compactEvery = 2, auditEvery = 3, k = 3, nprobe = 2,
            rebuildStride = 50, rebuildPqStride = 5, m = 16,
            minRecallBp = 8000)
          ()
        }
        .option("checkpointLocation", s"$base/../ckpt").start()
      try {
        mem.addData(rows(0)); q.processAllAvailable()
        mem.addData(rows(1)); q.processAllAvailable()
        mem.addData(rows(2)); q.processAllAvailable()
      } finally q.stop()
      val qs = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.ivfPqIndexTopK(s, Similarity.ivfPqCurrentRoot(s, base),
          qs, k = 3, nprobe = 2)
        .withColumn("adist", round(col("adist"), 6))
        .orderBy("qid", "rnk")
    },
      // audit-triggered re-encode on full content ⇒ the oracle's own
      // sampling exactly; a silent non-firing audit would hash-diverge
      ivfpqOracleSql),

    Gate("emb_ann_ivfpq_stats", { (s, dir) =>
      // per-cell observability for the codes-only index: counts are
      // home-cell assignment cardinalities (SQL-reproducible, the
      // emb_ann_ivf_stats rule); batch fan-out and file bytes stay
      // Spark-side (ops signals, not oracle material).
      val work = ivfpqBaseIndex(s, dir)
      Similarity.ivfPqIndexStats(s, work)
        .select(col("cell"), col("n_codes"))
        .orderBy("cell")
    },
      // home-cell assignment cardinalities — the emb_ann_ivf_stats rule
      // on the codes-only index
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id % 50 = 0),
        |s AS (SELECT e.vec_id, c.cent_id,
        |    list_dot_product(e.emb, c.cemb)
        |      / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim
        |  FROM e, c),
        |r AS (SELECT vec_id, cent_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crnk
        |  FROM s)
        |SELECT cent_id AS cell, count(*) AS n_codes
        |FROM r WHERE crnk = 1 GROUP BY cent_id ORDER BY cell""".stripMargin),

    Gate("emb_ann_ivfpq_audited", { (s, dir) =>
      // the ADC-drift audit as a FULLY-ORACLED row (stronger than the
      // flat lane's audited gate, which pins the audit only through its
      // rebuild side-effect): DuckDB recomputes the stride sample, the
      // whole ADC chain for the sampled queries, the exact-cosine lane,
      // and the integer recall/balance row. A gutted batch dir or a
      // half-published mutation shifts recall_bp and hash-diverges.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-ivfpq-aud").toString + "/idx"
      Similarity.writeIvfPqQuantizers(e, work, stride = 50, m = 16)
      Similarity.appendToIvfPqIndex(e, work)
      Similarity.auditIvfPqIndex(s, work, e, k = 3, nprobe = 2,
        sampleBudget = 20, minRecallBp = 3000)
    },
      // the PQ drift audit, end-to-end in SQL: the full ADC chain cut to the
      // stride-sampled queries, the exact-cosine lane for the same sample,
      // and the audit's integer recall/balance row (floor division ≡ Spark
      // Long division; sum cast off HUGEINT). max_batches pins the
      // single-append fixture literally.
      {
        val finalSelect =
          "SELECT qid, cid, rnk, round(adist, 6) AS adist FROM t WHERE rnk <= 3\nORDER BY qid, rnk"
        require(ivfpqOracleSql.endsWith(finalSelect),
          "ivfpq oracle tail drifted — update the audit extension")
        ivfpqOracleSql.stripSuffix(finalSelect).stripSuffix("\n") + ",\n" +
          """stc AS (SELECT (count(*) + 19) // 20 AS st FROM e),
            |qs AS (SELECT vec_id AS qid, emb AS qemb FROM e
            |  WHERE vec_id % (SELECT st FROM stc) = 0),
            |apx AS (SELECT t.qid, t.cid FROM t JOIN qs ON qs.qid = t.qid
            |  WHERE t.rnk <= 3),
            |xp AS (SELECT qs.qid, e.vec_id AS cid,
            |    list_dot_product(qs.qemb, e.emb)
            |      / (sqrt(list_dot_product(qs.qemb, qs.qemb))
            |         * sqrt(list_dot_product(e.emb, e.emb))) AS sim
            |  FROM qs, e WHERE e.vec_id <> qs.qid),
            |exact AS (SELECT qid, cid FROM (SELECT qid, cid,
            |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rnk
            |  FROM xp) WHERE rnk <= 3),
            |hits AS (SELECT CAST(count(*) AS BIGINT) AS h FROM exact
            |  JOIN apx ON apx.qid = exact.qid AND apx.cid = exact.cid),
            |exn AS (SELECT CAST(count(*) AS BIGINT) AS xn FROM exact),
            |nq AS (SELECT CAST(count(*) AS BIGINT) AS n_q FROM qs),
            |cc AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
            |    CAST(sum(n) AS BIGINT) AS n_codes, CAST(max(n) AS BIGINT) AS mx
            |  FROM (SELECT cell, count(*) AS n FROM cells GROUP BY cell))
            |SELECT cc.n_cells, cc.n_codes, CAST(1 AS BIGINT) AS max_batches,
            |  (1000000 * cc.mx) // cc.n_codes AS max_cell_ppm,
            |  nq.n_q AS sampled_n,
            |  CASE WHEN exn.xn = 0 THEN 10000
            |    ELSE (10000 * hits.h) // exn.xn END AS recall_bp,
            |  (CASE WHEN exn.xn = 0 THEN 10000
            |    ELSE (10000 * hits.h) // exn.xn END) < 3000
            |    OR ((1000000 * cc.mx) // cc.n_codes) > 500000 AS rebuild
            |FROM cc, nq, hits, exn""".stripMargin
      }),

    Gate("emb_ann_recall", { (s, dir) =>
      // the evaluation harness every ANN deployment needs: recall@3 of
      // the IVF path vs the exact top-3, per query, as exact integers
      // (overlap count + bp). Brute force restricted to 20 queries (the
      // exact lane is the expensive one — that's the point of ANN); the
      // IVF side is the same index build as emb_ann_ivf. Both top-3 sets
      // are fully rank-pinned, so the overlap is deterministic.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      val exact = Similarity.cosineTopK(e, broadcast(q), 3)
        .select("qid", "cid")
      val ivf = Similarity.ivfTopK(e, k = 3, stride = 50, nprobe = 2)
        .where(col("qid") < 20).select("qid", "cid")
      val hits = exact.join(ivf, Seq("qid", "cid"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_hits"))
      q.select("qid").join(hits, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("recall_bp", expr("(10000L * n_hits) div 3L"))
        .orderBy("qid")
    },
      // IVF lane = emb_ann_ivf's CTE chain with probes restricted to the
      // 20 eval queries; exact lane = brute-force top-3 for the same
      // queries; overlap and bp are exact integers
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id % 50 = 0),
        |s AS (SELECT e.vec_id, e.emb, c.cent_id,
        |    list_dot_product(e.emb, c.cemb)
        |      / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim
        |  FROM e, c),
        |r AS (SELECT vec_id, emb, cent_id, csim,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crnk
        |  FROM s),
        |cells AS (SELECT vec_id, emb, cent_id AS cell FROM r WHERE crnk = 1),
        |probes AS (SELECT vec_id AS qid, emb AS qemb, cent_id AS cell
        |  FROM r WHERE crnk <= 2 AND vec_id < 20),
        |p AS (SELECT qid, cells.vec_id AS cid,
        |    list_dot_product(qemb, emb)
        |      / (sqrt(list_dot_product(qemb, qemb)) * sqrt(list_dot_product(emb, emb))) AS sim
        |  FROM probes JOIN cells USING (cell) WHERE cells.vec_id <> qid),
        |ivf AS (SELECT qid, cid FROM (SELECT qid, cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rnk
        |  FROM p) WHERE rnk <= 3),
        |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 20),
        |xp AS (SELECT qid, e.vec_id AS cid,
        |    list_dot_product(qemb, emb)
        |      / (sqrt(list_dot_product(qemb, qemb)) * sqrt(list_dot_product(emb, emb))) AS sim
        |  FROM q, e WHERE e.vec_id <> qid),
        |exact AS (SELECT qid, cid FROM (SELECT qid, cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rnk
        |  FROM xp) WHERE rnk <= 3),
        |h AS (SELECT exact.qid, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM exact JOIN ivf ON ivf.qid = exact.qid AND ivf.cid = exact.cid
        |  GROUP BY exact.qid)
        |SELECT q.qid, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  (10000 * CAST(coalesce(h.n_hits, 0) AS BIGINT)) // 3 AS recall_bp
        |FROM q LEFT JOIN h ON h.qid = q.qid ORDER BY q.qid""".stripMargin),

    Gate("emb_centroids", { (s, dir) =>
      // per-label centroid (element-wise mean) via posexplode → one hash
      // aggregation on (label, dim) — the shuffle-parallel formulation; a
      // lambda fold over arrays would serialize each label onto one task
      // round(6) like every emb_* output: per-dim means cancel to ~1e-5
      // magnitudes, so raw last-ulp summation-order noise would sit too
      // close to an exact hash compare
      tbl(s, dir, "embeddings")
        .select(col("label"),
          posexplode(col("embedding").cast("array<double>")))
        .groupBy(col("label"), (col("pos") + 1).cast("long").as("dim"))
        .agg(round(avg("col"), 6).as("centroid"))
        .orderBy("label", "dim")
    },
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |x AS (SELECT label, CAST(generate_subscripts(emb, 1) AS BIGINT) AS dim,
        |    unnest(emb) AS v FROM e)
        |SELECT label, dim, round(avg(v), 6) AS centroid
        |FROM x GROUP BY label, dim
        |ORDER BY label, dim""".stripMargin),

    Gate("emb_sq8_topk", { (s, dir) =>
      // int8 scalar quantization (FAISS-SQ8 style): per-dim (min, span)
      // from the one-pass DimStats profile, codes = min(255, floor((x −
      // min)·255/span)), top-k MIPS on the QUANTIZED codes — the 4×
      // storage lane. Integer-valued code dot ⇒ hash-exact cross-engine.
      graft.operators.Similarity
        .sq8TopK(tbl(s, dir, "embeddings"), queryId = 7L)
    },
      // min/max of doubles are order-insensitive; the quantize keeps the
      // Spark parenthesization (x − vmin) * 255.0 / span; code dots are
      // integer-valued sums, exact at any order
      """WITH e AS (SELECT vec_id, list_transform(embedding,
        |      x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |x AS (SELECT vec_id, CAST(generate_subscripts(v, 1) AS BIGINT)
        |    AS dim, unnest(v) AS raw FROM e),
        |p AS (SELECT dim, min(raw) AS vmin, max(raw) - min(raw) AS sp
        |  FROM x GROUP BY dim),
        |q AS (SELECT vec_id, x.dim,
        |    CASE WHEN sp = 0 THEN 0.0
        |      ELSE least(255.0, floor((raw - vmin) * 255.0 / sp)) END AS qv
        |  FROM x JOIN p USING (dim)),
        |qq AS (SELECT dim, qv FROM q WHERE vec_id = 7),
        |d AS (SELECT q.vec_id, CAST(sum(q.qv * qq.qv) AS BIGINT) AS dot
        |  FROM q JOIN qq USING (dim) GROUP BY q.vec_id)
        |SELECT vec_id, dot FROM d
        |ORDER BY dot DESC, vec_id LIMIT 20""".stripMargin),

    Gate("emb_dim_stats", { (s, dir) =>
      // corpus-wide per-dimension stats via ONE mergeable typed
      // Aggregator (DimStats): the vector stays whole in the partial
      // buffer, so the shuffle is O(#partitions x d) — not the n x d
      // rows a posexplode/groupBy(dim) ships (that formulation is
      // emb_centroids', fine per-label; this is the global-profile
      // shape). BIGINT fixed-point sums make mean/std bit-identical
      // cross-engine with no rounding lane.
      graft.operators.DimStats
        .dimStats(tbl(s, dir, "embeddings"), "embedding")
        .orderBy("dim")
    },
      // same BIGINT fixed-point (floor(v*1e6)) sums; mean/std derive
      // from the exact integer sums in identical double arithmetic, so
      // no rounding lane is needed
      """WITH e AS (SELECT list_transform(embedding,
        |      x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |x AS (SELECT CAST(generate_subscripts(v, 1) AS BIGINT) AS dim,
        |    unnest(v) AS raw FROM e),
        |f AS (SELECT dim, raw,
        |    CAST(floor(raw * 1000000.0) AS BIGINT) AS fp FROM x),
        |a AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(fp) AS BIGINT) AS sum_fp,
        |    CAST(sum(fp * fp) AS BIGINT) AS sumsq_fp,
        |    min(raw) AS vmin, max(raw) AS vmax
        |  FROM f GROUP BY dim)
        |SELECT dim, n, sum_fp, sumsq_fp,
        |  CAST(sum_fp AS DOUBLE) / (n * 1000000.0) AS mean,
        |  sqrt(greatest(0.0,
        |    CAST(sumsq_fp AS DOUBLE) / (n * 1000000000000.0)
        |      - (CAST(sum_fp AS DOUBLE) / (n * 1000000.0))
        |        * (CAST(sum_fp AS DOUBLE) / (n * 1000000.0)))) AS std_dev,
        |  vmin, vmax
        |FROM a ORDER BY dim""".stripMargin),

    Gate("emb_ood_score", { (s, dir) =>
      // embedding-space outlier flag: diagonal-Mahalanobis novelty
      // score against the DimStats corpus profile (exact fixed-point
      // μ/σ ⇒ bit-identical profile cross-engine; scoring is a
      // shuffle-free projection). Ordered by id, NOT by score — the
      // float sum is the one order-sensitive step and stays inside the
      // fp lane instead of becoming a row-order hazard.
      graft.operators.DimStats
        .oodScores(tbl(s, dir, "embeddings"), "embedding")
        .orderBy("vec_id")
    },
      // same fixed-point profile; the per-vector sum is unordered here
      // vs graft_dot's ascending loop — fp-lane-only difference
      """WITH e AS (SELECT vec_id, list_transform(embedding,
        |      x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |x AS (SELECT vec_id, CAST(generate_subscripts(v, 1) AS BIGINT)
        |    AS dim, unnest(v) AS raw FROM e),
        |f AS (SELECT vec_id, dim, raw,
        |    CAST(floor(raw * 1000000.0) AS BIGINT) AS fp FROM x),
        |a AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(fp) AS BIGINT) AS sum_fp,
        |    CAST(sum(fp * fp) AS BIGINT) AS sumsq_fp
        |  FROM f GROUP BY dim),
        |st AS (SELECT dim,
        |    CAST(sum_fp AS DOUBLE) / (n * 1000000.0) AS mean,
        |    sqrt(greatest(0.0,
        |      CAST(sumsq_fp AS DOUBLE) / (n * 1000000000000.0)
        |        - (CAST(sum_fp AS DOUBLE) / (n * 1000000.0))
        |          * (CAST(sum_fp AS DOUBLE) / (n * 1000000.0)))) AS sd
        |  FROM a),
        |z AS (SELECT f.vec_id,
        |    CASE WHEN st.sd = 0 THEN 0.0
        |      ELSE (f.raw - st.mean) / st.sd END AS zv
        |  FROM f JOIN st ON f.dim = st.dim)
        |SELECT vec_id, round(sum(zv * zv), 6) AS ood
        |FROM z GROUP BY vec_id ORDER BY vec_id""".stripMargin),

    Gate("emb_pca_gram", { (s, dir) =>
      // the exact sufficient statistics behind PCA: one-pass mergeable
      // graft_gram_multi buffer (shuffle = one ~17 KB buffer per
      // partition, never rows), exploded to (i, j) upper-triangle cells
      // — integer-exact, so the oracle recomputes it cell-for-cell.
      graft.operators.Pca
        .gramUpper(tbl(s, dir, "embeddings"), "embedding", 64)
        .orderBy("i", "j")
    },
      // Gram scale is 2^16 (shared with graft_gram_agg); the float-
      // widening to double is exact, so floor matches bit-for-bit
      """WITH f AS (SELECT list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 65536.0) AS BIGINT))
        |      AS q FROM embeddings),
        |pairs AS (SELECT a.i, b.j FROM
        |    (SELECT unnest(range(0, 64)) AS i) a,
        |    (SELECT unnest(range(0, 64)) AS j) b
        |  WHERE a.i <= b.j),
        |s AS (SELECT p.i, p.j,
        |    CAST(sum(q[p.i + 1] * q[p.j + 1]) AS BIGINT) AS gram_fp
        |  FROM f, pairs p GROUP BY p.i, p.j),
        |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
        |SELECT CAST(s.i AS BIGINT) AS i, CAST(s.j AS BIGINT) AS j,
        |  s.gram_fp, cnt.n
        |FROM s, cnt ORDER BY i, j""".stripMargin),

    Gate("emb_mmr", { (s, dir) =>
      // diversified retrieval: exact-cosine top-30 candidates for the
      // vec_id=0 query (distributed TakeOrderedAndProject), then greedy
      // MMR (λ=0.7, k=10) driver-side over the metadata-scale candidate
      // block — picks are engine-reproducible because every dot folds
      // ascending (graft_dot ≡ list_dot_product) and the MMR combine is
      // one fixed-shape double expression.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.where(col("vec_id") === 0)
        .select(col("emb").as("qemb"))
      Similarity.mmrSelect(e.where(col("vec_id") =!= 0), q,
          candN = 30, k = 10, lambda = 0.7)
        .withColumn("rel", round(col("rel"), 6))
        .withColumn("mmr_score", round(col("mmr"), 6))
        .select("rnk", "vec_id", "rel", "mmr_score")
        .orderBy("rnk")
    },
      // greedy MMR unrolled to 10 explicit steps (a recurrence isn't
      // plain-SQL-expressible); MATERIALIZED pins each step to one
      // evaluation — without it the u-chain re-inlines exponentially
      ("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |    FROM embeddings),
        |qv AS (SELECT emb AS qemb FROM e WHERE vec_id = 0),
        |scored AS (SELECT e.vec_id, e.emb,
        |    list_dot_product(qemb, emb)
        |      / (sqrt(list_dot_product(qemb, qemb))
        |        * sqrt(list_dot_product(emb, emb))) AS rel
        |  FROM e, qv WHERE e.vec_id <> 0),
        |cand AS MATERIALIZED (SELECT vec_id, emb, rel FROM scored
        |  ORDER BY rel DESC, vec_id LIMIT 30),
        |p1 AS (SELECT vec_id, emb, rel, 0.7 * rel AS mmr FROM cand
        |  ORDER BY rel DESC, vec_id LIMIT 1),
        |u1 AS MATERIALIZED (SELECT vec_id, emb, rel, mmr, 1 AS rnk
        |  FROM p1),
        |""".stripMargin +
        (2 to 10).map(i =>
          s"""p$i AS MATERIALIZED (SELECT c.vec_id, c.emb, c.rel,
             |    0.7 * c.rel - 0.3 * (SELECT max(list_dot_product(c.emb, u.emb)
             |      / (sqrt(list_dot_product(c.emb, c.emb))
             |        * sqrt(list_dot_product(u.emb, u.emb))))
             |      FROM u${i - 1} u) AS mmr
             |  FROM cand c
             |  WHERE c.vec_id NOT IN (SELECT vec_id FROM u${i - 1})
             |  ORDER BY mmr DESC, c.vec_id LIMIT 1),
             |u$i AS MATERIALIZED (SELECT * FROM u${i - 1}
             |  UNION ALL SELECT vec_id, emb, rel, mmr, $i FROM p$i)"""
            .stripMargin).mkString(",\n") +
        """
        |SELECT rnk, vec_id, round(rel, 6) AS rel,
        |  round(mmr, 6) AS mmr_score
        |FROM u10 ORDER BY rnk""".stripMargin)),

    Gate("emb_kcenter", { (s, dir) =>
      // coreset selection: 10 farthest-first picks over the FULL corpus
      // (never collected, unlike emb_mmr's bounded candidate block) —
      // the diversity sample + coverage-radius report a curation
      // pipeline runs before labeling. Radius only rounds in the OUTPUT
      // lane; selection compares the raw fold-exact doubles.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      Similarity.kcenterGreedy(e, k = 10)
        .withColumn("radius", round(col("radius"), 6))
        .orderBy("pick")
    },
      // emb_kcenter oracle: 10 unrolled farthest-first picks. Every step CTE
      // is AS MATERIALIZED (the emb_mmr rule — DuckDB re-inlines plain CTE
      // chains exponentially); the d² formula and the CARRIED self-product
      // `cp` mirror Similarity.kcenterGreedy double-for-double.
      {
        val k = 10
        val steps = (2 to k).map { i =>
          val pick =
            s"""c$i AS MATERIALIZED (SELECT vec_id, emb, cp, md FROM m${i - 1}
               |  ORDER BY md DESC, vec_id LIMIT 1)""".stripMargin
          if (i == k) pick
          else pick + ",\n" +
            s"""m$i AS MATERIALIZED (SELECT m.vec_id, m.emb, m.cp,
               |    least(m.md,
               |      (m.cp - 2 * list_dot_product(m.emb, c$i.emb)) + c$i.cp)
               |      AS md
               |  FROM m${i - 1} m CROSS JOIN c$i)""".stripMargin
        }.mkString(",\n")
        val picks = (2 to k)
          .map(i => s"SELECT vec_id, $i AS pick, md AS radius FROM c$i")
          .mkString("\n  UNION ALL ")
        s"""WITH e AS MATERIALIZED (SELECT vec_id, emb,
           |    list_dot_product(emb, emb) AS cp
           |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           |    FROM embeddings)),
           |c1 AS MATERIALIZED (SELECT vec_id, emb, cp FROM e
           |  ORDER BY vec_id LIMIT 1),
           |m1 AS MATERIALIZED (SELECT e.vec_id, e.emb, e.cp,
           |    (e.cp - 2 * list_dot_product(e.emb, c1.emb)) + c1.cp AS md
           |  FROM e CROSS JOIN c1),
           |$steps,
           |picks AS (SELECT vec_id, 1 AS pick, 0.0 AS radius FROM c1
           |  UNION ALL $picks)
           |SELECT vec_id, CAST(pick AS BIGINT) AS pick,
           |  round(radius, 6) AS radius
           |FROM picks ORDER BY pick""".stripMargin
      }),

    Gate.captured("emb_pca", { (s, dir) =>
      // corpus-map coordinates: top-2 principal components fitted from
      // the exact Gram statistics (driver-side 64x64 Jacobi eigensolve,
      // deterministic sweep order + sign convention), then a
      // shuffle-free projection. The fitted model is CAPTURED so the
      // oracle dump can recompute the projection from the same
      // eigenvector literals (see projOracleSql) — emb_pca sits under the
      // full hash gate since r10; determinism + residual properties
      // stay pinned in OperatorsSpec.
      val e = tbl(s, dir, "embeddings")
      val (_, comps, mean) = graft.operators.Pca.fit(e, "embedding", 64, 2)
      pcaFitted = Some((mean, comps))
      graft.operators.Pca
        .projectWith(e, "embedding", "vec_id", comps, mean)
        .orderBy("vec_id")
    }, pcaFitted.map { case (mean, comps) =>
      projOracleSql(mean, comps, Seq("pc1", "pc2")) }),

    Gate.captured("emb_whiten", { (s, dir) =>
      // PCA WHITENING: coordinates scaled to unit variance along each
      // principal axis, w_j = (x−μ)·(v_j/√λ_j) — the normalization
      // retrieval/OOD pipelines apply before cosine so high-variance
      // axes stop dominating. The 1/√λ scaling folds into the
      // eigenvector literals DRIVER-side, so the projection stays the
      // same shuffle-free graft_dot chain as emb_pca and the oracle
      // splices the SCALED literals — zero new cross-engine machinery.
      val e = tbl(s, dir, "embeddings")
      val (eig, comps, mean) = graft.operators.Pca.fit(e, "embedding", 64, 2)
      val scaled = comps.zip(eig).map { case (w, l) =>
        require(l > 0, "whitening needs strictly positive eigenvalues")
        val sInv = 1.0 / math.sqrt(l)
        w.map(_ * sInv)
      }
      whitenFitted = Some((mean, scaled))
      graft.operators.Pca
        .projectWith(e, "embedding", "vec_id", scaled, mean)
        .select(col("vec_id"), col("pc1").as("w1"), col("pc2").as("w2"))
        .orderBy("vec_id")
    }, whitenFitted.map { case (mean, scaled) =>
      projOracleSql(mean, scaled, Seq("w1", "w2")) }),

    Gate("emb_rocchio", { (s, dir) =>
      // dense pseudo-relevance feedback (the q_bm25_prf twin for
      // embeddings): first-pass MIPS top-3 elects feedback vectors, the
      // refined query q' = q + 0.75·centroid(feedback) folds its
      // centroid in order-free BIGINT fixed point, and the second pass
      // re-ranks raw inner products — bit-exact cross-engine.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val qv = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      Similarity.rocchioTopK(e, qv, 5).orderBy("qid", "rnk")
    },
      // the two MIPS passes + the fixed-point centroid replayed with
      // list ops; dimension indexes are engine-local but consistently
      // ordered, so the assembled q' aligns
      """WITH e AS (SELECT vec_id, list_transform(embedding,
        |      x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 5),
        |d1 AS (SELECT q.qid, e.vec_id AS cid,
        |    list_dot_product(q.qemb, e.emb) AS ip
        |  FROM q JOIN e ON e.vec_id != q.qid),
        |fb AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
        |    PARTITION BY qid ORDER BY ip DESC, cid) AS rnk FROM d1)
        |  WHERE rnk <= 3),
        |fx AS (SELECT fb.qid,
        |    CAST(generate_subscripts(e.emb, 1) AS BIGINT) AS j,
        |    unnest(e.emb) AS v
        |  FROM fb JOIN e ON e.vec_id = fb.cid),
        |cfp AS (SELECT qid, j,
        |    CAST(sum(CAST(floor(v * 1000000.0) AS BIGINT)) AS BIGINT) AS cfp
        |  FROM fx GROUP BY qid, j),
        |qx AS (SELECT qid,
        |    CAST(generate_subscripts(qemb, 1) AS BIGINT) AS j,
        |    unnest(qemb) AS qv FROM q),
        |qp AS (SELECT qx.qid, qx.j,
        |    1.0 * qx.qv + 0.75 * (CAST(cfp.cfp AS DOUBLE) / 3000000.0)
        |      AS qpj
        |  FROM qx JOIN cfp ON cfp.qid = qx.qid AND cfp.j = qx.j),
        |qv2 AS (SELECT qid, list(qpj ORDER BY j) AS qemb FROM qp
        |  GROUP BY qid),
        |d2 AS (SELECT qv2.qid, e.vec_id AS cid,
        |    list_dot_product(qv2.qemb, e.emb) AS ip
        |  FROM qv2 JOIN e ON e.vec_id != qv2.qid)
        |SELECT qid, cid, CAST(rnk AS BIGINT) AS rnk, ip FROM (
        |  SELECT qid, cid, ip, row_number() OVER (
        |    PARTITION BY qid ORDER BY ip DESC, cid) AS rnk FROM d2)
        |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin),

    Gate("emb_hard_negatives", { (s, dir) =>
      // triplet mining for contrastive training: per anchor (vec_id <
      // 20), the HARDEST NEGATIVE (most similar vector with a different
      // label) and HARDEST POSITIVE (least similar same-label vector) —
      // the two elections that decide whether a margin loss sees any
      // gradient. One broadcast-anchors × corpus scan, two
      // WindowGroupLimit rank-1 picks; sims rank raw (graft_dot ≡
      // list_dot_product), ties to the lower cid.
      val e = tbl(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"), col("label"))
      val q = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"),
          col("label").as("qlabel"))
      val scored = e.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("qid"))
        .withColumn("sim", expr("graft_dot(qemb, emb)") /
          (sqrt(expr("graft_dot(qemb, qemb)")) *
            sqrt(expr("graft_dot(emb, emb)"))))
        // drop the vectors BEFORE materializing: the checkpoint (which
        // feeds BOTH elections) carries 5 scalars per pair, not 128
        // doubles
        .select("qid", "qlabel", "vec_id", "label", "sim")
        .localCheckpoint(true)
      val hn = scored.where(col("label") =!= col("qlabel"))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("sim").desc, col("vec_id"))))
        .where(col("rn") === 1)
        .select(col("qid"), col("qlabel"), col("vec_id").as("hn_id"),
          round(col("sim"), 6).as("hn_sim"))
      val hp = scored.where(col("label") === col("qlabel"))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("sim"), col("vec_id"))))
        .where(col("rn") === 1)
        .select(col("qid"), col("vec_id").as("hp_id"),
          round(col("sim"), 6).as("hp_sim"))
      hn.join(hp, "qid").orderBy("qid")
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    label FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qemb, label AS qlabel FROM e
        |  WHERE vec_id < 20),
        |scored AS (SELECT q.qid, q.qlabel, e.vec_id, e.label,
        |    list_dot_product(q.qemb, e.emb)
        |      / (sqrt(list_dot_product(q.qemb, q.qemb))
        |        * sqrt(list_dot_product(e.emb, e.emb))) AS sim
        |  FROM q JOIN e ON e.vec_id <> q.qid),
        |hn AS (SELECT qid, qlabel, vec_id AS hn_id, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id)
        |      AS rn
        |  FROM scored WHERE label <> qlabel),
        |hp AS (SELECT qid, vec_id AS hp_id, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim, vec_id)
        |      AS rn
        |  FROM scored WHERE label = qlabel)
        |SELECT hn.qid, hn.qlabel, hn.hn_id, round(hn.sim, 6) AS hn_sim,
        |  hp.hp_id, round(hp.sim, 6) AS hp_sim
        |FROM hn JOIN hp ON hp.qid = hn.qid AND hn.rn = 1 AND hp.rn = 1
        |ORDER BY hn.qid""".stripMargin),

    Gate("emb_quantize", { (s, dir) =>
      // int8 symmetric quantization audit: per-vector scale, Σq and max
      // dequantization error — shuffle-free projection over the corpus
      graft.operators.Similarity.quantizeInt8(tbl(s, dir, "embeddings"))
        .orderBy("vec_id")
    },
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM v),
        |q AS (SELECT vec_id, scale, v, list_transform(v,
        |    x -> CAST(round(CASE WHEN scale = 0 THEN 0 ELSE x / scale END)
        |      AS INTEGER)) AS q FROM s)
        |SELECT vec_id, scale, CAST(list_sum(q) AS BIGINT) AS sum_q,
        |  list_max(list_transform(range(1, len(q) + 1),
        |    i -> abs(q[i] * scale - v[i]))) AS max_err
        |FROM q ORDER BY vec_id""".stripMargin),

    Gate("emb_cluster_purity", { (s, dir) =>
      // cluster-quality audit: per coarse IVF cell, the majority LABEL
      // and its share in exact bp — the purity check that decides
      // whether cells are usable as pseudo-labels. Majority election is
      // the packed (count, label) BIGINT max (labels < 10⁶); assignment
      // is the zero-shuffle codegen argmax projection shared with
      // SemDeDup/prototypes.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"),
          col("label").cast("long").as("label"))
      val cents = Similarity.strideCentroids(e.select("vec_id", "emb"), 50)
      val asg = Similarity.assignCells(e.select("vec_id", "emb"), cents)
        .select("vec_id", "cell")
        .join(e.select("vec_id", "label"), "vec_id")
      val g = asg.groupBy("cell", "label").agg(count(lit(1)).as("cnt"))
      g.withColumn("pack",
          col("cnt") * 1000000L + (lit(999999L) - col("label")))
        .groupBy("cell")
        .agg(sum("cnt").as("n_members"), max("pack").as("p"))
        .select(col("cell"), col("n_members"),
          (lit(999999L) - col("p") % 1000000L).as("top_label"),
          expr("p div 1000000").as("n_top"))
        .withColumn("purity_bp", expr("(10000 * n_top) div n_members"))
        .orderBy("cell")
    },
      // same argmax cell CTE as emb_prototypes; same packed election
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    CAST(label AS BIGINT) AS label FROM embeddings),
        |cents AS (SELECT vec_id AS cent_id, emb AS cemb FROM e
        |  WHERE vec_id % 50 = 0),
        |asg AS (SELECT vec_id, cell, label FROM (
        |    SELECT x.vec_id, c.cent_id AS cell, x.label,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY list_dot_product(x.emb, c.cemb)
        |          / (sqrt(list_dot_product(x.emb, x.emb))
        |             * sqrt(list_dot_product(c.cemb, c.cemb))) DESC,
        |        c.cent_id) AS rn
        |    FROM e x, cents c) WHERE rn = 1),
        |g AS (SELECT cell, label, CAST(count(*) AS BIGINT) AS cnt
        |  FROM asg GROUP BY cell, label),
        |el AS (SELECT cell, CAST(sum(cnt) AS BIGINT) AS n_members,
        |    max(cnt * 1000000 + (999999 - label)) AS p
        |  FROM g GROUP BY cell)
        |SELECT cell, n_members, 999999 - (p % 1000000) AS top_label,
        |  p // 1000000 AS n_top,
        |  (10000 * (p // 1000000)) // n_members AS purity_bp
        |FROM el ORDER BY cell""".stripMargin),

    Gate("emb_matryoshka_recall", { (s, dir) =>
      // Matryoshka-style prefix-dimension retrieval audit: top-3 by the
      // 16-dim PREFIX cosine vs top-3 by the full 64-dim cosine, overlap
      // per query as exact integers — the evaluation that decides
      // whether truncated embeddings are servable. Sliced arrays are
      // localCheckpoint'd BEFORE the broadcast NLJ (CollapseProject
      // would rebuild every slice per joined row).
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      val full = Similarity.cosineTopK(e, broadcast(q), 3).select("qid", "cid")
      val ep = e.select(col("vec_id"), expr("slice(emb, 1, 16)").as("emb"))
        .localCheckpoint(true)
      val qp = ep.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      val pref = Similarity.cosineTopK(ep, broadcast(qp), 3).select("qid", "cid")
      val hits = full.join(pref, Seq("qid", "cid"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_overlap"))
      q.select("qid").join(hits, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
        .withColumn("overlap_bp", expr("(10000L * n_overlap) div 3L"))
        .orderBy("qid")
    },
      // both top-3 sets fully rank-pinned ((sim desc, cid)); slicing is
      // exact, so the prefix cosines fold bit-identically too
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 20),
        |pf AS (SELECT qid, e.vec_id AS cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY
        |      list_dot_product(qemb, emb)
        |        / (sqrt(list_dot_product(qemb, qemb))
        |           * sqrt(list_dot_product(emb, emb))) DESC, e.vec_id)
        |      AS rnk
        |  FROM q, e WHERE e.vec_id <> qid),
        |full3 AS (SELECT qid, cid FROM pf WHERE rnk <= 3),
        |ep AS (SELECT vec_id, emb[1:16] AS emb FROM e),
        |qp AS (SELECT vec_id AS qid, emb AS qemb FROM ep WHERE vec_id < 20),
        |pp AS (SELECT qid, ep.vec_id AS cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY
        |      list_dot_product(qemb, emb)
        |        / (sqrt(list_dot_product(qemb, qemb))
        |           * sqrt(list_dot_product(emb, emb))) DESC, ep.vec_id)
        |      AS rnk
        |  FROM qp, ep WHERE ep.vec_id <> qid),
        |pref3 AS (SELECT qid, cid FROM pp WHERE rnk <= 3),
        |h AS (SELECT f.qid, CAST(count(*) AS BIGINT) AS n_overlap
        |  FROM full3 f JOIN pref3 p ON f.qid = p.qid AND f.cid = p.cid
        |  GROUP BY f.qid)
        |SELECT q.qid, coalesce(h.n_overlap, 0) AS n_overlap,
        |  (10000 * coalesce(h.n_overlap, 0)) // 3 AS overlap_bp
        |FROM q LEFT JOIN h USING (qid) ORDER BY qid""".stripMargin),

    Gate("emb_linear_probe", { (s, dir) =>
      // linear-probe training as an ORACLE-CHECKABLE step: the one
      // distributed pass emits the exact fixed-point sufficient
      // statistics (upper-tri Gram + moments + n, Probe.gramStats) —
      // BIGINT sums, associative under any partition order, so DuckDB
      // pins a model-training pass bit-for-bit; only the 64×64 ridge
      // solve is driver-side (metadata-scale), pinned by OperatorsSpec
      // ground-truth-recovery instead.
      graft.operators.Probe.gramStats(
          tbl(s, dir, "embeddings").select("embedding", "label"),
          "embedding", (col("label") === 0).cast("long"), dims = 64)
        .orderBy("idx")
    },
      // same floor(x·2^16) quantization; HUGEINT sums cast back
      """WITH q AS (SELECT vec_id, CAST(label = 0 AS BIGINT) AS y,
        |    list_transform(embedding,
        |      v -> CAST(floor(CAST(v AS DOUBLE) * 65536) AS BIGINT)) AS qv
        |  FROM embeddings),
        |g AS (SELECT CAST(i*64 - (i*(i-1))//2 + (j - i) AS BIGINT) AS idx,
        |    CAST(sum(qv[i+1] * qv[j+1]) AS BIGINT) AS val
        |  FROM q, unnest(range(0, 64)) AS ti(i), unnest(range(0, 64)) AS tj(j)
        |  WHERE i <= j GROUP BY 1),
        |b AS (SELECT CAST(2080 + i AS BIGINT) AS idx,
        |    CAST(sum(qv[i+1] * y) AS BIGINT) AS val
        |  FROM q, unnest(range(0, 64)) AS ti(i) GROUP BY 1),
        |n AS (SELECT CAST(2144 AS BIGINT) AS idx,
        |    CAST(count(*) AS BIGINT) AS val FROM q)
        |SELECT idx, val FROM
        |  (SELECT * FROM g UNION ALL SELECT * FROM b UNION ALL SELECT * FROM n)
        |ORDER BY idx""".stripMargin))

  // shared by emb_ann_ivfpq (in-memory) and emb_ann_ivfpq_indexed
  // (the persisted codes-only index): identical sampling, encode kernel,
  // and ADC arithmetic
  private val ivfpqOracleSql: String =
      // IVFPQ mirror: coarse cells/probes exactly as emb_ann_ivf; PQ
      // codebook = the stride-5 sample's 4-dim slices; subspace L2²
      // = (dot(a,a) - 2*dot(a,b)) + dot(b,b); adist = fixed left-assoc
      // chain of the 16 single-valued conditional sums
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id % 50 = 0),
        |pqc AS (SELECT vec_id AS cent_id, emb AS cemb FROM e
        |  WHERE vec_id % 5 = 0 AND vec_id < 640),
        |s AS (SELECT e.vec_id, e.emb, c.cent_id,
        |    list_dot_product(e.emb, c.cemb)
        |      / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim
        |  FROM e, c),
        |r AS (SELECT vec_id, emb, cent_id, csim,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crnk
        |  FROM s),
        |cells AS (SELECT vec_id, cent_id AS cell FROM r WHERE crnk = 1),
        |probes AS (SELECT vec_id AS qid, cent_id AS cell FROM r WHERE crnk <= 2),
        |sub AS (SELECT unnest(range(0, 16)) AS s),
        |cb AS (SELECT pqc.cent_id, sub.s,
        |    pqc.cemb[sub.s * 4 + 1 : sub.s * 4 + 4] AS csub FROM pqc CROSS JOIN sub),
        |vsub AS (SELECT e.vec_id, sub.s,
        |    e.emb[sub.s * 4 + 1 : sub.s * 4 + 4] AS vs FROM e CROSS JOIN sub),
        |dist AS (SELECT v.vec_id, v.s, cb.cent_id,
        |    (list_dot_product(v.vs, v.vs) - 2 * list_dot_product(v.vs, cb.csub))
        |      + list_dot_product(cb.csub, cb.csub) AS d2
        |  FROM vsub v JOIN cb ON cb.s = v.s),
        |codes AS (SELECT vec_id AS cid, s, cent_id FROM (
        |    SELECT vec_id, s, cent_id,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cent_id) AS rn
        |    FROM dist) WHERE rn = 1),
        |cand AS (SELECT p.qid, cl.vec_id AS cid
        |  FROM probes p JOIN cells cl USING (cell) WHERE cl.vec_id <> p.qid),
        |adc AS (SELECT cand.qid, cand.cid, co.s, d.d2
        |  FROM cand JOIN codes co ON co.cid = cand.cid
        |  JOIN dist d ON d.vec_id = cand.qid AND d.s = co.s AND d.cent_id = co.cent_id),
        |ad AS (SELECT qid, cid,
        |    ((((((((((((((sum(CASE WHEN s = 0 THEN d2 END) + sum(CASE WHEN s = 1 THEN d2 END))
        |      + sum(CASE WHEN s = 2 THEN d2 END)) + sum(CASE WHEN s = 3 THEN d2 END))
        |      + sum(CASE WHEN s = 4 THEN d2 END)) + sum(CASE WHEN s = 5 THEN d2 END))
        |      + sum(CASE WHEN s = 6 THEN d2 END)) + sum(CASE WHEN s = 7 THEN d2 END))
        |      + sum(CASE WHEN s = 8 THEN d2 END)) + sum(CASE WHEN s = 9 THEN d2 END))
        |      + sum(CASE WHEN s = 10 THEN d2 END)) + sum(CASE WHEN s = 11 THEN d2 END))
        |      + sum(CASE WHEN s = 12 THEN d2 END)) + sum(CASE WHEN s = 13 THEN d2 END))
        |      + sum(CASE WHEN s = 14 THEN d2 END)) + sum(CASE WHEN s = 15 THEN d2 END) AS adist
        |  FROM adc GROUP BY qid, cid),
        |t AS (SELECT qid, cid, adist,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS BIGINT) AS rnk
        |  FROM ad)
        |SELECT qid, cid, rnk, round(adist, 6) AS adist FROM t WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin

  /** shared by emb_ann_ivf_trained and emb_ann_ivf_rebuilt — a rebuild
    * retrains the SAME exact-integer Lloyd recipe from the index's own
    * content (= the corpus), so the searches coincide */
  private val ivfTrainedOracleSql: String =
    // 2 unrolled Lloyd rounds: assignment ties break to the lowest
    // cent_id (≡ Spark's first-max over ascending ids), recentering
    // in BIGINT fixed point with truncating //, centroids rebuilt as
    // q/1e6 doubles; empty cells keep the previous centroid
    """WITH e AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c0 AS MATERIALIZED (
        |  SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id % 50 = 0),
        |s1 AS MATERIALIZED (SELECT e.vec_id, c.cent_id,
        |    list_dot_product(e.emb, c.cemb)
        |      / (sqrt(list_dot_product(e.emb, e.emb))
        |         * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim
        |  FROM e, c0 c),
        |a1 AS MATERIALIZED (SELECT vec_id, cent_id AS cell FROM (
        |    SELECT vec_id, cent_id, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
        |    FROM s1) WHERE rn = 1),
        |x1 AS MATERIALIZED (SELECT a1.cell,
        |    CAST(generate_subscripts(e.emb, 1) AS BIGINT) AS dim,
        |    unnest(e.emb) AS v
        |  FROM e JOIN a1 USING (vec_id)),
        |m1 AS MATERIALIZED (SELECT cell, dim,
        |    CAST(sum(CAST(floor(v * 1000000.0) AS BIGINT)) AS BIGINT)
        |    // CAST(count(*) AS BIGINT) AS qm
        |  FROM x1 GROUP BY cell, dim),
        |t1 AS MATERIALIZED (SELECT cell AS cent_id,
        |    list(CAST(qm AS DOUBLE) / 1000000.0 ORDER BY dim) AS cemb
        |  FROM m1 GROUP BY cell),
        |c1 AS MATERIALIZED (SELECT c0.cent_id,
        |    COALESCE(t1.cemb, c0.cemb) AS cemb
        |  FROM c0 LEFT JOIN t1 USING (cent_id)),
        |s2 AS MATERIALIZED (SELECT e.vec_id, c.cent_id,
        |    list_dot_product(e.emb, c.cemb)
        |      / (sqrt(list_dot_product(e.emb, e.emb))
        |         * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim
        |  FROM e, c1 c),
        |a2 AS MATERIALIZED (SELECT vec_id, cent_id AS cell FROM (
        |    SELECT vec_id, cent_id, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
        |    FROM s2) WHERE rn = 1),
        |x2 AS MATERIALIZED (SELECT a2.cell,
        |    CAST(generate_subscripts(e.emb, 1) AS BIGINT) AS dim,
        |    unnest(e.emb) AS v
        |  FROM e JOIN a2 USING (vec_id)),
        |m2 AS MATERIALIZED (SELECT cell, dim,
        |    CAST(sum(CAST(floor(v * 1000000.0) AS BIGINT)) AS BIGINT)
        |    // CAST(count(*) AS BIGINT) AS qm
        |  FROM x2 GROUP BY cell, dim),
        |t2 AS MATERIALIZED (SELECT cell AS cent_id,
        |    list(CAST(qm AS DOUBLE) / 1000000.0 ORDER BY dim) AS cemb
        |  FROM m2 GROUP BY cell),
        |c2 AS MATERIALIZED (SELECT c1.cent_id,
        |    COALESCE(t2.cemb, c1.cemb) AS cemb
        |  FROM c1 LEFT JOIN t2 USING (cent_id)),
        |s3 AS MATERIALIZED (SELECT e.vec_id, e.emb, c.cent_id,
        |    list_dot_product(e.emb, c.cemb)
        |      / (sqrt(list_dot_product(e.emb, e.emb))
        |         * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim
        |  FROM e, c2 c),
        |r3 AS MATERIALIZED (SELECT vec_id, emb, cent_id, csim,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY csim DESC, cent_id) AS crnk
        |  FROM s3),
        |cells AS (SELECT vec_id, emb, cent_id AS cell FROM r3 WHERE crnk = 1),
        |probes AS (SELECT vec_id AS qid, emb AS qemb, cent_id AS cell
        |  FROM r3 WHERE crnk <= 2),
        |p AS (SELECT qid, cells.vec_id AS cid,
        |    list_dot_product(qemb, emb)
        |      / (sqrt(list_dot_product(qemb, qemb))
        |         * sqrt(list_dot_product(emb, emb))) AS sim
        |  FROM probes JOIN cells USING (cell) WHERE cells.vec_id <> qid),
        |t AS (SELECT qid, cid, sim,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY sim DESC, cid) AS BIGINT) AS rnk
        |  FROM p)
        |SELECT qid, cid, rnk, round(sim, 6) AS sim FROM t WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin

  /** shared by emb_ann_ivf and emb_ann_ivf_indexed — the persisted index
    * computes the identical search through `root/cells` partition dirs */
  private val ivfOracleSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |c AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id % 50 = 0),
      |s AS (SELECT e.vec_id, e.emb, c.cent_id,
      |    list_dot_product(e.emb, c.cemb)
      |      / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))) AS csim
      |  FROM e, c),
      |r AS (SELECT vec_id, emb, cent_id, csim,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crnk
      |  FROM s),
      |cells AS (SELECT vec_id, emb, cent_id AS cell FROM r WHERE crnk = 1),
      |probes AS (SELECT vec_id AS qid, emb AS qemb, cent_id AS cell FROM r WHERE crnk <= 2),
      |p AS (SELECT qid, cells.vec_id AS cid,
      |    list_dot_product(qemb, emb)
      |      / (sqrt(list_dot_product(qemb, qemb)) * sqrt(list_dot_product(emb, emb))) AS sim
      |  FROM probes JOIN cells USING (cell) WHERE cells.vec_id <> qid),
      |t AS (SELECT qid, cid, sim,
      |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rnk
      |  FROM p)
      |SELECT qid, cid, rnk, round(sim, 6) AS sim FROM t WHERE rnk <= 3
      |ORDER BY qid, rnk""".stripMargin

  /** SemDeDup brute-force recomputation, shared VERBATIM by the
    * emb_semdedup (batch) and emb_semdedup_stream (ordered-replay
    * first-decision table ≡ batch) gate queries.
    */
  private val semDedupOracleSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |v AS (SELECT vec_id + 100000 AS vec_id,
      |    list_concat([emb[1] + 0.05], emb[2:64]) AS emb FROM e WHERE vec_id < 20),
      |a AS (SELECT * FROM e UNION ALL SELECT * FROM v),
      |cents AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id % 50 = 0),
      |asg AS (SELECT vec_id, emb, cell FROM (
      |    SELECT x.vec_id, x.emb, c.cent_id AS cell,
      |      row_number() OVER (PARTITION BY x.vec_id
      |        ORDER BY list_dot_product(x.emb, c.cemb)
      |          / (sqrt(list_dot_product(x.emb, x.emb))
      |             * sqrt(list_dot_product(c.cemb, c.cemb))) DESC,
      |        c.cent_id) AS rn
      |    FROM a x, cents c) WHERE rn = 1),
      |pairs AS (SELECT y.vec_id, x.vec_id AS o_id,
      |    list_dot_product(x.emb, y.emb)
      |      / (sqrt(list_dot_product(x.emb, x.emb))
      |         * sqrt(list_dot_product(y.emb, y.emb))) AS sim
      |  FROM asg x, asg y WHERE x.cell = y.cell AND x.vec_id < y.vec_id),
      |d AS (SELECT vec_id, min(o_id) AS dup_of,
      |    round(arg_min(sim, o_id), 6) AS sim
      |  FROM pairs WHERE sim >= 0.95 GROUP BY vec_id)
      |SELECT g.vec_id, g.cell, d.dup_of, d.sim
      |FROM asg g LEFT JOIN d ON g.vec_id = d.vec_id
      |ORDER BY g.vec_id""".stripMargin

  /** Fitted PCA model captured by the emb_pca query run. Verify writes
    * oracle_sql.json AFTER the queries execute in the same JVM, so the
    * driver-side Jacobi eigenvectors can ride into the oracle as double
    * literals — the same literal-injection trick as the PQ codebooks,
    * which closes the one eigensolve gap that kept emb_pca rows-only.
    * Absent until the emb_pca query has run (a filtered Verify dump that
    * skips it simply records no oracle).
    */
  @volatile private var pcaFitted
      : Option[(Array[Double], Array[Array[Double]])] = None

  /** Whitened-projection model captured by the emb_whiten query run —
    * the [[pcaFitted]] discipline with the 1/√λ scaling already FOLDED
    * INTO the eigenvector literals driver-side, so query and oracle
    * share the identical scaled doubles.
    */
  @volatile private var whitenFitted
      : Option[(Array[Double], Array[Array[Double]])] = None

  /** Shared literal-injection oracle generator for shuffle-free centered
    * projections: per output column an explicit left-associated
    * `0.0 + (x1−m1)·w1 + …` chain — EXACTLY graft_dot's ascending fold
    * over the zip_with-centered vector, so the doubles match bit-for-bit
    * before the shared round(·, 6). Literals are Double.toString
    * shortest round-trip reprs (both engines parse them back to the
    * identical double).
    */
  private def projOracleSql(mean: Array[Double],
      comps: Array[Array[Double]], aliases: Seq[String]): String = {
    def chain(w: Array[Double]): String =
      w.indices.map { i =>
        s"(CAST(embedding[${i + 1}] AS DOUBLE) - (${mean(i)})) * (${w(i)})"
      }.mkString("0.0 + ", " + ", "")
    val pcs = comps.zip(aliases).map { case (w, a) =>
      s"round(${chain(w)}, 6) AS $a"
    }.mkString(",\n  ")
    s"""SELECT vec_id,
       |  $pcs
       |FROM embeddings ORDER BY vec_id""".stripMargin
  }
}
