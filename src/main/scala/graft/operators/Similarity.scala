package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{DatapointStore, DirSwap}
import graft.functions.GraftFunctions
import graft.obs.Meter

/** Embedding similarity search (driver north-star scope).
  *
  * Brute-force cosine top-k is the exact baseline: a broadcast nested-loop
  * of the (small) query set against the corpus — the corpus side streams
  * through the native [[graft.functions.DotProduct]] codegen loop, no
  * shuffle of vectors. Norms are computed ONCE per vector (not per pair).
  * The LSH variant buckets by random-hyperplane sign bits so each query
  * only meets its bucket — the 100 TB path.
  */
object Similarity {

  /** Dot product of two array<double> columns (native codegen loop). */
  def dot(a: String, b: String): Column = expr(s"graft_dot($a, $b)")

  /** Attach the L2 norm as `<prefix>norm`, computed once per row. */
  private def withNorm(df: DataFrame, embCol: String, out: String): DataFrame =
    df.withColumn(out, sqrt(expr(s"graft_dot($embCol, $embCol)")))

  /** Shared score-and-rank tail of the exact top-k variants: join queries
    * to corpus under `cond`, cosine-score, keep the k best per query with
    * the (sim desc, vec_id) tie-break. One definition so the tie-break /
    * scoring can never diverge between the filtered and unfiltered paths.
    */
  private def topKWith(corpus: DataFrame, queries: DataFrame, k: Int,
      cond: Column, extraCols: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(corpus.sparkSession)
    val c = withNorm(corpus, "emb", "c_norm")
    val q = withNorm(queries, "qemb", "q_norm")
    val scored = q.join(c, cond)
      .withColumn("sim", dot("qemb", "emb") / (col("q_norm") * col("c_norm")))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("qid") +: col("vec_id").as("cid") +: extraCols :+
        col("rnk") :+ col("sim"): _*)
  }

  /** Binary-quantization ANN (the SQ/BQ two-stage every modern vector
    * store runs): corpus vectors collapse to 64 SIGN BITS packed into two
    * positive 32-bit halves ([[graft.functions.SignBits]] — oracle-safe,
    * no 1<<63 wraparound), the first pass ranks candidates by Hamming
    * distance computed from those two BIGINTs alone, and only the
    * `rerankDepth` best per query are re-scored with exact float cosine.
    *
    * The 100 TB shape is the point of the first pass: it reads a
    * CODES-ONLY projection — (vec_id, h1, h2), 16 bytes a vector instead
    * of 64 doubles (32× less I/O and memory) — with the distance two
    * xor+popcounts inside whole-stage codegen; column pruning keeps the
    * float vectors out of the scan entirely. The rerank then point-joins
    * the ~queries×rerankDepth survivor ids back to the corpus for exact
    * scoring — candidate traffic, not corpus traffic. Ties: equal Hamming
    * resolves to the lower vec_id; the rerank reuses the (sim desc,
    * vec_id) convention of [[cosineTopK]].
    *
    * Output: (qid, cid, rnk, hamming, sim) — hamming kept so recall
    * quality is visible next to the exact score.
    */
  def binaryTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      rerankDepth: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(corpus.sparkSession)
    val codes = corpus.select(col("vec_id"),
      expr("graft_signbits(emb, 0)").as("h1"),
      expr("graft_signbits(emb, 32)").as("h2"))
    val qcodes = queries.select(col("qid"),
      expr("graft_signbits(qemb, 0)").as("qh1"),
      expr("graft_signbits(qemb, 32)").as("qh2"))
    val cand = codes.crossJoin(broadcast(qcodes))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("hamming",
        expr("bit_count(h1 ^ qh1) + bit_count(h2 ^ qh2)").cast("long"))
      .withColumn("crnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("hamming"), col("vec_id"))))
      .where(col("crnk") <= rerankDepth)
      .select("qid", "vec_id", "hamming")
    // exact rerank: fetch the survivors' float vectors (a broadcast of
    // ~|queries|·rerankDepth ids against the corpus) and cosine-score
    val qn = withNorm(queries, "qemb", "q_norm")
    val scored = corpus.join(broadcast(cand), "vec_id")
      .join(broadcast(qn), "qid")
      .withColumn("c_norm", sqrt(expr("graft_dot(emb, emb)")))
      .withColumn("sim", dot("qemb", "emb") / (col("q_norm") * col("c_norm")))
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id")))
        .cast("long"))
      .where(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("cid"), col("rnk"),
        col("hamming"), col("sim"))
  }

  /** Farthest-first (k-center greedy, Gonzalez 1985) coreset selection —
    * the diversity-sampling complement of [[mmrTopK]]'s relevance-
    * diversity mix: seed with the lowest vec_id, then k−1 times pick the
    * point FARTHEST from the chosen set (max over the running
    * min-squared-distance, ties to the lowest id). A 2-approximation of
    * the optimal k-center cover; the emitted radius sequence is the
    * coverage guarantee a curation pipeline reports next to the sample.
    *
    * Fully distributed: the corpus is never collected — each step is one
    * broadcast of the single new center, a projection that folds
    * `least(md, d²(p, c))` into the running min, and a limit(1) argmax.
    * O(k·n) total. Determinism is the PQ-kernel discipline: d² =
    * `(cp − 2·dot) + cc` with that exact parenthesization and the
    * precomputed self-products CARRIED (never recomputed), so every
    * double matches the unrolled-CTE oracle bit-for-bit; argmax ties
    * break on vec_id. Output: (vec_id, pick 1..k, radius) — radius is
    * the min-d² of the pick at selection time (0 for the seed).
    */
  def kcenterGreedy(corpus: DataFrame, k: Int): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val pts = corpus.select(col("vec_id"), col("emb"),
      expr("graft_dot(emb, emb)").as("cp")).localCheckpoint(true)
    val seed = pts.orderBy("vec_id").limit(1).localCheckpoint(true)
    var picks = seed.select(col("vec_id"), lit(1L).as("pick"),
      lit(0.0).as("radius"))
    var md = pts.crossJoin(broadcast(
        seed.select(col("emb").as("cemb"), col("cp").as("cc"))))
      .withColumn("md", expr("(cp - 2 * graft_dot(emb, cemb)) + cc"))
      .select("vec_id", "emb", "cp", "md").localCheckpoint(true)
    for (i <- 2 to k) {
      val next = md.orderBy(col("md").desc, col("vec_id")).limit(1)
        .localCheckpoint(true)
      picks = picks.unionByName(next.select(col("vec_id"),
        lit(i.toLong).as("pick"), col("md").as("radius")))
      md = md.crossJoin(broadcast(
          next.select(col("emb").as("cemb"), col("cp").as("cc"))))
        .withColumn("md",
          least(col("md"), expr("(cp - 2 * graft_dot(emb, cemb)) + cc")))
        .select("vec_id", "emb", "cp", "md").localCheckpoint(true)
    }
    picks
  }

  /** Exact cosine top-k: for each row of `queries` (qid, qemb), the k
    * nearest rows of `corpus` (vec_id, emb) by cosine similarity.
    * Output: (qid, cid, rnk, sim). The join is a broadcast NLJ — the
    * query side is tiny by contract.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topKWith(corpus, queries, k, col("vec_id") =!= col("qid"), Nil)

  /** Exact maximum-inner-product top-k (MIPS — the retrieval scoring for
    * unnormalized embeddings, where magnitude IS signal, e.g. learned
    * relevance embeddings): same broadcast-NLJ shape as [[cosineTopK]]
    * but ranked on the raw dot product (bit-identical across engines —
    * the graft_dot fold ≡ list_dot_product). Output: (qid, cid, rnk, ip).
    */
  def mipsTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(corpus.sparkSession)
    val scored = queries.join(corpus, col("vec_id") =!= col("qid"))
      .withColumn("ip", dot("qemb", "emb"))
    val w = Window.partitionBy("qid").orderBy(col("ip").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("cid"), col("rnk"), col("ip"))
  }

  /** Rocchio dense pseudo-relevance feedback — the embedding twin of
    * the BM25 PRF loop (query refinement for hard-positive mining):
    * first-pass [[mipsTopK]] elects `fbK` feedback vectors per query,
    * the refined query is `q' = α·q + β·centroid(feedback)`, and the
    * second pass re-ranks by raw inner product against q'. Cross-engine
    * exactness: the feedback centroid folds in BIGINT FIXED-POINT per
    * dimension (floor(v·1e6) sums — order-free, the emb_dim_stats
    * discipline), so every q'_j is a bit-identical double and the
    * re-rank dot (graft_dot ≡ list_dot_product) ranks raw with the cid
    * tiebreak. Scale shape: two broadcast-query passes over the corpus
    * + one metadata-scale (queries × dims) centroid aggregation.
    */
  def rocchioTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      fbK: Int = 3, alpha: Double = 1.0, beta: Double = 0.75): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val fb = mipsTopK(corpus, broadcast(queries), fbK).select("qid", "cid")
    val cfp = broadcast(fb)
      .join(corpus.withColumnRenamed("vec_id", "cid"), "cid")
      .select(col("qid"), posexplode(col("emb")).as(Seq("j", "v")))
      .groupBy("qid", "j")
      .agg(sum(expr("CAST(floor(v * 1000000.0) AS BIGINT)")).as("cfp"))
    val qprime = queries
      .select(col("qid"), posexplode(col("qemb")).as(Seq("j", "qv")))
      .join(cfp, Seq("qid", "j"))
      .withColumn("qpj", lit(alpha) * col("qv") +
        lit(beta) * (col("cfp").cast("double") / lit(fbK * 1000000.0)))
      .groupBy("qid")
      .agg(expr(
        "transform(sort_array(collect_list(struct(j, qpj))), s -> s.qpj)")
        .as("qemb"))
    mipsTopK(corpus, broadcast(qprime), k)
  }

  /** Exact all-pairs near-duplicate search: pairs with cosine similarity
    * above `threshold`. Norms precomputed per side; the pair loop is the
    * native codegen dot. Output: (id_a, id_b, sim), id_a < id_b.
    * O(n²) — the brute-force BASELINE kept for small corpora and as the
    * recall cross-check of [[bandedNearPairs]], which is the scale path.
    */
  def cosineNearPairs(vectors: DataFrame, threshold: Double): DataFrame = {
    GraftFunctions.register(vectors.sparkSession)
    val n = withNorm(vectors, "emb", "norm")
    val a = n.select(col("vec_id").as("id_a"), col("emb").as("emb_a"),
      col("norm").as("norm_a"))
    val b = n.select(col("vec_id").as("id_b"), col("emb").as("emb_b"),
      col("norm").as("norm_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", dot("emb_a", "emb_b") / (col("norm_a") * col("norm_b")))
      .where(col("sim") > threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Banded hyperplane-LSH near-pair search — the 100 TB path for
    * [[cosineNearPairs]]' semantics. Each vector gets `bands` bucket keys
    * (one per band of `rowsPerBand` hyperplane sign bits over the
    * deterministic [[planeComponent]] planes); candidate pairs share ANY
    * band bucket (an equi-join on (band, bucket) — one shuffle of
    * (vec_id, band, bucket) triples, never the vectors), then exact
    * cosine rerank keeps pairs above `threshold`. Precision is exact (the
    * rerank filters); recall is the OR over bands: a pair at angle θ is
    * missed with probability (1−(1−θ/π)^R)^B — ≈1e-10 at the defaults for
    * the ≥0.9987-cosine near-dups this op targets, and the planes are
    * deterministic so the candidate set is reproducible, not a per-run
    * coin flip. OperatorsSpec cross-checks recall against the exact
    * all-pairs baseline on the gate corpus recipe.
    */
  def bandedNearPairs(vectors: DataFrame, threshold: Double, dim: Int,
      bands: Int = 12, rowsPerBand: Int = 10): DataFrame = {
    // dim must match the embeddings: graft_dot truncates to the shorter
    // array, so an understated dim would silently hash only a prefix of
    // each vector and quietly lose recall — no default on purpose
    require(dim > 0, "bandedNearPairs: dim must be positive")
    GraftFunctions.register(vectors.sparkSession)
    // NOT checkpointed: materializing the normed corpus would copy every
    // vector to executor disk — at 100 TB the wrong trade. The rerank
    // sides instead re-scan the (column-pruned) source; only the SMALL
    // derived artifact below (id, band, bucket) is pinned, which is what
    // the self-join actually re-executes per side.
    val n = withNorm(vectors, "emb", "norm")
    val bucketCols = (0 until bands).map { b =>
      (0 until rowsPerBand).map { r =>
        val p = b * rowsPerBand + r
        val plane = (0 until dim).map(j => planeComponent(p, j))
        when(call_function("graft_dot", col("emb"), typedLit(plane)) >= 0,
          lit(1L << r)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"band_$b")
    }
    val bandRows = n.select(col("vec_id") +: bucketCols: _*)
      .select(col("vec_id"),
        posexplode(array((0 until bands).map(b => col(s"band_$b")): _*)))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("bucket"))
      .localCheckpoint(true)
    val cands = bandRows.as("x").join(bandRows.as("y"), Seq("band", "bucket"))
      .where(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct() // a pair may collide in several bands
    cands
      .join(n.select(col("vec_id").as("id_a"), col("emb").as("emb_a"),
        col("norm").as("norm_a")), "id_a")
      .join(n.select(col("vec_id").as("id_b"), col("emb").as("emb_b"),
        col("norm").as("norm_b")), "id_b")
      .withColumn("sim", dot("emb_a", "emb_b") / (col("norm_a") * col("norm_b")))
      .where(col("sim") > threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Embedding-cosine near-dup DEDUP: drop every vector that has ANY
    * >threshold cosine neighbor at a lower id — including neighbors that
    * are themselves dropped. On a near-dup chain A~B~C this keeps only A
    * (a sequential greedy pass would also keep C); the stricter rule is
    * order-free and therefore embarrassingly parallel, which is the 100 TB
    * trade-off made here. Candidates come from the banded LSH equi-join
    * ([[bandedNearPairs]]), never the O(n²) all-pairs join. The dropped-id
    * set is eagerly materialized (localCheckpoint) before the anti-join:
    * otherwise Catalyst pushes the left-anti join below the corpus Union
    * and the whole pair scan is planned — and executed — once per
    * union branch. The checkpoint pins it to exactly one pass.
    */
  def cosineDedup(vectors: DataFrame, threshold: Double, dim: Int): DataFrame = {
    val dropped = bandedNearPairs(vectors, threshold, dim)
      .select(col("id_b").as("vec_id")).distinct()
      .localCheckpoint(true)
    vectors.join(dropped, Seq("vec_id"), "left_anti")
  }

  /** Random-hyperplane LSH bucketing: sign-bit signature over `planes`
    * deterministic pseudo-random hyperplanes (seeded by dimension index —
    * no Date.now/rand, reproducible across runs). Vectors agreeing on the
    * full signature land in one bucket; ANN search joins per bucket instead
    * of all-pairs. Returns (vec_id, bucket).
    */
  /** Plane p component j = hash-based pseudo-random in [-1, 1). Public so
    * the oracle SQL can be generated with byte-identical literals.
    */
  def planeComponent(p: Int, j: Int): Double = {
    val h = scala.util.hashing.MurmurHash3.productHash((p, j))
    (h.toDouble / Int.MaxValue)
  }

  /** The LSH bucket id as a single column expression, so callers can attach
    * it in the same projection as the norm — no self-join on vec_id.
    */
  def lshBucketCol(dim: Int, planes: Int): Column = {
    val bits = (0 until planes).map { p =>
      val terms = (0 until dim).map(j => s"emb[$j] * ${planeComponent(p, j)}")
        .mkString(" + ")
      s"CASE WHEN ($terms) >= 0 THEN ${1L << p}L ELSE 0L END"
    }
    expr(bits.mkString(" + "))
  }

  /** IVF-style ANN cosine top-k — the second 100 TB scale path next to
    * [[annTopK]] (LSH). Every `stride`-th vector stands in for a trained
    * coarse quantizer (k-means training is orthogonal to the search plan);
    * centroids are metadata-scale, so they are collected once and inlined
    * as literals. Cell assignment is then a pure zero-shuffle projection
    * (K native `graft_dot` calls per row, whole-stage codegen), each
    * corpus vector lands in exactly ONE cell (its argmax), and each query
    * probes its `nprobe` nearest cells. The candidate scan is an equi-join
    * on `cell` — the inverted file — followed by exact cosine rerank.
    *
    * Tie-breaks mirror the oracle: equal cell similarities resolve to the
    * lowest centroid id (centroids are inlined sorted by id, and
    * `array_position` returns the first maximum).
    *
    * Requires at least `nprobe` centroids (duplicate probe cells would
    * duplicate candidate pairs).
    */
  /** Stride-sampled coarse-quantizer centroids (the untrained baseline —
    * centroid ids are the sampled vec_ids, which the oracle reproduces).
    */
  def strideCentroids(corpus: DataFrame, stride: Long): Array[(Long, Seq[Double])] =
    corpus.where(col("vec_id") % stride === 0).orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))

  /** Sampling stride that bounds a stride-collected sample to `budget`
    * rows at ANY corpus size: ceil(n / budget) from one cheap count job.
    * With dense vec_ids the `% stride == 0` sample is ceil(n/stride) <=
    * budget rows; sparse ids only shrink it further. Deriving the stride
    * here makes the driver-side training collect an operator INVARIANT
    * instead of a caller burden — the sample stays ~budget rows at
    * sf0.001 and at 100 TB alike (pinned across SFs in OperatorsSpec).
    */
  def boundedStride(corpus: DataFrame, budget: Long): Long = {
    require(budget > 0, s"sample budget must be positive: $budget")
    val n = corpus.count()
    math.max(1L, (n + budget - 1) / budget)
  }

  /** Deterministic Lloyd training of the IVF coarse quantizer: init with
    * the stride sample, then `iters` rounds of cosine-argmax assignment
    * (a zero-shuffle projection, exactly the search-time assignment) and
    * per-cell mean recentering. Centroids are metadata-scale (K × dim
    * doubles), so the only driver traffic per round is the K×dim recenter
    * result; the corpus is never collected. Empty cells keep their old
    * centroid. Returned ids are the cell indices 0..K-1.
    */
  def kmeansCentroids(corpus: DataFrame, stride: Long,
      iters: Int, centroidBudget: Long = 1024): Array[(Long, Seq[Double])] = {
    GraftFunctions.register(corpus.sparkSession)
    // stride <= 0 = auto: bound K by centroidBudget at any corpus size
    val st = if (stride > 0) stride else boundedStride(corpus, centroidBudget)
    var cents: Array[(Long, Seq[Double])] =
      strideCentroids(corpus, st).zipWithIndex
        .map { case ((_, c), i) => (i.toLong, c) }
    for (_ <- 0 until iters) {
      val n = withNorm(corpus, "emb", "norm")
      val simCols = cents.indices.map { i =>
        call_function("graft_dot", col("emb"), typedLit(cents(i)._2)) /
          (col("norm") * lit(math.sqrt(cents(i)._2.map(x => x * x).sum)))
      }
      val assigned = n.withColumn("cell",
        element_at(typedLit(cents.map(_._1).toSeq),
          array_position(array(simCols: _*),
            array_max(array(simCols: _*))).cast("int")))
      // recenter: per-(cell, dimension) mean — K*dim rows, metadata scale
      val means = assigned.select(col("cell"), posexplode(col("emb")))
        .groupBy("cell", "pos").agg(avg("col").as("m"))
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
      cents = cents.map { case (id, old) =>
        val dim = old.length
        if (means.contains((id, 0)))
          (id, (0 until dim).map(j => means((id, j))))
        else (id, old) // empty cell: keep previous centroid
      }
    }
    cents
  }

  /** IVF ANN top-k with Lloyd-trained centroids — same search plan as
    * [[ivfTopK]], better cell balance/recall than the stride baseline.
    */
  def ivfTopKTrained(corpus: DataFrame, k: Int, stride: Long,
      nprobe: Int = 2, iters: Int = 3): DataFrame =
    ivfTopKWith(corpus, kmeansCentroids(corpus, stride, iters), k, nprobe)

  /** Lloyd training in the CROSS-ENGINE-EXACT integer lane: same
    * assignment as [[kmeansCentroids]] (cosine argmax, ties to the
    * lowest centroid id — the first-max-over-ascending-ids rule ≡ SQL
    * `ORDER BY csim DESC, cent_id`), but recentering quantizes elements
    * to floor(el·10⁶) BIGINTs, divides with truncating integer division
    * (Spark `div` ≡ DuckDB `//`, verified including negatives) and
    * returns q/10⁶ doubles. Every iteration is then a deterministic
    * function of exact integers, so the whole training loop — and any
    * search built on it — reproduces bit-for-bit on any engine and can
    * sit under the DuckDB gate (the float-mean [[kmeansCentroids]]
    * cannot: avg() summation order differs per partitioning). Centroid
    * ids stay the stride-sample vec_ids so the oracle can rebuild the
    * init set. Per round the driver receives only the K×dim integer
    * recenter result; the corpus is never collected.
    */
  def kmeansCentroidsExact(corpus: DataFrame, stride: Long,
      iters: Int, centroidBudget: Long = 1024): Array[(Long, Seq[Double])] = {
    GraftFunctions.register(corpus.sparkSession)
    // stride <= 0 = auto: bound K by centroidBudget at any corpus size
    val st = if (stride > 0) stride else boundedStride(corpus, centroidBudget)
    var cents: Array[(Long, Seq[Double])] = strideCentroids(corpus, st)
    for (_ <- 0 until iters) {
      val n = withNorm(corpus, "emb", "norm")
      val simCols = cents.indices.map { i =>
        call_function("graft_dot", col("emb"), typedLit(cents(i)._2)) /
          (col("norm") * lit(math.sqrt(cents(i)._2.map(x => x * x).sum)))
      }
      val assigned = n.withColumn("cell",
        element_at(typedLit(cents.map(_._1).toSeq),
          array_position(array(simCols: _*),
            array_max(array(simCols: _*))).cast("int")))
      val sums = assigned.select(col("cell"), posexplode(col("emb")))
        .select(col("cell"), col("pos"),
          expr("cast(floor(col * 1000000.0) as long)").as("q"))
        .groupBy("cell", "pos")
        .agg(expr("sum(q) div count(1)").as("qm"))
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      cents = cents.map { case (id, old) =>
        if (sums.contains((id, 0)))
          (id, old.indices.map(j => sums((id, j)).toDouble / 1e6))
        else (id, old) // empty cell: keep previous centroid
      }
    }
    cents
  }

  /** Trained-IVF search in the exact lane — [[ivfTopKWith]] over
    * [[kmeansCentroidsExact]] centroids; the one trained-index variant
    * whose results are DuckDB-oracle-reproducible end to end.
    */
  def ivfTopKTrainedExact(corpus: DataFrame, k: Int, stride: Long,
      nprobe: Int = 2, iters: Int = 2): DataFrame =
    ivfTopKWith(corpus, kmeansCentroidsExact(corpus, stride, iters), k, nprobe)

  def ivfTopK(corpus: DataFrame, k: Int, stride: Long, nprobe: Int = 2): DataFrame =
    ivfTopKWith(corpus, strideCentroids(corpus, stride), k, nprobe)

  /** Ad-hoc IVF search under an EXTERNAL coarse quantizer (pre-trained
    * or from another corpus slice) — the reference lane the persisted
    * index's append-maintenance is pinned against. */
  def ivfTopKWithCentroids(corpus: DataFrame,
      cents: Array[(Long, Seq[Double])], k: Int, nprobe: Int): DataFrame =
    ivfTopKWith(corpus, cents, k, nprobe)

  /** MATERIALIZED IVF index (the production form of [[ivfTopK]]'s
    * ad-hoc build, the [[Retrieval.buildIndex]] move for vectors):
    * centroids land under `root/centroids` (metadata-scale) and every
    * corpus vector lands under `root/cells/cell=K` — its argmax home
    * cell as a PARTITION DIRECTORY, norms precomputed. A search then
    * touches only its queries' probed cell directories (I/O ∝ probed
    * cells, not corpus) and never recomputes corpus-side assignment or
    * norms. Append-only maintenance: [[appendToIvfIndex]] assigns a new
    * batch against the SAME persisted centroids and appends new files
    * into the same cell dirs — index growth is a pure append, no
    * rebuild (searches stay exact vs a fresh ad-hoc build; pinned in
    * OperatorsSpec).
    */
  def buildIvfIndex(corpus: DataFrame, root: String, stride: Long,
      centroidBudget: Long = 1024): Unit = {
    // stride <= 0 = auto: bound the centroid count (and with it the
    // driver-side readIvfCentroids collect every append/search pays) by
    // centroidBudget at any corpus size — the same internally-derived
    // sampling discipline as kmeansCentroids; explicit strides remain
    // for gate reproducibility
    val st = if (stride > 0) stride else boundedStride(corpus, centroidBudget)
    buildIvfIndexWith(corpus, root, strideCentroids(corpus, st))
  }

  /** [[buildIvfIndex]] under an EXTERNAL coarse quantizer (a pre-trained
    * codebook, or centroids sampled from a wider corpus than the first
    * indexed batch — the production shape: the quantizer is trained once
    * and the index fills in over many appends against those FROZEN
    * centroids).
    */
  def buildIvfIndexWith(corpus: DataFrame, root: String,
      cents: Array[(Long, Seq[Double])]): Unit = {
    val ss = corpus.sparkSession
    import ss.implicits._
    cents.toSeq.toDF("cent_id", "cemb")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/centroids")
    appendToIvfIndex(corpus, root)
  }

  /** Assign `batch` to the index's persisted centroids and append its
    * vectors into their home-cell partition dirs. */
  def appendToIvfIndex(batch: DataFrame, root: String): Unit = {
    val fs = DatapointStore.fsFor(batch.sparkSession, root)
    val gen = IndexGen.begin(fs, root)
    val cents = readIvfCentroids(batch.sparkSession, root)
    // attribute columns beyond (vec_id, emb) land in the cell rows —
    // filtered search pushes predicates on them into the pruned scan
    val extras = batch.columns.toSeq.filterNot(Set("vec_id", "emb", "norm"))
    val assigned = withProbes(batch, cents, 1)
      .select(Seq(col("vec_id"), col("emb"), col("norm"),
        element_at(col("probes"), 1).as("cell")) ++ extras.map(col): _*)
      // repartition-by-cell (the DatapointStore discipline): each cell
      // lands wholly in one reduce task ⇒ ONE file per cell per append,
      // not one per input partition — without it a rebuild re-celling a
      // K-dir content read writes up to K files into EVERY cell and the
      // next search pays a task per tiny file (the sf0.1 rebuilt fixture
      // measured 300 tasks / 29 CPU s from exactly this)
      .repartition(col("cell"))
    // CAS immediately before the files land (an append's write IS its
    // publish): a delete/compact that advanced the generation since we
    // read it would otherwise receive our files into a retired dir —
    // the r11 single-writer hazard. The loser raises ConcurrentCommit
    // with nothing written.
    val lease = IndexGen.advance(fs, root, gen)
    assigned.write.mode("append").partitionBy("cell").parquet(s"$root/cells")
    IndexGen.release(fs, root, lease)
  }

  /** Delete vectors from the persisted index by id — the tombstone-free
    * COW lane: one column-pruned scan of (vec_id, cell) locates the
    * touched cells (parquet row-group stats skip untouched files), then
    * ONLY those cell dirs are rewritten without the deleted ids. I/O is
    * ∝ touched cells, never the index. The swap per cell is the
    * [[DirSwap]] protocol: data lands complete in the cells' hidden
    * stage, then each cell publishes — [[healIvfIndex]] (run by every
    * search) rolls back any interrupted swap, and the hidden names keep
    * partition discovery from ever seeing a half-state.
    */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    deleteFromIvfIndexFrame(spark, root, ids.toDF("vec_id"))
  }

  /** [[deleteFromIvfIndex]] with the ids as a DataFrame — the shape a
    * micro-batch or a dedup survivor-complement feeds in without ever
    * collecting ids to the driver; the only driver materialization is
    * the touched CELL list (bounded by K by construction).
    *
    * Concurrency (shared by [[compactIvfIndex]] and
    * [[appendToIvfIndex]]): every mutation is guarded by the
    * [[IndexGen]] generation CAS — it reads the root's generation
    * before observing any state and atomically advances it at its
    * publish point, so two mutations that planned against the same
    * observed state cannot both land: the loser raises
    * [[graft.model.ConcurrentCommit]] with only hidden stage output
    * written (healed away on the next read). Mutations are crash-safe
    * against READERS throughout (heal-on-read). The post-CAS rename
    * window is closed by the [[IndexGen]] publish LEASE (r13): `begin`
    * raises ConcurrentCommit while another writer's unexpired lease is
    * on the root, so a mutation can no longer plan against a
    * half-swapped state — second-writer safety is a mechanism, not a
    * contract. A crashed holder's lease expires (bounded
    * unavailability, never inconsistency).
    */
  def deleteFromIvfIndexFrame(spark: org.apache.spark.sql.SparkSession,
      root: String, idsDf: DataFrame): Unit = {
    healIvfIndex(spark, root)
    val fs = DatapointStore.fsFor(spark, root)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$root/cells"))) return
    val gen = IndexGen.begin(fs, root) // CAS baseline: state as planned
    // consumed by the touch scan and the staged rewrite — checkpoint
    val ids = idsDf.select(col("vec_id")).localCheckpoint(true)
    // partition discovery types small cell values as INT — pin to long
    val touched = spark.read.parquet(s"$root/cells")
      .join(ids, Seq("vec_id"), "left_semi")
      .select(col("cell").cast("long")).distinct().collect().map(_.getLong(0))
    if (touched.isEmpty) return
    // ONE staged job rewrites ALL touched cells (partition-pruned read,
    // anti-join, partitionBy(cell) into a hidden stage tree) — the r11
    // per-cell read+write loop billed 2-3 jobs per touched cell (152
    // jobs / 1603 tasks on the sf0.1 maintained gate fixture); staged,
    // the job count is constant in touched-cell count and only renames
    // remain per cell. The stage is pre-publish state: heal deletes it
    // wholesale, so a crash before any swap rolls the delete back.
    spark.read.parquet(s"$root/cells")
      .where(col("cell").isin(touched: _*))
      .join(broadcast(ids), Seq("vec_id"), "left_anti")
      .write.mode("overwrite").partitionBy("cell")
      .parquet(DirSwap.stage(ivfCells(root)).toString)
    // publish gate: if another mutation advanced the generation since we
    // planned against it, raise with only hidden stage state written —
    // the next heal-on-read rolls it back; live cells were never touched
    val lease = IndexGen.advance(fs, root, gen)
    // a cell ABSENT from the stage was fully emptied by the rewrite and
    // retires; TTL fence per cell: a holder stalled past its lease must
    // not rename over state a successor now owns
    DirSwap.publish(fs, ivfCells(root), touched.map(c => s"cell=$c"),
      () => IndexGen.checkLease(fs, root, lease))
    IndexGen.release(fs, root, lease)
  }

  /** Merge small files inside hot cell dirs — the small-file remedy for
    * an append-maintained index (every [[appendToIvfIndex]] batch adds
    * one file per touched cell; after thousands of micro-batches a
    * search pays a task per tiny file). Cells holding more than
    * `maxFilesPerCell` data files rewrite through the SAME staged COW
    * machinery as the batched delete: one partition-pruned,
    * repartition-by-cell job → one file per compacted cell → rename
    * swaps. Content-preserving by construction; crash-safe via
    * [[healIvfIndex]].
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, maxFilesPerCell: Int = 4): Unit = {
    healIvfIndex(spark, root)
    val fs = DatapointStore.fsFor(spark, root)
    val cellsDir = new org.apache.hadoop.fs.Path(s"$root/cells")
    if (!fs.exists(cellsDir)) return
    val gen = IndexGen.begin(fs, root) // CAS baseline BEFORE observing
    val hot = fs.listStatus(cellsDir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .filter(d => fs.listStatus(d.getPath)
        .count(f => f.getPath.getName.endsWith(".parquet")) > maxFilesPerCell)
      .map(_.getPath.getName.stripPrefix("cell=").toLong).toSeq
    if (hot.isEmpty) return
    spark.read.parquet(s"$root/cells")
      .where(col("cell").isin(hot: _*))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(DirSwap.stage(ivfCells(root)).toString)
    val lease = IndexGen.advance(fs, root, gen) // same gate as the delete
    DirSwap.publish(fs, ivfCells(root), hot.map(c => s"cell=$c"),
      () => IndexGen.checkLease(fs, root, lease))
    IndexGen.release(fs, root, lease)
  }

  /** Retrain + re-cell the persisted index — the remedy
    * [[auditIvfIndex]]'s rebuild flag calls for once appends have
    * drifted away from the build-time quantizer. Trains the
    * exact-integer Lloyd recipe ([[kmeansCentroidsExact]]) on the
    * index's OWN current content and builds the v2 index at `newRoot`
    * (production shape: the caller flips its root pointer as the one
    * atomic step; a crashed rebuild leaves the live index untouched and
    * the incomplete newRoot is simply rebuilt). stride <= 0 derives the
    * training sample from centroidBudget, as everywhere.
    */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession,
      oldRoot: String, newRoot: String, stride: Long, iters: Int = 2,
      centroidBudget: Long = 1024): Unit = {
    healIvfIndex(spark, oldRoot)
    // drop only the derived columns — attribute columns survive a rebuild;
    // pending tombstones must NOT resurrect (the rebuild is a fold)
    val content = maskTombstones(spark, oldRoot,
        spark.read.parquet(s"$oldRoot/cells"))
      .drop("norm", "cell").localCheckpoint(true) // trains + re-cells
    buildIvfIndexWith(content, newRoot,
      kmeansCentroidsExact(content, stride, iters, centroidBudget))
  }

  /** Roll back an interrupted [[deleteFromIvfIndex]] /
    * [[compactIvfIndex]]: drop the cells' stage (pre-publish state) and
    * [[DirSwap.heal]] the cells (a cell caught between its two renames
    * is restored). Idempotent; cheap (two `exists` when nothing
    * crashed) so every reader runs it.
    */
  def healIvfIndex(spark: org.apache.spark.sql.SparkSession,
      root: String): Unit = {
    val fs = DatapointStore.fsFor(spark, root)
    // a LIVE writer's unexpired lease ⇒ its stage tree is an in-flight
    // publication, not a crash leftover — serve the published cells
    // untouched and repair nothing (reader-vs-writer, the r13 residual)
    if (IndexGen.leaseHeld(fs, root)) return
    DirSwap.dropStage(fs, ivfCells(root))
    DirSwap.heal(fs, ivfCells(root))
  }

  /** Per-cell observability for the persisted index — the stats a 100×
    * deployment watches BEFORE recall drifts: (cell, n_vecs, bytes),
    * one partition-pruned count per cell dir plus a driver file listing.
    * Skew (a hot cell degrading toward a scan) shows up here first.
    */
  def ivfIndexStats(spark: org.apache.spark.sql.SparkSession,
      root: String): DataFrame = {
    healIvfIndex(spark, root)
    // partition discovery types small cell values as INT — pin to long
    val counts = spark.read.parquet(s"$root/cells")
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vecs"))
    val fs = DatapointStore.fsFor(spark, root)
    val cellsDir = new org.apache.hadoop.fs.Path(s"$root/cells")
    val bytes = fs.listStatus(cellsDir).filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith("cell="))
      .map { p =>
        (p.getName.stripPrefix("cell=").toLong,
          fs.getContentSummary(p).getLength)
      }.toSeq
    import spark.implicits._
    counts.join(bytes.toDF("cell", "bytes"), Seq("cell"), "left")
      .select(col("cell"), col("n_vecs"),
        coalesce(col("bytes"), lit(0L)).as("bytes"))
  }

  /** Drift audit for the persisted index: per-cell balance plus a
    * sampled recall@k of the index search vs exact brute force — the
    * signal that triggers a centroid retrain/rebuild as appends shift
    * the data distribution away from the build-time quantizer. The
    * recall sample is stride-bounded to `sampleBudget` queries (the
    * exact side is the expensive one); both top-k sets are fully
    * rank-pinned so the audit is deterministic. Output is one row:
    * (n_cells, n_vecs, max_cell_n, max_cell_ppm, sampled_n, recall_bp,
    * rebuild) with rebuild = recall_bp < minRecallBp OR max_cell_ppm >
    * maxCellPpm.
    */
  def auditIvfIndex(spark: org.apache.spark.sql.SparkSession, root: String,
      k: Int, nprobe: Int = 2, sampleBudget: Long = 20,
      minRecallBp: Long = 8000, maxCellPpm: Long = 500000): DataFrame = {
    val cells = spark.read.parquet(s"$root/cells")
      .select(col("vec_id"), col("emb"), col("cell")).localCheckpoint(true)
    val st = boundedStride(cells, sampleBudget)
    val q = cells.where(col("vec_id") % st === 0)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      .localCheckpoint(true)
    // checkpointed: feeds the denominator count AND the hit join (the
    // exact brute-force side is the expensive half of the audit)
    val exact = cosineTopK(cells.select("vec_id", "emb"), broadcast(q), k)
      .select("qid", "cid").localCheckpoint(true)
    val approx = ivfIndexTopK(spark, root, q, k, nprobe)
      .select("qid", "cid")
    val hits = exact.join(approx, Seq("qid", "cid"), "left_semi").count()
    // recall denominator = what the exact side ACTUALLY returned, not
    // nq*k: on a corpus smaller than k+1 (or sparse cells) exact yields
    // fewer than k non-self neighbors per query, and a perfect index
    // would otherwise report recall_bp < 10000 and spuriously trip the
    // rebuild flag
    val exactN = exact.count()
    val nq = q.count()
    val perCell = cells.groupBy("cell").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_cells"), sum("n").as("n_vecs"),
        max("n").as("max_cell_n")).head()
    val (nCells, nVecs, maxCell) =
      (perCell.getLong(0), perCell.getLong(1), perCell.getLong(2))
    val maxPpm = if (nVecs == 0) 0L else 1000000L * maxCell / nVecs
    val recallBp = if (exactN == 0) 10000L else 10000L * hits / exactN
    import spark.implicits._
    Seq((nCells, nVecs, maxCell, maxPpm, nq, recallBp,
      recallBp < minRecallBp || maxPpm > maxCellPpm))
      .toDF("n_cells", "n_vecs", "max_cell_n", "max_cell_ppm",
        "sampled_n", "recall_bp", "rebuild")
  }

  /** Fold ONE micro-batch of vectors into a persisted IVF index,
    * exactly-once under foreachBatch's at-least-once delivery — the
    * [[Mutations.applyMvBatch]] commit-gate discipline applied to an
    * APPEND-shaped maintenance op. A batch id at or below the committed
    * horizon is a checkpoint-replay re-delivery and is skipped. Because
    * an append is not naturally idempotent (a crash between the cell
    * writes and the marker leaves partial rows that a blind re-append
    * would duplicate), a live apply first SCRUBS its own batch's ids via
    * [[deleteFromIvfIndex]] (touched-cells-only COW, a no-op on the
    * clean path's empty index intersection is still one pruned scan) —
    * re-delivery therefore repairs, never duplicates. The first applied
    * batch bootstraps the index under the caller's frozen centroids.
    * Returns true when the batch was applied.
    */
  def applyIvfBatch(spark: org.apache.spark.sql.SparkSession, root: String,
      batch: DataFrame, batchId: Long,
      cents: Array[(Long, Seq[Double])]): Boolean = {
    val fs = DatapointStore.fsFor(spark, root)
    val committed = {
      val dir = new org.apache.hadoop.fs.Path(root)
      if (!fs.exists(dir)) -1L
      else fs.listStatus(dir).map(_.getPath.getName)
        .collect { case n if n.startsWith("_ivf_commit_") =>
          n.stripPrefix("_ivf_commit_").toLong }
        .foldLeft(-1L)(math.max)
    }
    if (batchId <= committed) return false
    deleteFromIvfIndexFrame(spark, root, batch.select("vec_id"))
    if (committed < 0 &&
        !fs.exists(new org.apache.hadoop.fs.Path(s"$root/centroids")))
      buildIvfIndexWith(batch, root, cents)
    else appendToIvfIndex(batch, root)
    fs.create(new org.apache.hadoop.fs.Path(s"$root/_ivf_commit_$batchId"),
      true).close()
    // prune markers below the new horizon (keep only the max): a
    // long-running stream would otherwise grow the root listing every
    // batch — the same unbounded-version pattern pruneMvVersions fixes
    fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath).foreach { p =>
        val n = p.getName
        if (n.startsWith("_ivf_commit_") &&
            n.stripPrefix("_ivf_commit_").toLong < batchId)
          fs.delete(p, false)
      }
    true
  }

  /** Resolve the live generation of a MAINTAINED index family under
    * `base`: generations live at `base/gen=N`, and generation N is live
    * iff an `_ivf_gen_N` marker exists — the resolved root is the MAX
    * marked generation (none marked = the bootstrap `gen=0`). A rebuild
    * publishes by creating the next marker AFTER its index is complete
    * (single atomic create, the commit-record-last ordering), so a crash
    * mid-rebuild leaves an unmarked orphan dir and readers stay on the
    * old generation; there is no delete-then-rename pointer window.
    */
  def ivfCurrentRoot(spark: org.apache.spark.sql.SparkSession,
      base: String): String = s"$base/gen=${ivfCurrentGen(spark, base)}"

  private def ivfCurrentGen(spark: org.apache.spark.sql.SparkSession,
      base: String): Long = {
    val fs = DatapointStore.fsFor(spark, base)
    val dir = new org.apache.hadoop.fs.Path(base)
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("_ivf_gen_") =>
        n.stripPrefix("_ivf_gen_").toLong }
      .foldLeft(0L)(math.max)
  }

  /** One foreachBatch step of the FULLY-WIRED streaming maintenance
    * loop: exactly-once apply ([[applyIvfBatch]]) into the family's live
    * generation, in-loop compaction every `compactEvery` batches, and —
    * the drift-audit wiring — [[auditIvfIndex]] every `auditEvery`
    * batches with an automatic [[rebuildIvfIndex]] + generation flip
    * when the audit raises its rebuild flag (recall decay or cell skew:
    * appends have drifted from the build-time quantizer). The retrained
    * generation inherits the commit horizon, so re-deliveries stay
    * skipped across the flip; a crash mid-rebuild leaves the family on
    * the old generation and the next triggering audit retries into the
    * same (cleared) target. Returns true when the batch was applied.
    */
  def maintainIvfBatch(spark: org.apache.spark.sql.SparkSession,
      base: String, batch: DataFrame, batchId: Long,
      cents: Array[(Long, Seq[Double])], compactEvery: Int = 0,
      auditEvery: Int = 0, k: Int = 3, nprobe: Int = 2,
      rebuildStride: Long = 0, centroidBudget: Long = 1024,
      sampleBudget: Long = 20, minRecallBp: Long = 8000,
      maxCellPpm: Long = 500000): Boolean = {
    // per-phase job tags (guide §1.5 / r16 verdict item 4): the
    // lifecycle fixtures bill build+mutate+audit+search to one bench
    // row — these descriptions make regressions attributable by
    // grouping jobs per phase (the ProfileIngest pattern). Tags only;
    // no computation changes.
    val sc = spark.sparkContext
    val gen = ivfCurrentGen(spark, base)
    val cur = s"$base/gen=$gen"
    val applied = Meter.tagged(sc, s"ivf-maintain:apply b$batchId") {
      applyIvfBatch(spark, cur, batch, batchId, cents)
    }
    if (!applied) return false
    if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
      Meter.tagged(sc, s"ivf-maintain:compact b$batchId") {
        compactIvfIndex(spark, cur, maxFilesPerCell = 2)
      }
    if (auditEvery > 0 && batchId % auditEvery == auditEvery - 1) {
      val a = Meter.tagged(sc, s"ivf-maintain:audit b$batchId") {
        auditIvfIndex(spark, cur, k, nprobe, sampleBudget,
          minRecallBp, maxCellPpm).head()
      }
      if (a.getBoolean(6)) {
        val fs = DatapointStore.fsFor(spark, base)
        val next = s"$base/gen=${gen + 1}"
        // a crashed earlier attempt leaves an unmarked half-built dir —
        // clear it or the rebuild's appends would double its content
        fs.delete(new org.apache.hadoop.fs.Path(next), true)
        Meter.tagged(sc, s"ivf-maintain:rebuild b$batchId") {
          rebuildIvfIndex(spark, cur, next, rebuildStride, 2, centroidBudget)
        }
        // carry the exactly-once horizon into the new generation BEFORE
        // it becomes visible (a re-delivered pre-flip batch must skip)
        fs.create(new org.apache.hadoop.fs.Path(next,
          s"_ivf_commit_$batchId"), true).close()
        // publish = single marker create, then prune superseded markers
        fs.create(new org.apache.hadoop.fs.Path(base,
          s"_ivf_gen_${gen + 1}"), true).close()
        fs.delete(new org.apache.hadoop.fs.Path(base, s"_ivf_gen_$gen"), false)
      }
    }
    applied
  }

  /** The IVF index's cell table: `cell=<id>` units swapped by
    * [[DirSwap]]. */
  private def ivfCells(root: String) =
    new org.apache.hadoop.fs.Path(s"$root/cells")

  private def readIvfCentroids(
      spark: org.apache.spark.sql.SparkSession,
      root: String): Array[(Long, Seq[Double])] =
    spark.read.parquet(s"$root/centroids").orderBy("cent_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))

  /** Search the materialized index: probe assignment runs only on the
    * (small) query side; the corpus side is a partition-pruned read of
    * the probed cell dirs with stored norms — same scoring, tie, and
    * self-exclusion rules as [[ivfTopKWith]], so a search over an index
    * built with the same stride equals [[ivfTopK]] row-for-row.
    */
  def ivfIndexTopK(spark: org.apache.spark.sql.SparkSession, root: String,
      queries: DataFrame, k: Int, nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    healIvfIndex(spark, root) // finish/roll back any interrupted delete
    val cents = readIvfCentroids(spark, root)
    val probeSide = withProbes(
        queries.select(col("qid").as("vec_id"), col("qemb").as("emb")),
        cents, nprobe)
      .withColumn("cell", explode(col("probes")))
      .select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("norm").as("q_norm"), col("cell"))
      .localCheckpoint(true) // read twice: cell list + the probe join
    val probedCells = probeSide.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq
    // pinned schema: inferred INT cell values + isin(longs) would wrap
    // the partition filter in a cast (the pqCellsSchema rationale)
    val cells = maskTombstones(spark, root, spark.read
      .schema(flatCellsSchema)
      .parquet(s"$root/cells")
      .where(col("cell").isin(probedCells: _*)))
    val pairs = probeSide.join(cells, Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("sim", dot("qemb", "emb") / (col("q_norm") * col("norm")))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    pairs.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("cid"), col("rnk"), col("sim"))
  }

  private val tombstoneSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType)))

  /** The persisted index's pending merge-on-read tombstones (empty frame
    * when none) — metadata-scale by contract: bounded by deletes since
    * the last [[compactIvfTombstones]] fold, so the read-side anti-join
    * broadcasts from file stats.
    */
  private def ivfTombstones(spark: org.apache.spark.sql.SparkSession,
      root: String): Option[DataFrame] = {
    val fs = DatapointStore.fsFor(spark, root)
    val p = new org.apache.hadoop.fs.Path(s"$root/tombstones")
    if (!fs.exists(p)) None
    else {
      // file-precise folds (r16) leave the dir behind with only hidden
      // debris (_SUCCESS/.crc) — no visible data files means no pending
      // tombstones, so readers skip the anti-join entirely
      val files = fs.listStatus(p).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith(".") && !n.startsWith("_")
      }.map(_.getPath.toString)
      if (files.isEmpty) None
      else Some(spark.read.schema(tombstoneSchema).parquet(files: _*))
    }
  }

  private def maskTombstones(spark: org.apache.spark.sql.SparkSession,
      root: String, cells: DataFrame): DataFrame =
    ivfTombstones(spark, root) match {
      case Some(ts) => cells.join(ts, Seq("vec_id"), "left_anti")
      case None => cells
    }

  /** MERGE-ON-READ delete for the persisted IVF index (r15 — the
    * [[VersionedTable.deleteMergeOnRead]] move for vectors): the ids
    * land as an append-only TOMBSTONE sidecar (`root/tombstones`) and
    * no cell is rewritten — at 100 TB a 100-vector takedown must not
    * COW whole cell dirs. Every search lane anti-joins the pending
    * tombstones (metadata-scale broadcast); [[compactIvfTombstones]]
    * folds them through the staged COW delete past a threshold.
    * Same CAS discipline as [[appendToIvfIndex]] (the write IS the
    * publish; tombstones are append-only and deletes are idempotent,
    * so a crash after the write simply leaves the delete applied).
    * NOTE: a vector re-appended while its id is tombstoned stays
    * masked until a fold clears the sidecar — fold before re-adding.
    */
  def deleteFromIvfIndexMor(spark: org.apache.spark.sql.SparkSession,
      root: String, idsDf: DataFrame): Unit = {
    healIvfIndex(spark, root)
    val fs = DatapointStore.fsFor(spark, root)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$root/cells"))) return
    val gen = IndexGen.begin(fs, root)
    val lease = IndexGen.advance(fs, root, gen)
    idsDf.select(col("vec_id").cast("long").as("vec_id"))
      .coalesce(1) // metadata-scale by contract: one file per delete batch
      .write.mode("append").parquet(s"$root/tombstones")
    IndexGen.release(fs, root, lease)
  }

  /** Fold pending tombstones into data through the staged COW delete
    * (touched cells only), then clear the sidecar — the read-amp bound
    * for the merge-on-read lane. Crash-safe by idempotence: the COW
    * completes BEFORE the sidecar clears, and a crash between leaves
    * tombstones that mask already-deleted ids (a no-op at read time).
    * The clear is FILE-PRECISE (r16): the fold snapshots the sidecar's
    * file list up front, reads exactly those files, and deletes exactly
    * those files after — a tombstone a concurrent CAS-legal
    * [[deleteFromIvfIndexMor]] appends mid-fold lands in a NEW file
    * that survives to the next fold instead of being silently wiped
    * unfolded (the deleted vector would have resurrected with no
    * ConcurrentCommit raised).
    */
  def compactIvfTombstones(spark: org.apache.spark.sql.SparkSession,
      root: String): Unit = {
    val fs = DatapointStore.fsFor(spark, root)
    val p = new org.apache.hadoop.fs.Path(s"$root/tombstones")
    if (!fs.exists(p)) return
    val files = fs.listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith(".") && !n.startsWith("_")
    }.map(_.getPath)
    if (files.isEmpty) return
    tombstoneFoldHook() // test seam: a concurrent append lands here
    val ids = spark.read.schema(tombstoneSchema)
      .parquet(files.map(_.toString): _*)
      .distinct().localCheckpoint(true)
    if (ids.head(1).nonEmpty) deleteFromIvfIndexFrame(spark, root, ids)
    files.foreach(f => fs.delete(f, false))
  }

  /** Test seam for the fold/append race: invoked between the sidecar
    * file snapshot and the fold, where a concurrent [[deleteFromIvfIndexMor]]
    * may legally append. Production no-op.
    */
  private[graft] var tombstoneFoldHook: () => Unit = () => ()

  /** Attribute-filtered search on the persisted index (r15) — the lane
    * every real vector-serving workload needs (filter by source / date /
    * license): candidates must satisfy `pred`, a predicate over the
    * ATTRIBUTE columns the build carried into the cell rows (any column
    * beyond (vec_id, emb) on the indexed batch rides along — see
    * [[appendToIvfIndex]]).
    *
    * Two strategies, chosen by `oversample`:
    *  - `oversample = 0` (default) — PRE-FILTER: the predicate applies
    *    directly on the partition-pruned cells scan, so it pushes down
    *    into the parquet read (row-group stats skip non-matching files)
    *    and the top-k is exact over every matching candidate in the
    *    probed cells. Right for selective predicates: scoring work is
    *    ∝ matching rows, recall within the probed cells is total.
    *  - `oversample > 0` — POST-FILTER: rank UNFILTERED candidates to
    *    k·oversample per query first, then filter and re-rank to k.
    *    Right for near-unselective predicates at very large k·nprobe,
    *    where scoring everything once and discarding a few beats pushing
    *    a useless predicate — the classic recall trade: a query whose
    *    top-k·oversample is dominated by non-matching rows can return
    *    fewer than k (OperatorsSpec pins post≡pre exactly where the
    *    oversampled window provably covers).
    *
    * I/O is ∝ probed cell dirs either way (ScaleSpec pins the scan's
    * input files to the probed partitions). Ranking/tie rules are
    * [[ivfIndexTopK]]'s verbatim: (sim desc, vec_id), self excluded.
    */
  def ivfIndexTopKFiltered(spark: org.apache.spark.sql.SparkSession,
      root: String, queries: DataFrame, k: Int, pred: Column,
      nprobe: Int = 2, oversample: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    healIvfIndex(spark, root)
    val cents = readIvfCentroids(spark, root)
    val probeSide = withProbes(
        queries.select(col("qid").as("vec_id"), col("qemb").as("emb")),
        cents, nprobe)
      .withColumn("cell", explode(col("probes")))
      .select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("norm").as("q_norm"), col("cell"))
      .localCheckpoint(true)
    val probedCells = probeSide.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq
    // the flatCellsSchema pin (partition-type inference would type small
    // cell values INT and defeat isin(longs) pruning), EXTENDED by the
    // index's attribute fields — footer schema for data columns, long
    // for the partition column
    val inferred = spark.read.parquet(s"$root/cells").schema
    val pinned = org.apache.spark.sql.types.StructType(inferred.map(f =>
      if (f.name == "cell")
        f.copy(dataType = org.apache.spark.sql.types.LongType)
      else f))
    val cells = maskTombstones(spark, root,
      spark.read.schema(pinned).parquet(s"$root/cells")
        .where(col("cell").isin(probedCells: _*)))
    def rank(df: DataFrame, kk: Int): DataFrame = {
      val w = Window.partitionBy("qid")
        .orderBy(col("sim").desc, col("vec_id"))
      df.withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= kk)
    }
    val scored = (if (oversample <= 0) cells.where(pred) else cells)
      .join(probeSide, Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("sim", dot("qemb", "emb") / (col("q_norm") * col("norm")))
    val ranked =
      if (oversample <= 0) rank(scored, k)
      else rank(rank(scored, k * oversample).where(pred).drop("rnk"), k)
    ranked.select(col("qid"), col("vec_id").as("cid"), col("rnk"), col("sim"))
  }

  /** Shared IVF probe assignment: every vector gets `probes` — its nprobe
    * best cells by cosine (probes[0] is the argmax HOME cell), computed
    * from ONE materialized cell-similarity array (the index build; both
    * the corpus side and the probe side derive from it, and without the
    * checkpoint each would re-run the K graft_dot calls per vector).
    * Output: (vec_id, emb, norm, probes), localCheckpoint'd.
    */
  private def withProbes(corpus: DataFrame,
      cents: Array[(Long, Seq[Double])], nprobe: Int): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    require(cents.length >= nprobe,
      s"IVF needs >= $nprobe centroids, got ${cents.length}")
    // driver-side left-fold sum matches the sequential dot the engines use,
    // so the literal norms are bit-identical to sqrt(graft_dot(c, c))
    val centNorms = cents.map { case (_, c) => math.sqrt(c.map(x => x * x).sum) }
    val centIdsLit = typedLit(cents.map(_._1).toSeq)

    val n = withNorm(corpus, "emb", "norm")
    val simCols = cents.indices.map { i =>
      call_function("graft_dot", col("emb"), typedLit(cents(i)._2)) /
        (col("norm") * lit(centNorms(i)))
    }
    val withSims = n.withColumn("sims", array(simCols: _*))
      .localCheckpoint(true)

    // iteratively pick the nprobe best cells, masking each chosen position
    var masked = col("sims")
    val probeCells = Seq.newBuilder[Column]
    for (_ <- 0 until nprobe) {
      val pos = array_position(masked, array_max(masked))
      probeCells += element_at(centIdsLit, pos.cast("int"))
      val m = masked
      masked = zip_with(m, sequence(lit(1), size(m)),
        (x, i) => when(i.cast("long") === pos, lit(Double.NegativeInfinity))
          .otherwise(x))
    }
    // attribute passthrough (r15): columns beyond (vec_id, emb) ride
    // along unchanged — appendToIvfIndex stores them in the cell rows so
    // ivfIndexTopKFiltered can push attribute predicates into the
    // partition-pruned parquet scan; pinned-schema readers never see them
    val extras = corpus.columns.toSeq
      .filterNot(Set("vec_id", "emb", "norm", "sims", "probes"))
    withSims.withColumn("probes", array(probeCells.result(): _*))
      .select((Seq("vec_id", "emb", "norm", "probes") ++ extras).map(col): _*)
  }

  private def ivfTopKWith(corpus: DataFrame, cents: Array[(Long, Seq[Double])],
      k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = withProbes(corpus, cents, nprobe)
    val corpusSide = assigned
      .withColumn("cell", element_at(col("probes"), 1)) // argmax: ONE home cell
      .select(col("vec_id"), col("emb"), col("norm"), col("cell"))
    val probeSide = assigned
      .withColumn("cell", explode(col("probes")))
      .select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("norm").as("q_norm"), col("cell"))
    val pairs = probeSide.join(corpusSide, Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("sim", dot("qemb", "emb") / (col("q_norm") * col("norm")))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    pairs.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("cid"), col("rnk"), col("sim"))
  }

  /** IVF+PQ ANN top-k (FAISS-style IVFPQ, PQ over raw vectors — no
    * residual encoding): the coarse IVF quantizer bounds each query's
    * candidates to its nprobe cells, and candidates are scored by PQ
    * ASYMMETRIC distance (ADC) — each corpus vector is represented by m
    * per-subspace code ids, and a query scores a candidate by summing its
    * per-subspace distance-table entries. This is the memory/bandwidth
    * shape that makes billion-vector search feasible: the search never
    * touches candidate raw vectors (codes are m small ints vs dim
    * doubles), the per-query distance table is m×ksub doubles, and
    * encode (corpus × broadcast codebook) and search (probe equi-join +
    * code/table equi-joins) are all broadcast- or shuffle-bounded — no
    * all-pairs anywhere.
    *
    * Deterministic / oracle-reproducible by construction:
    *  - codebook for subspace s = the stride-sampled vectors' s-th dim/m
    *    slice (entry ids = sampled vec_ids), so any engine rebuilds it;
    *  - subspace L2² is (dot(a,a) − 2·dot(a,b)) + dot(b,b), with that
    *    exact parenthesization mirrored in the oracle SQL;
    *  - code assignment ties break to the lowest codebook entry id;
    *  - adist sums the m subspace terms in a fixed left-assoc chain of
    *    single-valued conditional aggregates ((d0+d1)+d2)+d3, so
    *    cross-engine float summation order can't diverge;
    *  - ranking is (adist asc, cid asc) on the raw double.
    *
    * Output: (qid, cid, rnk, adist) — approximate squared L2, rnk <= k.
    */
  def ivfpqTopK(corpus: DataFrame, k: Int, stride: Long, nprobe: Int = 2,
      m: Int = 16, pqStride: Long = 5, ksubMax: Int = 128): DataFrame = {
    // the PQ codebook samples DENSER than the coarse quantizer (ksub ≫ K
    // is the FAISS norm — subspace quantization error, not cell recall,
    // dominates ADC quality) but is CAPPED at ksubMax (FAISS uses a fixed
    // 256): a codebook that grew with the corpus would make the encode
    // O(n × ksub × m) = O(n²) — the first ksubMax sampled vectors keep it
    // O(n), and the "first" rule stays oracle-expressible
    val pqSample = strideCentroids(corpus, pqStride).take(ksubMax)
    val dim = pqSample.headOption.map(_._2.length).getOrElse(0)
    require(dim > 0 && dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val codebooks = (0 until m).map(s0 =>
      pqSample.toSeq.map { case (_, c) => c.slice(s0 * sub, s0 * sub + sub) })
    ivfpqTopKWith(corpus, k, stride, nprobe, m, codebooks)
  }

  /** [[ivfpqTopK]] with Lloyd-TRAINED subspace codebooks (the FAISS
    * production shape): k-means per subspace on the stride sample, run
    * driver-side — PQ training is metadata-scale by design (FAISS trains
    * on a corpus sample too); the ENCODE and SEARCH stay distributed.
    * Deterministic: stride-sample init, argmin ties to the lowest entry,
    * empty entries keep their previous centroid.
    */
  def ivfpqTopKTrained(corpus: DataFrame, k: Int, stride: Long,
      nprobe: Int = 2, m: Int = 16, pqStride: Long = 5,
      iters: Int = 5, trainStride: Long = 0, ksubMax: Int = 128,
      trainBudget: Long = 10000): DataFrame = {
    // training sample: driver-side and BOUNDED BY CONSTRUCTION — the
    // default (trainStride <= 0) derives the stride from a corpus count
    // so Lloyd sees <= trainBudget vectors at any scale; an explicit
    // positive trainStride is still honored for callers that manage
    // their own sampling
    val ts = if (trainStride > 0) trainStride
             else boundedStride(corpus, trainBudget)
    val sample = corpus.where(col("vec_id") % ts === 0)
      .orderBy("vec_id").select("emb").collect()
      .map(r => r.getSeq[Double](0).toArray)
    val dim = sample.headOption.map(_.length).getOrElse(0)
    require(dim > 0 && dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val init = strideCentroids(corpus, pqStride).take(ksubMax)
    val codebooks = (0 until m).map { s0 =>
      val subVecs = sample.map(v => v.slice(s0 * sub, s0 * sub + sub))
      var cents = init.map { case (_, c) =>
        c.slice(s0 * sub, s0 * sub + sub).toArray }
      for (_ <- 0 until iters) {
        def d2(a: Array[Double], b: Array[Double]): Double = {
          var s = 0.0; var i = 0
          while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
          s
        }
        val assign = subVecs.map { v =>
          var best = 0; var bd = Double.MaxValue
          for (j <- cents.indices) {
            val d = d2(v, cents(j)); if (d < bd) { bd = d; best = j }
          }
          best
        }
        cents = cents.indices.map { j =>
          val mine = subVecs.indices.filter(assign(_) == j)
          if (mine.isEmpty) cents(j)
          else {
            val acc = new Array[Double](sub)
            mine.foreach { i =>
              var t = 0; while (t < sub) { acc(t) += subVecs(i)(t); t += 1 }
            }
            acc.map(_ / mine.length)
          }
        }.toArray
      }
      cents.toIndexedSeq.map(_.toSeq)
    }
    ivfpqTopKWith(corpus, k, stride, nprobe, m, codebooks)
  }

  /** Persisted IVF-PQ index build — the compressed billion-vector DISK
    * shape: cell partitions store CODES ONLY (m small ints per vector —
    * the ~32-byte-per-vector footprint that makes 100 TB of embeddings
    * searchable from a fraction of the space), while the coarse
    * centroids and per-subspace codebooks persist as metadata-scale
    * sidecars. The build freezes [[ivfpqTopK]]'s exact sampling rule
    * (stride coarse centroids; pqStride sample capped at ksubMax for
    * the codebooks) and the same fused `graft_pq_encode` kernel, so
    * [[ivfPqIndexTopK]] over the indexed corpus reproduces the
    * in-memory lane bit-for-bit (the emb_ann_ivfpq oracle is shared
    * verbatim). Codes repartition by home cell before the partitioned
    * write — ONE file per cell (the appendToIvfIndex discipline).
    * Lifecycle parity with the flat lane: [[appendToIvfPqIndex]] /
    * [[deleteFromIvfPqIndexFrame]] / [[compactIvfPqIndex]] /
    * [[ivfPqIndexStats]] / [[auditIvfPqIndex]] / [[healIvfPqIndex]].
    * A retrain still re-encodes into a NEW root — codes are derived
    * data, never the source of truth.
    */
  def buildIvfPqIndex(corpus: DataFrame, root: String, stride: Long,
      m: Int = 16, pqStride: Long = 5, ksubMax: Int = 128): Unit = {
    writeIvfPqQuantizers(corpus, root, stride, m, pqStride, ksubMax)
    appendToIvfPqIndex(corpus, root)
  }

  /** Train-and-freeze the PQ index's quantizer sidecars WITHOUT filling
    * cells — the production split: quantizers come from a training
    * corpus once, then [[appendToIvfPqIndex]] fills the index over many
    * batches against those frozen sidecars. `root` must be fresh (cells
    * append-only; a PQ rebuild re-encodes into a new root).
    */
  def writeIvfPqQuantizers(corpus: DataFrame, root: String, stride: Long,
      m: Int = 16, pqStride: Long = 5, ksubMax: Int = 128): Unit = {
    val ss = corpus.sparkSession
    import ss.implicits._
    GraftFunctions.register(ss)
    val cents = strideCentroids(corpus, stride)
    cents.toSeq.toDF("cent_id", "cemb")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/centroids")
    val pqSample = strideCentroids(corpus, pqStride).take(ksubMax)
    val dim = pqSample.headOption.map(_._2.length).getOrElse(0)
    require(dim > 0 && dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val codebooks = (0 until m).map(s0 =>
      pqSample.toSeq.map { case (_, c) => c.slice(s0 * sub, s0 * sub + sub) })
    codebooks.zipWithIndex.flatMap { case (cb, s0) =>
      cb.zipWithIndex.map { case (c, j) => (s0, j, c) } }
      .toDF("s", "entry", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/codebooks")
  }

  /** Append a batch into the persisted IVF-PQ index: encode against the
    * FROZEN sidecar quantizers (coarse centroids for the home cell,
    * codebooks for the codes — the production shape: quantizers train
    * once, cells fill over many appends) and land one file per cell
    * (repartition-by-cell). Guarded by the same [[IndexGen]] generation
    * CAS as the flat lane's mutations — a concurrent rebuild retires
    * the loser with ConcurrentCommit before any files land.
    */
  def appendToIvfPqIndex(batch: DataFrame, root: String): Unit = {
    val fs = DatapointStore.fsFor(batch.sparkSession, root)
    val gen = IndexGen.begin(fs, root)
    val enc = encodeIvfPqBatch(batch, root)
    val lease = IndexGen.advance(fs, root, gen)
    // cells live under per-append batch dirs (label = the CAS'd
    // generation, unique by construction): search discovers (batch,
    // cell) partitions and prunes on cell; the streaming lane's
    // crashed-batch repair deletes exactly one batch dir. One root is
    // managed by ONE lane (plain appends or applyIvfPqBatch) — labels
    // would collide across lanes.
    enc.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/pqcells/batch=${gen + 1}")
    IndexGen.release(fs, root, lease)
  }

  /** Hidden compaction stage + the durable compaction intent marker for
    * the PQ index: a bare stage heals into ROLLBACK, the marker into
    * COMPLETION (the stage is written complete before the marker).
    */
  private val PqCompactStage = ".ivfpq_cstage"
  private val PqCompactMarker = "_ivfpq_compact_"

  def deleteFromIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    deleteFromIvfPqIndexFrame(spark, root, ids.toDF("vec_id"))
  }

  /** Delete codes from the persisted PQ index by vec_id — the takedown
    * lane that completes the third index's lifecycle (codes are derived
    * data, but a deletion-compliance pass must still purge them without
    * a full re-encode). The flat lane's staged COW verbatim, applied to
    * the two-level (batch, cell) layout: one column-pruned scan locates
    * the touched (batch, cell) dirs, ONE partition-pruned anti-join job
    * rewrites them all into a hidden stage tree, and per-dir
    * [[DirSwap]] swaps publish — I/O ∝ touched dirs, never the index.
    * Crash-safe via [[healIvfPqIndex]] (run by every search).
    */
  def deleteFromIvfPqIndexFrame(spark: org.apache.spark.sql.SparkSession,
      root: String, idsDf: DataFrame): Unit = {
    healIvfPqIndex(spark, root)
    val fs = DatapointStore.fsFor(spark, root)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$root/pqcells"))) return
    val gen = IndexGen.begin(fs, root) // CAS baseline BEFORE observing
    val ids = idsDf.select(col("vec_id")).localCheckpoint(true)
    val touched = spark.read.schema(pqCellsSchema).parquet(s"$root/pqcells")
      .join(ids, Seq("vec_id"), "left_semi")
      .select(col("batch"), col("cell")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    if (touched.isEmpty) return
    // exact partition-pruned predicate: per-batch cell lists OR'd — the
    // cross-product isin superset would rewrite untouched dirs
    val byBatch = touched.groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
    val pred = byBatch.map { case (b, cs) =>
      col("batch") === b && col("cell").isin(cs: _*)
    }.reduce(_ || _)
    val pqcells = new org.apache.hadoop.fs.Path(s"$root/pqcells")
    spark.read.schema(pqCellsSchema).parquet(s"$root/pqcells")
      .where(pred)
      .join(broadcast(ids), Seq("vec_id"), "left_anti")
      .write.mode("overwrite").partitionBy("batch", "cell")
      .parquet(DirSwap.stage(pqcells).toString)
    val lease = IndexGen.advance(fs, root, gen) // publish gate
    // a (batch, cell) fully emptied has no staged copy and retires; the
    // TTL fence runs before each swap
    DirSwap.publish(fs, pqcells, touched.map { case (b, c) =>
      s"batch=$b/cell=$c" }, () => IndexGen.checkLease(fs, root, lease))
    IndexGen.release(fs, root, lease)
  }

  /** Fold every per-batch dir into ONE — the read-amplification remedy
    * for a maintained PQ index (each append/apply lands a new
    * `pqcells/batch=N`; a search in a long-maintained index pays a task
    * per batch dir per probed cell). The consolidated content replaces
    * the MAX existing label (so future appends — gen- or batchId-
    * labelled — always land above it and the exactly-once commit
    * horizon stays meaningful), the other batch dirs retire. Publish
    * protocol: stage written COMPLETE → generation CAS → durable
    * `_ivfpq_compact_<keep>` marker (the commitment point: heal
    * COMPLETES from it; without it a leftover stage rolls back) →
    * swap + retire → marker cleared.
    */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      root: String): Unit = {
    healIvfPqIndex(spark, root)
    val fs = DatapointStore.fsFor(spark, root)
    val pq = new org.apache.hadoop.fs.Path(s"$root/pqcells")
    if (!fs.exists(pq)) return
    val gen = IndexGen.begin(fs, root) // CAS baseline BEFORE observing
    val labels = fs.listStatus(pq)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong).sorted.toSeq
    if (labels.size <= 1) return
    val keep = labels.max
    val stage = new org.apache.hadoop.fs.Path(s"$root/$PqCompactStage")
    spark.read.schema(pqCellsSchema).parquet(s"$root/pqcells")
      .select(col("vec_id"), col("codes"), col("cell"))
      .repartition(col("cell")) // one file per cell, the append discipline
      .write.mode("overwrite").partitionBy("cell").parquet(stage.toString)
    val lease = IndexGen.advance(fs, root, gen) // publish gate
    // TTL fence before the commitment point: past it heal COMPLETES the
    // compaction, so a stalled holder must raise before the marker lands
    IndexGen.checkLease(fs, root, lease)
    fs.create(new org.apache.hadoop.fs.Path(root, s"$PqCompactMarker$keep"),
      true).close()
    finishPqCompact(fs, root, keep)
    IndexGen.release(fs, root, lease)
  }

  /** Execute (or re-execute after a crash) the compaction recorded in
    * the marker: the complete stage replaces `batch=<keep>`, every other
    * batch dir retires, marker clears. Idempotent — a replay where the
    * stage already renamed just finishes the retires.
    */
  private def finishPqCompact(fs: org.apache.hadoop.fs.FileSystem,
      root: String, keep: Long): Unit = {
    val stage = new org.apache.hadoop.fs.Path(s"$root/$PqCompactStage")
    val live = new org.apache.hadoop.fs.Path(s"$root/pqcells/batch=$keep")
    if (fs.exists(stage)) {
      fs.delete(live, true)
      if (!fs.rename(stage, live))
        throw new java.io.IOException(s"ivfpq compact: cannot publish $stage")
    }
    val pq = new org.apache.hadoop.fs.Path(s"$root/pqcells")
    if (fs.exists(pq)) fs.listStatus(pq)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .filter(_.getPath.getName.stripPrefix("batch=").toLong != keep)
      .foreach(s => fs.delete(s.getPath, true))
    fs.delete(new org.apache.hadoop.fs.Path(root, s"$PqCompactMarker$keep"),
      false)
  }

  /** Finish or roll back interrupted PQ mutations — the IVF heal state
    * discipline on the (batch, cell) layout: a compact marker is
    * post-publish intent (COMPLETE it), leftover stage trees are
    * pre-publish state (roll back), and [[DirSwap.heal]] restores a
    * (batch, cell) caught between its two renames. Idempotent; run by
    * every search and mutation.
    */
  def healIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      root: String): Unit = {
    val fs = DatapointStore.fsFor(spark, root)
    val rootP = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(rootP)) return
    // live writer mid-publication: serve published state, repair nothing
    if (IndexGen.leaseHeld(fs, root)) return
    val compactKeep = fs.listStatus(rootP).map(_.getPath.getName)
      .collect { case n if n.startsWith(PqCompactMarker) =>
        n.stripPrefix(PqCompactMarker).toLong }
      .sorted.lastOption
    compactKeep match {
      case Some(keepL) => finishPqCompact(fs, root, keepL)
      case None =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$root/$PqCompactStage"), true)
    }
    val pqcells = new org.apache.hadoop.fs.Path(s"$root/pqcells")
    DirSwap.dropStage(fs, pqcells)
    DirSwap.heal(fs, pqcells)
  }

  /** Per-cell observability for the persisted PQ index — (cell,
    * n_codes, n_batches, bytes): assignment cardinalities like
    * [[ivfIndexStats]], plus the batch-dir fan-out [[compactIvfPqIndex]]
    * exists to fold (n_batches grows one per append until compaction —
    * the read-amplification dial) and Hadoop-FS file bytes.
    */
  def ivfPqIndexStats(spark: org.apache.spark.sql.SparkSession,
      root: String): DataFrame = {
    healIvfPqIndex(spark, root)
    val counts = spark.read.schema(pqCellsSchema).parquet(s"$root/pqcells")
      .groupBy("cell").agg(count(lit(1)).as("n_codes"),
        countDistinct("batch").as("n_batches"))
    val fs = DatapointStore.fsFor(spark, root)
    val pq = new org.apache.hadoop.fs.Path(s"$root/pqcells")
    val bytes = fs.listStatus(pq).filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith("batch="))
      .flatMap { bd =>
        fs.listStatus(bd).filter(_.isDirectory)
          .map(_.getPath).filter(_.getName.startsWith("cell="))
          .map { cd =>
            (cd.getName.stripPrefix("cell=").toLong,
              fs.getContentSummary(cd).getLength)
          }
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
    import spark.implicits._
    counts.join(bytes.toDF("cell", "bytes"), Seq("cell"), "left")
      .select(col("cell"), col("n_codes"), col("n_batches"),
        coalesce(col("bytes"), lit(0L)).as("bytes"))
  }

  /** ADC-vs-exact drift audit for the persisted PQ index — the
    * [[auditIvfIndex]] shape with the ground truth supplied by the
    * CALLER's corpus (a codes-only index holds no raw vectors): a
    * stride-bounded query sample runs through exact brute-force cosine
    * and the index's ADC lane; recall@k in basis points plus cell/batch
    * balance in one row. Lost codes (a gutted batch dir, a
    * half-published delete) surface as recall decay ⇒ `rebuild` — for
    * a PQ index the remedy is a re-encode into a new root (codes are
    * derived data). minRecallBp is an ADC-quality dial, not a
    * correctness bar: quantization error bounds recall below flat-IVF
    * levels by design.
    */
  def auditIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, corpus: DataFrame, k: Int, nprobe: Int = 2,
      sampleBudget: Long = 20, minRecallBp: Long = 3000,
      maxCellPpm: Long = 500000): DataFrame = {
    healIvfPqIndex(spark, root)
    val c = corpus.select(col("vec_id"), col("emb")).localCheckpoint(true)
    val st = boundedStride(c, sampleBudget)
    val q = c.where(col("vec_id") % st === 0)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      .localCheckpoint(true)
    val exact = cosineTopK(c, broadcast(q), k)
      .select("qid", "cid").localCheckpoint(true)
    val approx = ivfPqIndexTopK(spark, root, q, k, nprobe)
      .select("qid", "cid")
    val hits = exact.join(approx, Seq("qid", "cid"), "left_semi").count()
    val exactN = exact.count()
    val nq = q.count()
    val per = spark.read.schema(pqCellsSchema).parquet(s"$root/pqcells")
      .groupBy("cell").agg(count(lit(1)).as("n"),
        countDistinct("batch").as("nb"))
      .agg(count(lit(1)).as("n_cells"), sum("n").as("n_codes"),
        max("n").as("max_cell_n"), max("nb").as("max_batches")).head()
    val (nCells, nCodes, maxCell, maxB) =
      (per.getLong(0), per.getLong(1), per.getLong(2), per.getLong(3))
    val maxPpm = if (nCodes == 0) 0L else 1000000L * maxCell / nCodes
    val recallBp = if (exactN == 0) 10000L else 10000L * hits / exactN
    import spark.implicits._
    Seq((nCells, nCodes, maxB, maxPpm, nq, recallBp,
      recallBp < minRecallBp || maxPpm > maxCellPpm))
      .toDF("n_cells", "n_codes", "max_batches", "max_cell_ppm",
        "sampled_n", "recall_bp", "rebuild")
  }

  /** Flat IVF cell tree schema — pinned for the same reason as
    * [[pqCellsSchema]]. */
  private val flatCellsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("emb",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)),
    org.apache.spark.sql.types.StructField("norm",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.LongType)))

  /** Two-stage refined search — the FAISS serving topology
    * (IndexIVFPQ + IndexRefine): stage 1 pulls `rerankR` candidates
    * per query from the codes-only PQ index (compressed, cheap,
    * approximate), stage 2 reranks EXACTLY those candidates by true
    * cosine against the FLAT index's raw vectors (a column-pruned
    * (vec_id, emb, norm) read joined on candidate id — work ∝
    * queries × rerankR, never the corpus). The two roots hold the
    * same content in the production pairing; norms come from the flat
    * index (bit-identical to sqrt(graft_dot) by the withProbes
    * discipline). Output: (qid, cid, rnk, sim) — exact cosines over
    * the ADC-selected candidate set.
    */
  def ivfPqIndexTopKRefined(spark: org.apache.spark.sql.SparkSession,
      pqRoot: String, flatRoot: String, queries: DataFrame, k: Int,
      rerankR: Int = 10, nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(spark)
    val cand = ivfPqIndexTopK(spark, pqRoot, queries, rerankR, nprobe)
      .select(col("qid"), col("cid"))
    healIvfIndex(spark, flatRoot)
    val raw = maskTombstones(spark, flatRoot,
        spark.read.schema(flatCellsSchema).parquet(s"$flatRoot/cells"))
      .select(col("vec_id").as("cid"), col("emb").as("demb"),
        col("norm").as("dnorm"))
    val qk = queries.select(col("qid"), col("qemb"))
      .withColumn("qnorm", sqrt(call_function("graft_dot",
        col("qemb"), col("qemb"))))
    val rr = cand.join(raw, Seq("cid")).join(qk, Seq("qid"))
      .withColumn("sim",
        call_function("graft_dot", col("qemb"), col("demb")) /
          (col("qnorm") * col("dnorm")))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    rr.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("qid"), col("cid"), col("rnk"), col("sim"))
  }

  /** Resolve the live generation of a MAINTAINED PQ index family under
    * `base` — the [[ivfCurrentRoot]] discipline for the codes-only lane:
    * generations live at `base/gen=N`, live = max `_ivfpq_gen_N` marker
    * (none = the bootstrap gen=0), publish = single marker create after
    * the rebuilt index is complete.
    */
  def ivfPqCurrentRoot(spark: org.apache.spark.sql.SparkSession,
      base: String): String = s"$base/gen=${ivfPqCurrentGen(spark, base)}"

  private def ivfPqCurrentGen(spark: org.apache.spark.sql.SparkSession,
      base: String): Long = {
    val fs = DatapointStore.fsFor(spark, base)
    val dir = new org.apache.hadoop.fs.Path(base)
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("_ivfpq_gen_") =>
        n.stripPrefix("_ivfpq_gen_").toLong }
      .foldLeft(0L)(math.max)
  }

  /** One foreachBatch step of the FULLY-WIRED PQ maintenance loop — the
    * [[maintainIvfBatch]] shape for the codes-only index: exactly-once
    * apply into the family's live generation, in-loop batch-dir
    * compaction every `compactEvery` batches, and [[auditIvfPqIndex]]
    * every `auditEvery` batches with an automatic RE-ENCODE into the
    * next generation when the audit trips (a PQ rebuild must return to
    * the raw vectors — codes are derived data — so the loop takes the
    * ground-truth `corpus` the audit already needs: quantizers retrain
    * on it with the given strides and the cells re-encode from it). The
    * commit horizon is carried into the new generation BEFORE the
    * single-marker publish, so pre-flip re-deliveries stay skipped.
    */
  def maintainIvfPqBatch(spark: org.apache.spark.sql.SparkSession,
      base: String, batch: DataFrame, batchId: Long, corpus: DataFrame,
      compactEvery: Int = 0, auditEvery: Int = 0, k: Int = 3,
      nprobe: Int = 2, rebuildStride: Long = 50, rebuildPqStride: Long = 5,
      m: Int = 16, sampleBudget: Long = 20, minRecallBp: Long = 3000,
      maxCellPpm: Long = 500000): Boolean = {
    val gen = ivfPqCurrentGen(spark, base)
    val cur = s"$base/gen=$gen"
    val applied = applyIvfPqBatch(spark, cur, batch, batchId)
    if (!applied) return false
    if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
      compactIvfPqIndex(spark, cur)
    if (auditEvery > 0 && batchId % auditEvery == auditEvery - 1) {
      val a = auditIvfPqIndex(spark, cur, corpus, k, nprobe, sampleBudget,
        minRecallBp, maxCellPpm).head()
      if (a.getBoolean(6)) {
        val fs = DatapointStore.fsFor(spark, base)
        val next = s"$base/gen=${gen + 1}"
        // a crashed earlier attempt leaves an unmarked half-built dir —
        // clear it or the re-encode would double its content
        fs.delete(new org.apache.hadoop.fs.Path(next), true)
        writeIvfPqQuantizers(corpus, next, rebuildStride, m, rebuildPqStride)
        appendToIvfPqIndex(corpus, next)
        // carry the exactly-once horizon BEFORE the generation flip
        fs.create(new org.apache.hadoop.fs.Path(next,
          s"_ivfpq_commit_$batchId"), true).close()
        fs.create(new org.apache.hadoop.fs.Path(base,
          s"_ivfpq_gen_${gen + 1}"), true).close()
        fs.delete(new org.apache.hadoop.fs.Path(base,
          s"_ivfpq_gen_$gen"), false)
      }
    }
    applied
  }

  /** FULL-PROBE exact search over the persisted flat index — every cell
    * is a candidate, scored from the STORED vectors and norms with
    * [[cosineTopK]]'s exact formula and tie rules (a stored norm is
    * bit-identical to sqrt(graft_dot) by the [[withProbes]] discipline),
    * so the result equals the ad-hoc exact search over the same content
    * bit-for-bit. This is the hybrid serving topology's dense lane when
    * recall must be exact: queries are metadata-scale (broadcast), the
    * corpus side streams through one scan + one top-k window — and it
    * avoids [[ivfIndexTopK]]'s O(nprobe) probe-expression build, which
    * is the wrong tool at nprobe ≈ K.
    */
  def ivfIndexTopKExact(spark: org.apache.spark.sql.SparkSession,
      root: String, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(spark)
    healIvfIndex(spark, root)
    val c = maskTombstones(spark, root,
        spark.read.schema(flatCellsSchema).parquet(s"$root/cells"))
      .select(col("vec_id"), col("emb"), col("norm").as("c_norm"))
    val q = queries.withColumn("q_norm",
      sqrt(call_function("graft_dot", col("qemb"), col("qemb"))))
    val scored = broadcast(q).join(c, col("vec_id") =!= col("qid"))
      .withColumn("sim", call_function("graft_dot", col("qemb"), col("emb")) /
        (col("q_norm") * col("c_norm")))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("cid"), col("rnk"), col("sim"))
  }

  /** PQ cell tree schema, PINNED on every read: partition-type
    * inference would type small `cell`/`batch` dir values as INT, and
    * the probed-cell `isin(longs)` filter then carries a cast that can
    * defeat partition pruning at scale (observed via the demolition
    * spec's getLong blowing up on an inferred Integer).
    */
  private val pqCellsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("codes",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false)),
    org.apache.spark.sql.types.StructField("batch",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.LongType)))

  /** Encode a batch against the frozen sidecar quantizers:
    * (vec_id, cell, codes), localCheckpoint'd. */
  private def encodeIvfPqBatch(batch: DataFrame, root: String): DataFrame = {
    val ss = batch.sparkSession
    GraftFunctions.register(ss)
    val cents = readIvfCentroids(ss, root)
    val cbRows = ss.read.parquet(s"$root/codebooks")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    val m = cbRows.map(_._1).max + 1
    val codebooks = (0 until m).map(s0 =>
      cbRows.filter(_._1 == s0).sortBy(_._2).map(_._3).toSeq)
    val sub = codebooks.head.head.length
    val cbLit = typedLit(codebooks)
    val cn2Lit = typedLit(codebooks.map(_.map(cs => cs.map(x => x * x).sum)))
    val vecs = withProbes(batch, cents, 1)
      .withColumn("subs", array((0 until m).map(s0 =>
        slice(col("emb"), s0 * sub + 1, sub)): _*))
      .withColumn("selfd", expr("transform(subs, x -> graft_dot(x, x))"))
      .select(col("vec_id"), element_at(col("probes"), 1).as("cell"),
        col("subs"), col("selfd"))
      .localCheckpoint(true) // slices feed the encode projection below
    vecs.select(col("vec_id"), col("cell"),
        call_function("graft_pq_encode", col("subs"), col("selfd"),
          cbLit, cn2Lit).as("codes"))
      .localCheckpoint(true) // feeds touched-cell list + the write
  }

  /** Exactly-once streaming maintenance of the PQ index — the
    * [[applyIvfBatch]] discipline for the codes-only lane: a batch-id
    * commit gate skips checkpoint-replayed batches, a crashed same-id
    * attempt's (uncommitted) batch dir is deleted before the rewrite,
    * and at-least-once re-delivery under a NEW id folds to
    * first-arrival-wins by an anti-join against the ids already present
    * in the batch's touched cells (I/O ∝ touched cells — the
    * column-pruned vec_id scan skips every other cell dir). Markers
    * prune below the committed horizon like the flat lane. Returns
    * false iff skipped.
    */
  def applyIvfPqBatch(spark: org.apache.spark.sql.SparkSession,
      root: String, batch: DataFrame, batchId: Long): Boolean = {
    val fs = DatapointStore.fsFor(spark, root)
    val rootP = new org.apache.hadoop.fs.Path(root)
    healIvfPqIndex(spark, root) // complete/roll back a crashed mutation
    // gen read BEFORE observing any state (the documented CAS
    // discipline of the other mutation lanes): a concurrent mutation
    // finishing between the pqcells snapshot below and a later gen read
    // would pass the CAS undetected and the re-delivery anti-join could
    // miss its rows (duplicate encodes)
    val gen = IndexGen.begin(fs, root)
    val committed =
      if (!fs.exists(rootP)) -1L
      else fs.listStatus(rootP).map(_.getPath.getName)
        .collect { case n if n.startsWith("_ivfpq_commit_") =>
          n.stripPrefix("_ivfpq_commit_").toLong }
        .foldLeft(-1L)(math.max)
    if (batchId <= committed) return false
    val bdir = new org.apache.hadoop.fs.Path(s"$root/pqcells/batch=$batchId")
    if (fs.exists(bdir)) fs.delete(bdir, true) // crashed attempt: pre-publish
    val enc = encodeIvfPqBatch(batch, root)
    val touched = enc.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq
    val pq = new org.apache.hadoop.fs.Path(s"$root/pqcells")
    val hasContent = fs.exists(pq) &&
      fs.listStatus(pq).exists(_.getPath.getName.startsWith("batch="))
    val fresh =
      if (!hasContent) enc
      else enc.join(
        spark.read.schema(pqCellsSchema).parquet(s"$root/pqcells")
          .where(col("cell").isin(touched: _*)).select("vec_id"),
        Seq("vec_id"), "left_anti")
    val lease = IndexGen.advance(fs, root, gen) // publish point; gen read at entry
    fresh.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/pqcells/batch=$batchId")
    fs.create(new org.apache.hadoop.fs.Path(
      s"$root/_ivfpq_commit_$batchId"), true).close()
    fs.listStatus(rootP).map(_.getPath).foreach { p =>
      val n = p.getName
      if (n.startsWith("_ivfpq_commit_") &&
          n.stripPrefix("_ivfpq_commit_").toLong < batchId)
        fs.delete(p, false)
    }
    IndexGen.release(fs, root, lease)
    true
  }

  /** Search the persisted IVF-PQ index: probe the queries against the
    * frozen coarse centroids, read ONLY the probed cell partitions
    * (I/O ∝ nprobe cells of codes, never the index), and score by the
    * same fused `graft_pq_adc` asymmetric distance as the in-memory
    * lane — query slices against candidate codes, codebook as a
    * broadcast-free literal. Output: (qid, cid, rnk, adist).
    */
  def ivfPqIndexTopK(spark: org.apache.spark.sql.SparkSession,
      root: String, queries: DataFrame, k: Int,
      nprobe: Int = 2): DataFrame =
    ivfPqIndexCore(spark, root, queries, k, nprobe, None)

  /** Attribute-filtered IVF-PQ search (r15): candidates must appear in
    * `allowed` (a vec-id frame — any metadata predicate materializes to
    * one; the [[Retrieval.bm25TopKIndexedFiltered]] shape for the
    * compressed index, where codes-only rows carry no attributes by
    * design). The semi-join runs BEFORE the ADC kernel — no distance
    * math on filtered-out codes; I/O stays ∝ probed cell partitions.
    * Broadcast `allowed` at the call site when it is small.
    */
  def ivfPqIndexTopKFiltered(spark: org.apache.spark.sql.SparkSession,
      root: String, queries: DataFrame, k: Int, allowed: DataFrame,
      nprobe: Int = 2): DataFrame =
    ivfPqIndexCore(spark, root, queries, k, nprobe, Some(allowed))

  private def ivfPqIndexCore(spark: org.apache.spark.sql.SparkSession,
      root: String, queries: DataFrame, k: Int,
      nprobe: Int, allowed: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    healIvfPqIndex(spark, root) // finish/roll back interrupted mutations
    GraftFunctions.register(spark)
    val cents = readIvfCentroids(spark, root)
    val cbRows = spark.read.parquet(s"$root/codebooks")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    val m = cbRows.map(_._1).max + 1
    val codebooks = (0 until m).map(s0 =>
      cbRows.filter(_._1 == s0).sortBy(_._2).map(_._3).toSeq)
    val sub = codebooks.head.head.length
    val cbLit = typedLit(codebooks)
    val cn2Lit = typedLit(codebooks.map(_.map(cs => cs.map(x => x * x).sum)))
    val probeSide = withProbes(
        queries.select(col("qid").as("vec_id"), col("qemb").as("emb")),
        cents, nprobe)
      .withColumn("qsubs", array((0 until m).map(s0 =>
        slice(col("emb"), s0 * sub + 1, sub)): _*))
      .withColumn("qselfd", expr("transform(qsubs, x -> graft_dot(x, x))"))
      .withColumn("cell", explode(col("probes")))
      .select(col("vec_id").as("qid"), col("qsubs"), col("qselfd"),
        col("cell"))
      .localCheckpoint(true) // read twice: probed-cell list + the join
    val probedCells = probeSide.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq
    val codesAll = spark.read.schema(pqCellsSchema)
      .parquet(s"$root/pqcells")
      .where(col("cell").isin(probedCells: _*))
    // filtered lane: restrict candidates before any ADC math
    val codes = allowed match {
      case Some(a) => codesAll.join(a.select(col("vec_id")),
        Seq("vec_id"), "left_semi")
      case None => codesAll
    }
    val ad = probeSide.join(codes, Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        call_function("graft_pq_adc", col("qsubs"), col("qselfd"),
          col("codes"), cbLit, cn2Lit).as("adist"))
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("cid"))
    ad.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("qid"), col("cid"), col("rnk"), col("adist"))
  }

  /** Shared IVFPQ search: coarse probes + ADC over the given per-subspace
    * codebooks (`codebooks(s)(j)` = entry j of subspace s; entry ids are
    * the positions 0..ksub-1 for trained books, so both lanes rank with
    * the same lowest-entry tie-break).
    */
  private def ivfpqTopKWith(corpus: DataFrame, k: Int, stride: Long,
      nprobe: Int, m: Int, codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = corpus.sparkSession
    GraftFunctions.register(spark)
    val cents = strideCentroids(corpus, stride)
    val sub = codebooks.head.head.length

    val assigned = withProbes(corpus, cents, nprobe).localCheckpoint(true)

    // codebook + per-entry self-dots as LITERALS: metadata-scale
    // (m × ksub × sub doubles), decoded once per executor by the fused
    // PQ kernels — never joined, never shuffled
    val cbLit = typedLit(codebooks)
    val cn2Lit = typedLit(codebooks.map(_.map(cs => cs.map(x => x * x).sum)))

    // slices + per-subspace self-dots MATERIALIZED before downstream
    // joins (the derived-expression rule: left unmaterialized, Catalyst
    // collapses the array(slice...) projection into the join output and
    // rebuilds all m slices PER JOINED ROW — measured 219 CPU s at sf0.1
    // vs single-digit after); n rows × m×(sub+1) doubles, tiny
    val vecs = assigned
      .withColumn("subs", array((0 until m).map(s0 =>
        slice(col("emb"), s0 * sub + 1, sub)): _*))
      .withColumn("selfd", expr("transform(subs, x -> graft_dot(x, x))"))
      .select(col("vec_id"), col("subs"), col("selfd"))
      .localCheckpoint(true)
    // PQ ENCODE: one fused argmin kernel per row (graft_pq_encode, m ×
    // ksub sub-dots in a tight loop). The declarative alternative
    // materialized the n × m × ksub distance relation (corpus ×
    // broadcast codebook) and ranked it with a (vec, s) window — 10M+
    // rows, a sort, and a three-way join at sf0.1: 59 CPU s measured,
    // ~2 after. The kernel emits the same codes bit-for-bit: identical
    // (self − 2·dot) + |c|² parenthesization, strict-< ascending scan
    // = the window's (d2, cent_id) tie order.
    val codes = vecs.select(col("vec_id").as("cid"),
      call_function("graft_pq_encode", col("subs"), col("selfd"),
        cbLit, cn2Lit).as("codes"))

    val corpusSide = assigned.select(col("vec_id"),
      element_at(col("probes"), 1).as("cell"))
    val probeSide = assigned.select(col("vec_id").as("qid"),
      explode(col("probes")).as("cell"))
    val cand = probeSide.join(corpusSide, Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"))

    // ADC per candidate pair: join the candidate's codes (m ints) and
    // the query's own subs/selfd, then one fused kernel — subspace
    // terms accumulate 0..m−1 left-assoc, identical to the fixed
    // conditional-aggregate chain it replaces (oracle SQL unchanged)
    val qside = vecs.select(col("vec_id").as("qid"),
      col("subs").as("qsubs"), col("selfd").as("qselfd"))
    val ad = cand.join(codes, Seq("cid")).join(qside, Seq("qid"))
      .select(col("qid"), col("cid"),
        call_function("graft_pq_adc", col("qsubs"), col("qselfd"),
          col("codes"), cbLit, cn2Lit).as("adist"))
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("cid"))
    ad.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("qid"), col("cid"), col("rnk"), col("adist"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic dedup at
    * corpus scale: coarse-cluster every vector with the IVF quantizer
    * (argmax-cosine cell over metadata-scale centroids — the same
    * zero-shuffle codegen projection as [[ivfTopKWith]]'s assignment,
    * ties to the lowest centroid id), then collapse near-identical
    * vectors WITHIN each cell: a vector is a semantic duplicate iff some
    * smaller-vec_id vector in its cell has cosine >= tau, and its keeper
    * (`dup_of`) is the smallest such id — the paper's "keep one per
    * epsilon-ball" rule made deterministic and oracle-reproducible.
    * The intra-cell scan is an equi-join on cell — one shuffle of
    * (cell, id, emb, norm) rows, never an all-pairs corpus join; pair
    * work is quadratic only in cell size, which the paper's regime keeps
    * ~N/K bounded by scaling K with the corpus. Output: every corpus
    * vector as (vec_id, cell, dup_of, sim); dup_of/sim are null for
    * keepers, so survivors = `dup_of IS NULL`.
    */
  /** Coarse-cell assignment (the SemDeDup/IVF index build): every vector
    * gets its argmax-cosine cell over the metadata-scale centroids — a
    * zero-shuffle codegen projection, ties to the lowest centroid id.
    * Output: (vec_id, emb, norm, cell, csim) where csim is the cosine to
    * the OWN cell's centroid (free — it is the argmax value), the
    * prototypicality signal [[prototypes]] ranks on. Production persists
    * this beside the vectors and reuses it across [[semDedup]] /
    * [[semDedupIncremental]] / [[prototypes]] runs.
    */
  def assignCells(vectors: DataFrame,
      cents: Array[(Long, Seq[Double])]): DataFrame = {
    GraftFunctions.register(vectors.sparkSession)
    val centNorms = cents.map { case (_, c) => math.sqrt(c.map(x => x * x).sum) }
    val n = withNorm(vectors, "emb", "norm")
    val simCols = cents.indices.map { i =>
      call_function("graft_dot", col("emb"), typedLit(cents(i)._2)) /
        (col("norm") * lit(centNorms(i)))
    }
    n.withColumn("sims", array(simCols: _*))
      .withColumn("cell",
        element_at(typedLit(cents.map(_._1).toSeq),
          array_position(col("sims"), array_max(col("sims"))).cast("int")))
      .select(col("vec_id"), col("emb"), col("norm"), col("cell"),
        array_max(col("sims")).as("csim"))
  }

  /** Prototypicality sampling over the coarse cells (the SSL-prune / D4
    * data-curation family): rank every vector inside its cell by cosine
    * to the cell centroid and keep the top `k` — `mostProto = true`
    * keeps the most prototypical (cluster cores), `false` the least
    * (the hard/diverse tail that prototype-pruning papers keep for
    * training value). One window over the (cell) partition after a
    * zero-shuffle assignment — WindowGroupLimit pushes the rank cut
    * below the sort at scale. Ties break to the lowest vec_id. Output:
    * (cell, vec_id, csim, rnk).
    */
  def prototypes(corpus: DataFrame, cents: Array[(Long, Seq[Double])],
      k: Int, mostProto: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = if (mostProto) col("csim").desc else col("csim").asc
    val w = Window.partitionBy("cell").orderBy(order, col("vec_id"))
    assignCells(corpus, cents)
      .select(col("cell"), col("vec_id"), col("csim"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
  }

  def semDedup(corpus: DataFrame, cents: Array[(Long, Seq[Double])],
      tau: Double): DataFrame = {
    // materialize the assignment once: the intra-cell self-join below
    // would otherwise re-run the K centroid dots per join side
    val assigned = assignCells(corpus, cents).localCheckpoint(true)
    val smaller = assigned.select(col("cell"), col("vec_id").as("o_id"),
      col("emb").as("o_emb"), col("norm").as("o_norm"))
    val dupOf = assigned.join(smaller, Seq("cell"))
      .where(col("o_id") < col("vec_id"))
      .withColumn("sim", dot("emb", "o_emb") / (col("norm") * col("o_norm")))
      .where(col("sim") >= tau)
      .groupBy("vec_id")
      .agg(min(struct(col("o_id"), col("sim"))).as("k"))
      .select(col("vec_id"), col("k.o_id").as("dup_of"), col("k.sim").as("sim"))
    assigned.select(col("vec_id"), col("cell"))
      .join(dupOf, Seq("vec_id"), "left")
  }

  /** Incremental (batch-vs-corpus) SemDeDup — the steady-state ingest
    * shape: an arriving batch is checked against the existing corpus's
    * PRE-ASSIGNED cells (`corpusAssigned` = [[assignCells]] output, a
    * persistent index), never corpus-vs-corpus. A batch vector is a
    * semantic duplicate iff some corpus vector in its cell has cosine >=
    * tau; `dup_of` is the smallest such corpus id. Work ∝ |batch| +
    * same-cell candidates: the batch assignment is a zero-shuffle
    * projection and the pair scan an equi-join on cell. Output: every
    * batch vector as (vec_id, cell, dup_of, sim), dup_of/sim null for
    * batch vectors with no corpus-side match; survivors = dup_of IS NULL.
    */
  def semDedupIncremental(corpusAssigned: DataFrame, batch: DataFrame,
      cents: Array[(Long, Seq[Double])], tau: Double): DataFrame = {
    val b = assignCells(batch, cents).localCheckpoint(true)
    val c = corpusAssigned.select(col("cell"), col("vec_id").as("o_id"),
      col("emb").as("o_emb"), col("norm").as("o_norm"))
    val dupOf = b.join(c, Seq("cell"))
      .withColumn("sim", dot("emb", "o_emb") / (col("norm") * col("o_norm")))
      .where(col("sim") >= tau)
      .groupBy("vec_id")
      .agg(min(struct(col("o_id"), col("sim"))).as("k"))
      .select(col("vec_id"), col("k.o_id").as("dup_of"), col("k.sim").as("sim"))
    b.select(col("vec_id"), col("cell"))
      .join(dupOf, Seq("vec_id"), "left")
  }

  /** ANN cosine top-k via LSH buckets: exact rerank inside each bucket —
    * the join is an equi-join on bucket (one shuffle), never all-pairs.
    */
  def annTopK(corpus: DataFrame, dim: Int, k: Int, planes: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(corpus.sparkSession)
    // norm + bucket in ONE projection over the scan (a vec_id self-join
    // here would shuffle the corpus twice for two columns of derived data),
    // materialized once: this IS the index build — the bucket self-join
    // below would otherwise evaluate the planes×dim signature per side
    val withB = withNorm(corpus, "emb", "norm")
      .withColumn("bucket", lshBucketCol(dim, planes))
      .localCheckpoint(true)
    val pairs = withB.select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("norm").as("q_norm"), col("bucket"))
      .join(withB.select(col("vec_id"), col("emb"), col("norm"), col("bucket")),
        Seq("bucket"))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("sim", dot("qemb", "emb") / (col("q_norm") * col("norm")))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    pairs.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("cid"), col("rnk"), col("sim"))
  }

  /** Filtered ("hybrid") top-k cosine search: candidates must share
    * `groupCol` with the query — the metadata-filter-plus-vector-search
    * shape every production retrieval system needs. Crucially this is an
    * EQUI-join on the filter key (one shuffle, or broadcast-able queries),
    * not a cross-join-then-filter: at 100 TB the group key partitions the
    * search space so each executor scans only its groups' vectors.
    * Queries: (qid, qemb, groupCol); corpus: (vec_id, emb, groupCol).
    */
  def cosineTopKGrouped(corpus: DataFrame, queries: DataFrame, k: Int,
      groupCol: String = "label"): DataFrame =
    topKWith(corpus, queries.withColumnRenamed(groupCol, "q_grp"), k,
      col("q_grp") === col(groupCol) && col("vec_id") =!= col("qid"),
      Seq(col(groupCol)))

  /** kNN label classification over embeddings — the standard
    * annotate-by-neighbors pass of a training-data pipeline (label
    * propagation from a small labeled seed set to unlabeled corpus
    * members). For each query, take the exact cosine top-k among the
    * labeled corpus and majority-vote the neighbor labels; vote ties
    * break to the smallest label, so the prediction is a deterministic
    * integer function of the neighbor set (neighbor sets themselves are
    * pinned by the shared (sim desc, vec_id) tie-break in [[cosineTopK]]).
    * Queries: (qid, qemb); corpus: (vec_id, emb, labelCol). Output:
    * (qid, pred_label, votes). Scale shape: the scoring join is the same
    * broadcast NLJ as [[cosineTopK]] (queries tiny by contract; swap in
    * the IVF/LSH candidate generators for corpus-scale query sets), and
    * the vote is a per-query hash agg over k rows — never a shuffle of
    * embeddings.
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame, k: Int,
      labelCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nbrs = topKWith(corpus, queries, k,
      col("vec_id") =!= col("qid"), Seq(col(labelCol)))
    val votes = nbrs.groupBy(col("qid"), col(labelCol))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("qid")
      .orderBy(col("votes").desc, col(labelCol))
    votes.withColumn("r", row_number().over(w)).where(col("r") === 1)
      .select(col("qid"), col(labelCol).cast("long").as("pred_label"),
        col("votes"))
  }

  /** Symmetric int8 quantization of an embedding column — the standard 4×
    * memory/IO reduction that keeps a 100 TB vector corpus scannable:
    * per-vector scale = max|v| / 127, stored values round(v / scale) ∈
    * [−127, 127]. Pure per-row projection (no shuffle). Elements are cast
    * to double BEFORE any arithmetic so results are bit-reproducible
    * across engines. Output: scalar audit columns (scale, Σq, max
    * dequantization error ≤ scale/2) — the gate's compare can't hash raw
    * array cells, and the scalars pin the array contents anyway.
    */
  def quantizeInt8(vectors: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    vectors.select(col(idCol).as("vec_id"),
        expr(s"transform($embCol, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("scale",
        expr("array_max(transform(v, x -> abs(x))) / 127.0D"))
      // all-zero vector => scale 0: quantize to 0 instead of x/0 = Inf,
      // which ANSI mode would refuse to cast
      .withColumn("q", expr(
        "transform(v, x -> CAST(round(CASE WHEN scale = 0D THEN 0D ELSE x / scale END) AS INT))"))
      .select(col("vec_id"), col("scale"),
        expr("aggregate(q, 0L, (acc, x) -> acc + x)").as("sum_q"),
        expr("array_max(zip_with(q, v, (qi, xi) -> abs(qi * scale - xi)))")
          .as("max_err"))

  /** Maximal-marginal-relevance diversified top-k — the retrieval
    * re-rank that trades pure relevance for coverage (the standard
    * "don't return 10 near-duplicates" step between ANN and the user):
    * greedily pick argmax λ·rel(c) − (1−λ)·max_{s∈picked} cos(c, s),
    * ties to the lowest id.
    *
    * Scale shape: candidate generation is the distributed part — an
    * exact cosine scan ranked (rel desc, id) truncated to `candN` (a
    * TakeOrderedAndProject, no global sort materialization). The greedy
    * selection is inherently sequential, so it runs DRIVER-SIDE over the
    * collected candN×d candidate block — metadata scale by contract
    * (candN ≲ 10³), the same trade as IVF's centroid training. All dots
    * fold ascending (≡ graft_dot ≡ list_dot_product), so scores and
    * therefore picks are engine-reproducible; MMR combine is the one
    * fixed-shape double expression `λ·rel − (1−λ)·maxsim`.
    *
    * Output: (rnk 1-based, vec_id, rel, mmr) — mmr of rank 1 is λ·rel
    * (empty picked set).
    */
  def mmrSelect(corpus: DataFrame, query: DataFrame, candN: Int, k: Int,
      lambda: Double): DataFrame = {
    val ss = corpus.sparkSession
    GraftFunctions.register(ss)
    val c = withNorm(corpus, "emb", "c_norm")
    val q = withNorm(query, "qemb", "q_norm")
    val cand = c.join(broadcast(q))
      .withColumn("rel", dot("qemb", "emb") / (col("q_norm") * col("c_norm")))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(candN)
      .select("vec_id", "emb", "rel")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    def d(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b)))
    val picked = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Double, Double)] // (rnk, id, rel, mmr)
    val pickedEmb = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val remaining = scala.collection.mutable.LinkedHashMap(
      cand.map(t => t._1 -> t): _*)
    while (picked.length < k && remaining.nonEmpty) {
      var best: (Long, Array[Double], Double, Double) = null
      for ((_, (id, e, rel)) <- remaining) {
        val maxSim =
          if (pickedEmb.isEmpty) 0.0
          else pickedEmb.iterator.map(s => cos(e, s)).max
        val mmr = lambda * rel - (1.0 - lambda) * maxSim
        if (best == null || mmr > best._4 ||
          (mmr == best._4 && id < best._1)) best = (id, e, rel, mmr)
      }
      picked += ((picked.length + 1, best._1, best._3, best._4))
      pickedEmb += best._2
      remaining.remove(best._1)
    }
    import ss.implicits._
    picked.toSeq.toDF("rnk", "vec_id", "rel", "mmr")
  }

  /** int8 scalar quantization (SQ8) search lane: per-dim (min, span) from
    * the DimStats corpus profile, code = min(255, floor((x − min)·255 /
    * span)) — the standard 4× storage cut vs float32 that ANN systems
    * (FAISS SQ8) apply before IVF/PQ — and top-k MIPS scored on the
    * QUANTIZED codes. The profile is one mergeable whole-vector Aggregator
    * pass (collected: d rows, metadata-scale); quantize + dot run in the
    * scan projection; top-k is a TakeOrdered, so nothing but k rows ever
    * leaves the executors.
    *
    * Exactness discipline: min/max of doubles are order-insensitive, the
    * quantize arithmetic keeps the oracle's parenthesization
    * `(x − vmin) * 255.0 / span`, and the code dot is a sum of integers
    * ≤ 255²·d — exact in doubles at any summation order — cast to BIGINT.
    * The whole lane is hash-exact cross-engine with no fp tolerance.
    */
  /** IVF-SQ8 ANN top-k (the FAISS IndexIVFScalarQuantizer shape):
    * coarse IVF cells bound each query's candidates (nprobe equi-join,
    * exactly [[ivfTopK]]'s pruning) and the candidates are scored on
    * their int8 SQ codes instead of raw floats — the 4× memory cut of
    * [[sq8TopK]] composed with cell pruning, completing the ANN family
    * (LSH / IVF / IVF-PQ / binary / SQ8 / IVF-SQ8). Code dots are sums
    * of integers ≤ 255²·d — exact in doubles at any order, cast BIGINT,
    * so ranking is (dot desc, cid) with no fp tolerance and the whole
    * lane is hash-exact cross-engine. The per-dim (min, span) profile is
    * one mergeable whole-vector Aggregator pass; codes materialize ONCE
    * before the cell join (the CollapseProject derived-array rule —
    * inlined, the zip_with quantizer would rebuild per joined pair).
    */
  def ivfSq8TopK(corpus: DataFrame, k: Int, stride: Long,
      nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(corpus.sparkSession)
    val prof = DimStats.dimStats(corpus, "emb").orderBy("dim")
      .select("vmin", "vmax").collect()
    val vmin = prof.map(_.getDouble(0)).toSeq
    val span = prof.map(r => r.getDouble(1) - r.getDouble(0)).toSeq
    val codeExpr = zip_with(
      zip_with(col("emb"), typedLit(vmin), (x, mn) => x - mn),
      typedLit(span),
      (d, sp) => when(sp === 0.0, lit(0.0)).otherwise(
        least(lit(255.0), floor(d * lit(255.0) / sp).cast("double"))))
    val assigned = withProbes(corpus, strideCentroids(corpus, stride), nprobe)
      .withColumn("qc", codeExpr)
      .localCheckpoint(true)
    val corpusSide = assigned
      .withColumn("cell", element_at(col("probes"), 1))
      .select(col("vec_id"), col("cell"), col("qc"))
    val probeSide = assigned
      .withColumn("cell", explode(col("probes")))
      .select(col("vec_id").as("qid"), col("qc").as("qqc"), col("cell"))
    val pairs = probeSide.join(corpusSide, Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("dot",
        call_function("graft_dot", col("qqc"), col("qc")).cast("long"))
    val w = Window.partitionBy("qid").orderBy(col("dot").desc, col("vec_id"))
    pairs.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("cid"), col("rnk"), col("dot"))
  }

  def sq8TopK(embs: DataFrame, queryId: Long, k: Int = 20,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    graft.functions.GraftFunctions.register(embs.sparkSession)
    val prof = DimStats.dimStats(embs, vecCol).orderBy("dim")
      .select("vmin", "vmax").collect()
    val vmin = prof.map(_.getDouble(0))
    val span = prof.map(r => r.getDouble(1) - r.getDouble(0))
    def quant(x: Double, i: Int): Double =
      if (span(i) == 0.0) 0.0
      else math.min(255.0, math.floor((x - vmin(i)) * 255.0 / span(i)))
    val qraw = embs.where(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>")).head().getSeq[Double](0)
    val qq = qraw.toArray.zipWithIndex.map { case (x, i) => quant(x, i) }.toSeq
    val codes = zip_with(
      zip_with(col("__e"), typedLit(vmin.toSeq), (x, mn) => x - mn),
      typedLit(span.toSeq),
      (d, sp) => when(sp === 0.0, lit(0.0)).otherwise(
        least(lit(255.0), floor(d * lit(255.0) / sp).cast("double"))))
    embs.select(col(idCol), col(vecCol).cast("array<double>").as("__e"))
      .select(col(idCol),
        call_function("graft_dot", codes, typedLit(qq)).cast("long").as("dot"))
      .orderBy(desc("dot"), col(idCol))
      .limit(k)
  }
}
