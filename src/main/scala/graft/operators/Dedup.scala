package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines (driver
  * north-star scope; no counterpart in the reference — see SURVEY §2.4
  * "north-star extras").
  *
  * Scale design:
  *  - Exact dedup is a single hash-groupBy — one shuffle of (hash, id),
  *    never of document text.
  *  - Near-dup (MinHash+LSH) shuffles only fixed-size signatures and band
  *    keys: per doc, `numHashes` longs + `bands` band rows, independent of
  *    document length. Candidate generation is an equi-join on
  *    (band, band_hash); only verified candidates re-join to shingle sets.
  *  - Everything is codegen'd builtins (xxhash64, transform, slice) — no
  *    UDFs in the hot path.
  */
object Dedup {

  /** Exact dedup groups: content hash -> duplicate count + representative
    * (lowest) id. One shuffle of (16-byte hash, id).
    */
  def exact(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("h"))
      .agg(count(lit(1)).as("dup_count"), min(col(idCol)).as("keep_id"))

  /** Distinct word n-gram shingles per document. */
  def shingles(docs: DataFrame, n: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      array_distinct(expr(
        s"""transform(sequence(0, greatest(size(split($textCol, ' ')) - $n, 0)),
           |          i -> concat_ws(' ', slice(split($textCol, ' '), i + 1, $n)))"""
          .stripMargin)).as("shingles"))

  /** 60-bit SimHash per document: bit i of the fingerprint is the majority
    * vote of bit i across the token hashes (ties set the bit) — one fused
    * codegen pass via the native [[graft.functions.SimHash64]] expression
    * over [[graft.functions.Md5TokenHashes]] 60-bit md5 token hashes.
    * The md5 basis makes the fingerprint reproducible in DuckDB SQL, so
    * the simhash gate query is hash-match oracled, not rows-only.
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col(idCol).as("doc_id"),
      expr(s"graft_simhash(graft_md5_tokens($textCol))").as("simhash"))
  }

  /** SimHash near-dup pairs: candidates share at least one of four 15-bit
    * bands (exact equi-join — one shuffle of (band, 2 longs)), verified by
    * Hamming distance <= maxHamming via bit_count(xor).
    *
    * For `maxHamming <= 3` recall is STRUCTURALLY total: at most 3
    * differing bits cannot touch all 4 bands (pigeonhole), so every
    * qualifying pair shares an intact band — the output equals the
    * brute-force all-pairs result by construction, independent of data.
    * Larger maxHamming keeps the same shape but recall becomes
    * probabilistic (banding may miss pairs whose differing bits spread
    * across every band).
    */
  def simhashNearDuplicates(docs: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sig = simhash(docs, idCol, textCol)
    // eager checkpoint for the same reason as nearDuplicates: the candidate
    // join is a self-join, and each side would otherwise re-hash the corpus
    val banded = sig.select(col("doc_id"), col("simhash"),
        posexplode(expr(
          "transform(sequence(0, 3), b -> shiftright(simhash, b * 15) & 32767)")))
      .toDF("doc_id", "simhash", "band", "bh")
      .localCheckpoint(true)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Near-duplicate pairs via MinHash + LSH banding, verified with exact
    * shingle-set Jaccard. Output: (doc_a, doc_b, jaccard), doc_a < doc_b.
    *
    * @param bands     number of LSH bands; rows per band = numHashes/bands.
    *                  Pairs agreeing on any full band become candidates.
    * @param threshold exact Jaccard cut applied to candidates.
    */
  def nearDuplicates(docs: DataFrame, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be a multiple of bands")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val rows = numHashes / bands
    // candidate generation uses the fused native path (text -> hashed
    // n-grams -> signature in two expression calls); the exact-Jaccard
    // verify stage below still uses the string shingle sets
    // eagerly materialize the banded signatures: the candidate join below
    // is a SELF-join, and without the checkpoint each side re-runs the
    // shingle+minhash sketch over the full corpus — the expensive stage —
    // twice. Banded rows are fixed-size (3 longs/band), tiny vs the text.
    val banded = docs
      .select(col(idCol).as("doc_id"),
        expr(s"graft_minhash(graft_ngrams($textCol, $n), $numHashes)").as("sig"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> xxhash64(slice(sig, b * $rows + 1, $rows)))")))
      .toDF("doc_id", "band", "bh")
      .localCheckpoint(true)
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .localCheckpoint(true)
    // string-shingle sets ONLY for candidate docs: the slice/concat lambda
    // chain interprets per shingle, so materializing it corpus-wide to
    // verify a handful of LSH candidates would dominate the whole job
    // (candidates << corpus by construction — that's the point of LSH)
    val candIds = cand.select(col("doc_a").as(idCol))
      .union(cand.select(col("doc_b").as(idCol))).distinct()
    // checkpoint: sh feeds BOTH verify joins (doc_a and doc_b side) — one
    // shingle pass over the candidates instead of two
    val sh = shingles(
      docs.join(broadcast(candIds), Seq(idCol), "left_semi"), n, idCol, textCol)
      .localCheckpoint(true)
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_union(col("sh_a"), col("sh_b"))))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Incremental (batch-vs-corpus) near-dup detection — the steady-state
    * ingest shape at 100 TB: each arriving batch is checked against the
    * existing corpus, never corpus-vs-corpus. Returns the verified
    * (doc_id, dup_of, jaccard) pairs where doc_id is a batch doc and
    * dup_of a corpus doc with exact shingle Jaccard >= threshold; an
    * anti-join of the batch against `select(doc_id)` of this output is
    * the survivor set.
    *
    * Scale design: the candidate join is batch-bands x corpus-bands —
    * work proportional to |batch|, not |corpus|². In production the
    * corpus band table is PRECOMPUTED once and appended per accepted
    * batch (it is exactly `banded` below, a (doc_id, band, bh) parquet
    * table); here it is derived inline so the operator is
    * self-contained. Exact-Jaccard verification touches only candidate
    * docs on either side (semi-joins), mirroring [[nearDuplicates]].
    * Recall: same banding family as [[nearDuplicates]] — total on the
    * gate corpora (pinned by OperatorsSpec) and ~(1-(1-j^r)^b) in
    * general.
    */
  def incrementalNearDuplicates(corpus: DataFrame, batch: DataFrame,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    incrementalNearDuplicatesPrebanded(corpus,
      bandTable(corpus, n, numHashes, bands, idCol, textCol),
      batch, n, numHashes, bands, threshold, idCol, textCol)

  /** The LSH band table (doc_id, band, bh) of a document set — the
    * persistent index a steady-state ingest maintains: computed once per
    * accepted batch, appended, and handed back to
    * [[incrementalNearDuplicatesPrebanded]] so the corpus is never
    * re-sketched. Fixed-size rows (3 longs), independent of text length.
    */
  def bandTable(docs: DataFrame, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be a multiple of bands")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val rows = numHashes / bands
    docs
      .select(col(idCol).as("doc_id"),
        expr(s"graft_minhash(graft_ngrams($textCol, $n), $numHashes)").as("sig"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> xxhash64(slice(sig, b * $rows + 1, $rows)))")))
      .toDF("doc_id", "band", "bh")
  }

  /** [[incrementalNearDuplicates]] with the corpus's band table supplied
    * instead of re-derived — the true 100 TB steady state: per batch, the
    * corpus contributes only its (pre-materialized) band index to the
    * candidate equi-join plus the text of the few candidate hits to the
    * verify stage; corpus text is never re-scanned wholesale.
    */
  def incrementalNearDuplicatesPrebanded(corpus: DataFrame,
      corpusBands: DataFrame, batch: DataFrame,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be a multiple of bands")
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // batch side checkpointed because it feeds the join probe AND the
    // verify; the corpus band table is the caller's (usually already on
    // disk or checkpointed)
    val cb = corpusBands
    val bb = bandTable(batch, n, numHashes, bands, idCol, textCol)
      .localCheckpoint(true)
    val cand = bb.as("b")
      .join(cb.as("c"),
        col("b.band") === col("c.band") && col("b.bh") === col("c.bh"))
      .select(col("b.doc_id").as("bid"), col("c.doc_id").as("cid"))
      .distinct()
      .localCheckpoint(true)
    def candShingles(docs: DataFrame, ids: DataFrame): DataFrame =
      shingles(docs.join(broadcast(ids), Seq(idCol), "left_semi"),
        n, idCol, textCol)
    val shB = candShingles(batch, cand.select(col("bid").as(idCol)).distinct())
    val shC = candShingles(corpus, cand.select(col("cid").as(idCol)).distinct())
    cand
      .join(shB.select(col("doc_id").as("bid"), col("shingles").as("sh_b")), "bid")
      .join(shC.select(col("doc_id").as("cid"), col("shingles").as("sh_c")), "cid")
      .withColumn("jaccard",
        size(array_intersect(col("sh_b"), col("sh_c"))) /
          size(array_union(col("sh_b"), col("sh_c"))))
      .where(col("jaccard") >= threshold)
      .select(col("bid").as("doc_id"), col("cid").as("dup_of"), col("jaccard"))
  }

  /** Connected components over a near-duplicate pair graph: every node is
    * labeled with the MINIMUM doc id reachable through duplicate relations
    * — its cluster representative — so "keep one doc per duplicate
    * cluster" is a single `where(doc_id = rep_id)` (or anti-join) away.
    * Pairwise dedup alone under-deletes: A~B and B~C leave both A and C
    * unless the transitive cluster is collapsed.
    *
    * Scale design: iterative min-label propagation (the standard
    * distributed CC — GraphX/Pregel shape, no driver-side graph). Each
    * round shuffles only (node, label) longs, converges in O(graph
    * diameter) rounds; dup clusters are near-cliques so diameter is tiny
    * even when the corpus is not. Each round is `localCheckpoint`ed:
    * without lineage truncation the self-referential plan doubles per
    * iteration and Catalyst re-optimizes the whole history every round.
    * The convergence check (`changed == 0`) costs one count per round;
    * at extreme scale swap it for a fixed ceil(log2(maxClusterSpan))
    * round budget.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIter: Int = 25): DataFrame = {
    val edges = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .union(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
      .distinct().localCheckpoint(true)
    var labels = edges.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u").as("node"), least(col("u"), col("mn")).as("lbl"))
      .localCheckpoint(true)
    // convergence probe: labels only ever DECREASE (min over self ∪
    // neighbors), so Σlbl is strictly monotone until the fixpoint — an
    // equal sum means converged. One tiny agg per round instead of a
    // join+count against the previous labels.
    // decimal(38) so huge id spaces can't overflow the probe (ANSI throws)
    def lblSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum = lblSum(labels)
    var converged = false
    var it = 0
    // maxIter + 1: the sum probe observes convergence one round LATE (a
    // graph that settles in exactly maxIter rounds needs one confirming
    // round), so allow it — only still-moving labels are an error
    while (!converged && it < maxIter + 1) {
      val prop = edges.join(labels, edges("v") === labels("node"))
        .select(edges("u").as("node"), col("lbl"))
      val next = labels.union(prop)
        .groupBy("node").agg(min("lbl").as("lbl"))
        .localCheckpoint(true)
      val nextSum = lblSum(next)
      converged = nextSum == prevSum
      prevSum = nextSum
      labels = next
      it += 1
    }
    // an under-merged result silently keeps duplicates — refuse it
    if (!converged) throw new IllegalStateException(
      s"connectedComponents: labels still changing after $maxIter propagation " +
        s"rounds (+1 confirming round) — raise maxIter for graphs of " +
        s"diameter > $maxIter")
    labels.select(col("node").as("doc_id"), col("lbl").as("rep_id"))
  }

  /** Fuzzy decontamination against an eval/benchmark set via winnowing
    * fingerprints — the near-match complement of exact n-gram
    * contamination checks: a training doc sharing >= `minShared`
    * fingerprints with any eval doc contains a verbatim run of at least
    * w+n−1 words from it (structural, per the winnowing guarantee),
    * even when the surrounding text was edited — exactly the leakage
    * mode exact n-gram containment misses. Boilerplate fingerprints
    * (corpus df > maxDf) are pruned on both engines; the eval side is
    * metadata-scale by premise and broadcasts.
    */
  def winnowContamination(docs: DataFrame, evalDocs: DataFrame,
      n: Int = 4, w: Int = 8, minShared: Int = 1, maxDf: Int = 20,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fps = winnowFingerprints(docs, n, w, idCol, textCol)
      .localCheckpoint(true) // feeds the df count + the probe join
    val rare = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("df"))
        .where(col("df") <= maxDf).select("fp"),
      Seq("fp"))
    val evalFps = winnowFingerprints(evalDocs, n, w, idCol, textCol)
      .select(col("fp"), col(idCol).as("eval_id"))
    rare.join(broadcast(evalFps), Seq("fp"))
      .where(col(idCol) =!= col("eval_id"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shared_fps"),
        countDistinct("eval_id").as("n_eval_docs"))
      .where(col("n_shared_fps") >= minShared)
  }

  /** [[winnowContamination]] + an EXACT verbatim-span verifier (r15):
    * winnowing recall is structural but its precision is
    * fingerprint-level — a shared rare fingerprint only proves one
    * shared n-gram that was a window minimum in both docs, not a
    * verbatim run. This lane confirms candidates by ALIGNED TOKEN-WINDOW
    * EQUALITY: an exact (w+n−1)-word window of the training doc equal to
    * a window of the eval doc (the run length the winnowing guarantee is
    * stated at). All string/integer — exactly oracle-able.
    *
    * Cost is CANDIDATE-BOUNDED, never all-pairs: windows are built only
    * for docs that already share a rare fingerprint (the candidate-pair
    * frame is list-scale and drives a semi-join), and the eval side is
    * metadata-scale by premise (broadcast both ways).
    *
    * Output: the winnow columns + `n_spans` (distinct verified verbatim
    * windows; 0 = fingerprint-level candidate that no exact span
    * confirms — the precision report a takedown pipeline wants).
    */
  def winnowContaminationVerified(docs: DataFrame, evalDocs: DataFrame,
      n: Int = 4, w: Int = 8, minShared: Int = 1, maxDf: Int = 20,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val L = w + n - 1
    val fps = winnowFingerprints(docs, n, w, idCol, textCol)
      .localCheckpoint(true)
    val rare = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("df"))
        .where(col("df") <= maxDf).select("fp"),
      Seq("fp"))
    val evalFps = winnowFingerprints(evalDocs, n, w, idCol, textCol)
      .select(col("fp"), col(idCol).as("eval_id"))
    val pairs = rare.join(broadcast(evalFps), Seq("fp"))
      .where(col(idCol) =!= col("eval_id"))
      .groupBy(idCol, "eval_id").agg(count(lit(1)).as("fps"))
      .localCheckpoint(true) // candidate pairs: drives flags AND verify
    def windows(df: DataFrame, outId: String): DataFrame =
      df.select(col(idCol).as(outId), split(col(textCol), " ").as("ws"))
        .where(size(col("ws")) >= L)
        .select(col(outId), explode(expr(
          s"""transform(sequence(0, size(ws) - $L),
             |  i -> concat_ws(' ', slice(ws, i + 1, $L)))""".stripMargin))
          .as("win"))
        .distinct()
    val trainW = windows(
      docs.join(broadcast(pairs.select(col(idCol)).distinct()), idCol),
      "t_doc")
    val evalW = windows(evalDocs, "eval_id")
    val spans = trainW.join(broadcast(evalW), Seq("win"))
      .where(col("t_doc") =!= col("eval_id"))
      .join(pairs.select(col(idCol).as("t_doc"), col("eval_id")),
        Seq("t_doc", "eval_id"), "left_semi")
      .groupBy(col("t_doc").as(idCol))
      .agg(countDistinct("win").as("n_spans"))
    pairs.groupBy(idCol)
      .agg(sum("fps").as("n_shared_fps"),
        countDistinct("eval_id").as("n_eval_docs"))
      .where(col("n_shared_fps") >= minShared)
      .join(spans, Seq(idCol), "left")
      .withColumn("n_spans", coalesce(col("n_spans"), lit(0L)))
  }

  /** Fold a batch of NEW edges into an existing component labeling —
    * the incremental maintenance lane for a standing dedup-cluster map
    * (a 100 TB corpus re-clusters per ingest batch, never from
    * scratch). The trick is LABEL-SPACE collapse: each new edge's
    * endpoints map to their current representative (new nodes map to
    * themselves), and full min-label propagation runs only on that
    * collapsed graph — bounded by touched components + batch nodes, not
    * the corpus. The result is EXACTLY the from-scratch labeling:
    * every rep is the min id of its sub-component, so the min over
    * merged reps is the global component min.
    */
  def connectedComponentsIncremental(prev: DataFrame, newPairs: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val prevCk = prev.select(col("doc_id"), col("rep_id"))
      .localCheckpoint(true) // feeds both endpoint maps + the final remap
    val ends = newPairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .localCheckpoint(true) // feeds the collapse + the new-node scan
    val collapsed = ends
      .join(prevCk.select(col("doc_id").as("u"), col("rep_id").as("ru")),
        Seq("u"), "left")
      .join(prevCk.select(col("doc_id").as("v"), col("rep_id").as("rv")),
        Seq("v"), "left")
      .select(coalesce(col("ru"), col("u")).as("doc_a"),
        coalesce(col("rv"), col("v")).as("doc_b"))
      .where(col("doc_a") =!= col("doc_b"))
    // full propagation, but on the batch-sized collapsed graph
    val remap = connectedComponents(collapsed)
      .select(col("doc_id").as("rep_id"), col("rep_id").as("new_rep"))
      .localCheckpoint(true)
    val updatedPrev = prevCk.join(remap, Seq("rep_id"), "left")
      .select(col("doc_id"),
        coalesce(col("new_rep"), col("rep_id")).as("rep_id"))
    val newNodes = ends.select(col("u").as("doc_id"))
      .union(ends.select(col("v").as("doc_id"))).distinct()
      .join(prevCk.select("doc_id"), Seq("doc_id"), "left_anti")
    val newLabeled = newNodes
      .join(remap.withColumnRenamed("rep_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        // isolated-in-collapse new nodes (edge collapsed to a self-loop,
        // e.g. both endpoints already shared a component) keep their id
        coalesce(col("new_rep"), col("doc_id")).as("rep_id"))
    updatedPrev.unionByName(newLabeled)
  }

  /** Exact repeated-span detection (the stride-1 "substring dedup" family:
    * dedup by exact duplicated token windows, à la suffix-array corpus
    * dedup): for every STRIDE-1 window of `k` consecutive tokens, count
    * corpus-wide occurrences of its exact text, and report per document
    * how many of its windows are duplicated (occur anywhere else — in
    * another doc or elsewhere in the same doc). Contrast with
    * [[Pipeline.dedupParagraphs]]: that sees only aligned non-overlapping
    * windows, so a duplicated passage shifted by one token is invisible to
    * it but caught here.
    *
    * Scale design: spans never shuffle as text — each window is reduced in
    * the scan projection to a fixed-width content hash, so the occurrence
    * count is a groupBy over small keys, partial-aggregated map-side (a
    * viral passage collapses to one row per map task before the shuffle).
    * The hash frame feeds both sides of the count/probe self-join, so it
    * is localCheckpointed (the self-join re-run trap); the join back on
    * the hash key AQE-skew-splits. O(total_tokens) fixed-width shuffle
    * rows — the same currency as the banded sketches.
    *
    * Hash width: the DEFAULT lane keys on 120 bits of md5 (two 60-bit
    * BIGINTs — birthday collisions become likely only around ~2⁶⁰ corpus
    * spans, far beyond 100 TB of text). `oracleHash=true` keys on the
    * first 60 bits alone — the cross-engine-reproducible form the DuckDB
    * gate recomputes in SQL — which silently inflates `n_dup_spans` past
    * ~2³⁰ corpus spans (only a few GB of text), so it exists for the
    * oracle only; OperatorsSpec pins both lanes identical on the gate
    * corpus.
    */
  def duplicateSpans(docs: DataFrame, k: Int, idCol: String = "doc_id",
      textCol: String = "text", oracleHash: Boolean = false): DataFrame = {
    require(k > 0, "span width k must be positive")
    // full md5 hex per window in the scan projection; the key columns
    // project to BIGINTs before anything shuffles
    val hexSpans = docs
      .select(col(idCol), split(col(textCol), " ").as("w"))
      .where(size(col("w")) >= k)
      .select(col(idCol), explode(expr(
        s"""transform(sequence(0, size(w) - $k),
           |  i -> md5(cast(array_join(slice(w, i + 1, $k), ' ')
           |         as binary)))""".stripMargin)).as("hx"))
    val h1 = expr("cast(conv(substring(hx, 1, 15), 16, 10) as long)").as("h")
    val keyCols = if (oracleHash) Seq("h") else Seq("h", "h2")
    val spans = (if (oracleHash) hexSpans.select(col(idCol), h1)
                 else hexSpans.select(col(idCol), h1,
                   expr("cast(conv(substring(hx, 16, 15), 16, 10) as long)")
                     .as("h2")))
      .localCheckpoint(true)
    val counts = spans.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    val perDoc = spans.join(counts, keyCols)
      .groupBy(idCol).agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
    // short docs (< k tokens) have zero windows but must not vanish —
    // downstream per-doc joins key on this frame being total
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
  }

  /** Normalization-keyed exact dedup — the "fuzzy-exact" lane every web
    * pipeline runs before near-dup (C4/Gopher style): lowercase, strip
    * non-[a-z0-9 space], collapse runs of spaces, trim, then group on the
    * md5 of the normalized text. Catches case/punctuation/whitespace
    * variants that byte-exact dedup misses at zero candidate-generation
    * cost. Same scale shape as [[exact]]: only (16-byte hash, id) pairs
    * shuffle — the normalization runs in the scan projection and the
    * normalized text itself never leaves the map side; map-side partial
    * agg absorbs viral duplicates. Both regexes stay inside the common
    * RE2 ⊆ Java-regex subset so DuckDB reproduces the key byte-for-byte.
    * Output: (h, dup_count, keep_id) per normalized-distinct text.
    */
  def normalized(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", ""), " +", " "))
    docs.groupBy(md5(norm.cast("binary")).as("h"))
      .agg(count(lit(1)).as("dup_count"), min(col(idCol)).as("keep_id"))
  }

  /** EXACT set-similarity join with prefix filtering (the PPJoin family):
    * every pair of documents whose distinct word-n-gram sets have Jaccard
    * >= tNum/tDen, with NO probabilistic candidate stage. Where
    * [[nearDuplicates]] trades recall for speed via MinHash banding, this
    * lane's recall is STRUCTURAL: order each document's shingles by a
    * global total order (document frequency asc, then shingle — rarest
    * first), keep only the first n − ceil(t·n) + 1 as the document's
    * prefix, and the prefix-filter theorem guarantees any pair with
    * Jaccard >= t shares at least one PREFIX shingle (if two sets
    * disagree on all of each other's prefixes, their overlap is bounded
    * below t by construction). Candidates = equi-join on prefix shingles;
    * verification counts the exact intersection. The threshold is a
    * RATIONAL tNum/tDen so both the prefix length (ceil(t·n) =
    * (tNum·n + tDen − 1) div tDen) and the verify test
    * ((tDen + tNum)·|A∩B| >= tNum·(|A|+|B|)) stay in exact integer
    * arithmetic — bit-identical on any engine, no float Jaccard cut.
    *
    * Scale shape: one corpus scan explodes shingles; the shuffles key on
    * (shingle) for document frequency and on (prefix shingle) for the
    * candidate join — rare-first prefixes mean high-df shingles almost
    * never enter the join, which is what bounds candidate fan-out (the
    * measured gate corpus: ~1% of all-pairs at sf0.1). The exploded
    * shingle table and the prefix table are localCheckpoint'd: both feed
    * SELF-joins, which would otherwise re-run the upstream scan + window
    * once per side. Per-doc prefix ranking is a per-document window, not
    * a global sort.
    *
    * Output: (doc_a, doc_b, n_a, n_b, inter, jacc_ppm) with doc_a < doc_b,
    * jacc_ppm = (10⁶·|A∩B|) div (|A|+|B|−|A∩B|).
    */
  def setSimilarityJoin(docs: DataFrame, n: Int = 3, tNum: Int = 4,
      tDen: Int = 5, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(tNum > 0 && tNum <= tDen, "threshold must be in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    // distinct shingles HASHED to longs, one row per (doc, hash): every
    // downstream shuffle/join/window keys on 8 bytes instead of a
    // ~20-byte string. The prefix theorem only needs SOME consistent
    // global total order, so (df, hash) works as well as (df, string);
    // the verified output is candidate-scheme-invariant, and the
    // intersection counts equal the string counts because xxhash64 is
    // collision-free on every gate corpus — pinned per SF by the
    // OperatorsSpec distinct-count check (a collision would also break
    // the equality-vs-exact cross-check itself).
    val tok = shingles(docs, n, idCol, textCol)
      .select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("tok"))
      .localCheckpoint(true)
    val nsz = tok.groupBy("doc_id").agg(count(lit(1)).cast("long").as("n"))
    val dfreq = tok.groupBy("tok").agg(count(lit(1)).as("df"))
    // rank within each doc by the GLOBAL (df, hash) total order — a
    // per-doc window realizes the global ordering without a global sort
    val pre = tok.join(dfreq, "tok")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "tok")))
      .join(nsz, "doc_id")
      .where(col("rk") <= col("n") -
        expr(s"($tNum * n + ${tDen - 1}) div $tDen") + 1)
      .select("doc_id", "tok")
      .localCheckpoint(true) // self-joined below
    val cand = pre.as("a").join(pre.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .join(broadcast(nsz.select(col("doc_id"), col("n").as("n_a"))),
        col("doc_a") === col("doc_id")).drop("doc_id")
      .join(broadcast(nsz.select(col("doc_id"), col("n").as("n_b"))),
        col("doc_b") === col("doc_id")).drop("doc_id")
      // PPJoin LENGTH filter, applied BEFORE the intersection join:
      // J(A,B) <= min/max, so J >= t forces tDen·min >= tNum·max — a
      // sound prune (output invariant; the oracle skips it) that cut
      // the gate corpus's sf0.1 candidates 119k -> 44k measured
      .where(expr(s"$tDen * least(n_a, n_b) >= $tNum * greatest(n_a, n_b)"))
    val inter = cand
      .join(tok.as("ta"), col("doc_a") === col("ta.doc_id"))
      .join(tok.as("tb"),
        col("doc_b") === col("tb.doc_id") && col("ta.tok") === col("tb.tok"))
      .groupBy("doc_a", "doc_b", "n_a", "n_b")
      .agg(count(lit(1)).cast("long").as("inter"))
    inter
      .where(expr(s"(${tDen + tNum}) * inter >= $tNum * (n_a + n_b)"))
      .withColumn("jacc_ppm",
        expr("(1000000 * inter) div (n_a + n_b - inter)"))
      .select("doc_a", "doc_b", "n_a", "n_b", "inter", "jacc_ppm")
  }

  /** MOSS-style winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003):
    * hash every word `n`-gram (positional, 60-bit md5 lane so the oracle
    * recomputes it in SQL), slide a window of `w` consecutive gram hashes
    * and keep each window's MINIMUM as a fingerprint; distinct
    * fingerprints per doc. The winnowing guarantee: any shared run of at
    * least `w + n - 1` words between two docs yields at least one SHARED
    * fingerprint — detection of long verbatim overlaps is structural, not
    * probabilistic, at a fingerprint density of ~2/(w+1) per token.
    *
    * Scale shape: the gram hashes never leave the scan projection
    * (`graft_md5_ngrams` is one native call per row); the only shuffle is
    * the per-doc window partition (O(tokens) fixed-width rows), and the
    * sliding frame is BOUNDED (`ROWS BETWEEN CURRENT ROW AND w-1
    * FOLLOWING`, O(n·w) per doc) — never a shrinking to-unbounded frame.
    * Only FULL windows fingerprint (`pos <= n_grams - w`), so short docs
    * contribute nothing and both engines agree without a tail rule.
    */
  def winnowFingerprints(docs: DataFrame, n: Int = 4, w: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1 && w >= 1, "winnowing needs n >= 1 and w >= 1")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val grams = docs.select(col(idCol),
      (expr(s"graft_ntokens($textCol)") - (n - 1)).as("ng"),
      posexplode(expr(s"graft_md5_ngrams($textCol, $n)")).as(Seq("pos", "hv")))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos").rowsBetween(0, w - 1)
    grams
      .withColumn("fp", min("hv").over(win))
      .where(col("pos") <= col("ng") - w)
      .select(col(idCol), col("fp")).distinct()
  }

  /** Content-defined chunking (the rsync/borg boundary trick at word
    * level): a new chunk starts BEFORE word p when the g-gram ENDING at
    * word p−1 hashes ≡ 0 (mod `mask`) — so chunk boundaries re-align
    * after insertions/deletions (expected chunk length ≈ `mask` words),
    * which is what fixed-width spans can't do. Chunks are hashed on the
    * 60-bit md5 lane and shared chunks counted across docs: the
    * shared-content detector for shifted/edited near-copies.
    *
    * Scale shape (r16): boundary flags derive from the SAME positional
    * `graft_md5_ngrams` array the winnowing lane uses, but chunks are
    * now assembled ENTIRELY array-side — boundary positions filter out
    * of one per-word transform, each chunk is a slice between adjacent
    * boundaries, and only the (hash, n_words) CHUNK rows (≈ 1/mask of
    * the words) ever explode. The previous shape posexploded EVERY word
    * into a row, shuffled the word stream into a per-doc running-sum
    * window and re-assembled chunks with array_sort(collect_list(...))
    * — a words-scale shuffle + sort + per-group buffer, all removed
    * (6.9 → ~1.5 CPU s at sf0.1; plan loses its Window + one Exchange).
    * Output is verbatim-identical: slice order IS pos order.
    */
  def cdcSharedChunks(docs: DataFrame, g: Int = 4, mask: Int = 16,
      minDocs: Int = 2, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(g >= 1 && mask >= 1, "cdc needs g >= 1 and mask >= 1")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val base = docs.select(col(idCol), split(col(textCol), " ").as("ws"),
      expr(s"graft_md5_ngrams($textCol, $g)").as("gh"))
    // 0-based boundary positions: a chunk starts AT word i when the
    // g-gram ending at word i−1 hashes ≡ 0 (mod mask); bounds are
    // bracketed by 0 and size(ws) so adjacent pairs span every chunk
    val bounded = base.select(col(idCol), col("ws"), expr(
      s"""concat(array(0),
         |  filter(transform(ws, (x, i) ->
         |    CASE WHEN i >= $g AND pmod(element_at(gh, i - $g + 1), $mask) = 0
         |    THEN i ELSE -1 END), p -> p > 0),
         |  array(size(ws)))""".stripMargin).as("bnds"))
    val chunks = bounded.select(col(idCol), explode(expr(
      """transform(sequence(0, size(bnds) - 2), k -> named_struct(
        |  'h', cast(conv(substring(md5(cast(array_join(
        |    slice(ws, element_at(bnds, k + 1) + 1,
        |      element_at(bnds, k + 2) - element_at(bnds, k + 1)), ' ')
        |    as binary)), 1, 15), 16, 10) as long),
        |  'n_words', cast(element_at(bnds, k + 2) - element_at(bnds, k + 1)
        |    as bigint)))""".stripMargin)).as("c"))
      .select(col(idCol), col("c.h").as("h"), col("c.n_words").as("n_words"))
    chunks.groupBy("h")
      .agg(countDistinct(idCol).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min("n_words").as("n_words"))
      .where(col("n_docs") >= minDocs)
  }

  /** Doc pairs sharing >= `minShared` winnowing fingerprints — the
    * verbatim-overlap (plagiarism / quote / mirrored-page) detector that
    * complements set-based MinHash: it keys on CONTIGUOUS runs, so two
    * docs that share one long paragraph inside otherwise-different text
    * light up here while their global Jaccard stays far below any LSH
    * threshold. Fingerprints with document frequency > `maxDf` (boilerplate
    * phrases) are dropped BEFORE the pair join on both engines — the
    * standard winnowing index prune that keeps the equi-join's per-key
    * fan-out bounded at scale. The fingerprint table is localCheckpointed:
    * it feeds both the df count and the two self-join sides.
    */
  def winnowPairs(docs: DataFrame, n: Int = 4, w: Int = 8,
      minShared: Int = 2, maxDf: Int = 20, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val fps = winnowFingerprints(docs, n, w, idCol, textCol)
      .localCheckpoint(true)
    val rare = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("df"))
        .where(col("df") <= maxDf).select("fp"),
      Seq("fp"))
    rare.select(col("fp"), col(idCol).as("doc_a"))
      .join(rare.select(col("fp"), col(idCol).as("doc_b")), Seq("fp"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= minShared)
  }
}
