package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.obs.Meter

/** Keyword + hybrid retrieval over the document corpus — the lexical
  * complement to [[Similarity]]'s ANN lanes, used in training-data
  * curation for hard-negative mining and retrieval-augmented filtering.
  *
  * Scale design: BM25 never builds a doc×query cartesian — the only
  * joins are (a) query tokens × the inverted token stream (an equi-join
  * on token; candidates = docs sharing at least one query term) and
  * (b) metadata-scale broadcasts (query set, df table, corpus stats).
  * Hybrid RRF fuses two top-k lists (k rows per query each) — list-scale
  * data, one full-outer join on (qid, doc).
  */
object Retrieval {

  /** BM25 (Robertson/Lucene form) top-k: for each query row (qid, qtext),
    * the k best corpus docs by
    * `sum_t idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))`
    * with `idf = ln((N - df + 0.5) / (df + 0.5) + 1)`. Scoring touches
    * only docs sharing a term with the query (equi-join on token against
    * the inverted stream). Ranking uses the score ROUNDED to 6 decimals
    * with doc_id tie-break so last-ulp libm/sum-order differences across
    * engines cannot flip ranks (the raw sum is fp-only reproducible,
    * ~1e-15). Output: (qid, doc_id, score, rnk), score rounded.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("tok"))
      .where(col("tok") =!= "")
      .localCheckpoint(true) // feeds tf, dl AND df off one explode
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val df = toks.groupBy("tok").agg(countDistinct("doc_id").as("df"))
    val n = docs.count()
    // avgdl as the same double division on both engines: sum(dl) / N
    val avgdl = dl.agg(sum("dl")).head().getLong(0).toDouble / n
    val qtoks = queries.select(col("qid"),
        explode(array_distinct(split(col("qtext"), " "))).as("tok"))
      .where(col("tok") =!= "")
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    qtoks.join(tf, "tok") // inverted-index probe: only shared-term docs
      .join(broadcast(df), "tok")
      .join(broadcast(dl), "doc_id")
      .withColumn("term",
        log((lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy("qid", "doc_id")
      .agg(round(sum("term"), 6).as("score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
  }

  /** BM25F (the simple weighted-field variant, Robertson/Zaragoza): the
    * multi-field document shape real retrieval corpora have — a title
    * hit should outweigh a body hit. Term frequency and document length
    * both aggregate across fields under INTEGER field weights
    * (`wtf = Σ_f w_f·tf_f`, `wdl = Σ_f w_f·len_f` — exact BIGINTs, so
    * the only doubles are the same idf/saturation terms [[bm25TopK]]
    * already reproduces cross-engine), idf counts docs containing the
    * term in ANY field, and scoring/rank/tie rules are bm25TopK's
    * verbatim (round-6 + doc_id). Same scale shape too: the melted
    * (doc, tok, field-weight) stream is one union of per-field explodes
    * feeding wtf, wdl AND df off one checkpoint; candidates are an
    * equi-join on token, never a doc×query cartesian.
    */
  def bm25fTopK(docs: DataFrame, queries: DataFrame, k: Int,
      fields: Seq[(String, Long)], k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id"): DataFrame = {
    require(fields.nonEmpty, "bm25f needs at least one field")
    val tokw = fields.map { case (c, wgt) =>
        docs.select(col(idCol).as("doc_id"),
          explode(split(col(c), " ")).as("tok"), lit(wgt).as("fw"))
      }.reduce(_ unionByName _)
      .where(col("tok") =!= "")
      .localCheckpoint(true) // feeds wtf, wdl AND df off one melt
    val wtf = tokw.groupBy("doc_id", "tok").agg(sum("fw").as("wtf"))
    val wdl = tokw.groupBy("doc_id").agg(sum("fw").as("wdl"))
    val df = tokw.groupBy("tok").agg(countDistinct("doc_id").as("df"))
    val n = docs.count()
    val avgwdl = wdl.agg(sum("wdl")).head().getLong(0).toDouble / n
    val qtoks = queries.select(col("qid"),
        explode(array_distinct(split(col("qtext"), " "))).as("tok"))
      .where(col("tok") =!= "")
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    qtoks.join(wtf, "tok")
      .join(broadcast(df), "tok")
      .join(wdl, "doc_id")
      .withColumn("term",
        log((lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("wtf") * lit(k1 + 1)) /
          (col("wtf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("wdl") / lit(avgwdl))))
      .groupBy("qid", "doc_id")
      .agg(round(sum("term"), 6).as("score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
  }

  /** Dirichlet-smoothed query-likelihood top-k (Zhai/Lafferty) — the
    * language-modeling scoring family next to [[bm25TopK]], in the
    * rank-equivalent matched-terms form every inverted index serves:
    * `score = Σ_{t∈q∩d} qtf_t · ln(1 + tf_td·|C| / (μ·cf_t))
    *          + qlen · ln(μ / (dl_d + μ))`
    * with cf_t the collection term frequency and |C| total collection
    * tokens. Query term frequency (qtf, WITH multiplicity — unlike
    * BM25's distinct-token explode) weights repeated query terms.
    * Same scale shape as BM25: candidates are an equi-join on token,
    * stats are metadata-scale broadcasts; same rank key discipline
    * (round-6 score, doc_id tie).
    */
  def lmDirichletTopK(docs: DataFrame, queries: DataFrame, k: Int,
      mu: Double = 2000.0,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("tok"))
      .where(col("tok") =!= "")
      .localCheckpoint(true) // feeds tf, dl AND cf off one explode
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val cf = toks.groupBy("tok").agg(count(lit(1)).as("cf"))
    val totalC = dl.agg(coalesce(sum("dl"), lit(0L))).head().getLong(0)
    val q1 = queries.select(col("qid"),
        explode(split(col("qtext"), " ")).as("tok"))
      .where(col("tok") =!= "")
      .localCheckpoint(true) // qtf AND qlen off one explode
    val qt = q1.groupBy("qid", "tok").agg(count(lit(1)).as("qtf"))
    val ql = q1.groupBy("qid").agg(count(lit(1)).as("qlen"))
    lmScore(qt, ql, tf, dl, cf, totalC, k, mu)
  }

  /** Shared LM scoring tail: matched-terms sum + per-doc length norm,
    * round-6 rank key. Expression parenthesization is pinned — the
    * oracle recomputes it verbatim.
    */
  private def lmScore(qt: DataFrame, ql: DataFrame, tf: DataFrame,
      dl: DataFrame, cf: DataFrame, totalC: Long, k: Int,
      mu: Double): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    qt.join(tf, "tok") // inverted probe: only shared-term docs
      .join(broadcast(cf), "tok")
      .withColumn("term",
        col("qtf") * log(lit(1.0) +
          (col("tf").cast("double") * lit(totalC)) /
            (lit(mu) * col("cf"))))
      .groupBy("qid", "doc_id")
      .agg(sum("term").as("s"))
      .join(dl, "doc_id")
      .join(broadcast(ql), "qid")
      .withColumn("score",
        round(col("s") + col("qlen") * log(lit(mu) / (col("dl") + lit(mu))), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select("qid", "doc_id", "score", "rnk")
  }

  /** [[lmDirichletTopK]] against a [[buildIndex]] index — identical
    * scores, I/O pruned to the query tokens' buckets: tf and dl ride in
    * the posting rows, cf_t is exact from the token's home bucket (a
    * token's postings live wholly there), and |C| = the stats sidecar's
    * sum_dl — the serving path reads nothing corpus-sized.
    */
  def lmDirichletTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      root: String, queries: DataFrame, k: Int, mu: Double = 2000.0,
      nBuckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.types._
    healIndex(spark, root)
    val q1 = queries.select(col("qid"),
        explode(split(col("qtext"), " ")).as("tok"))
      .where(col("tok") =!= "")
      .localCheckpoint(true) // buckets + qtf + qlen off one explode
    val qt = q1.groupBy("qid", "tok").agg(count(lit(1)).as("qtf"))
    val ql = q1.groupBy("qid").agg(count(lit(1)).as("qlen"))
    val buckets = q1
      .select(pmod(xxhash64(col("tok")), lit(nBuckets.toLong)).as("b"))
      .distinct().collect().map(_.getLong(0)).sorted
    val postSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("tok", StringType), StructField("tf", LongType),
      StructField("dl", LongType)))
    val bfs = retrievalFs(spark, root)
    val dirs = buckets.map(v => s"$root/postings/bucket=$v")
      .filter(d => bfs.exists(new org.apache.hadoop.fs.Path(d)))
    val postings =
      if (dirs.isEmpty)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), postSchema)
      else spark.read.schema(postSchema).parquet(dirs.toSeq: _*)
    val postingsCk = postings.localCheckpoint(true) // cf AND probe join
    val cf = postingsCk.groupBy("tok").agg(coalesce(sum("tf"), lit(0L)).as("cf"))
    val totalC = readStats(bfs, root).map(_._3).getOrElse(0L)
    // MoR tombstones mask candidates; cf/|C| stay physical until fold
    val tf = maskDocTombstones(spark, root,
      postingsCk.select("doc_id", "tok", "tf"))
    lmScore(qt, ql, tf,
      postingsCk.select("doc_id", "dl").distinct(), cf, totalC, k, mu)
  }

  /** Materialized inverted index (the production form of [[bm25TopK]]'s
    * ad-hoc inverted stream): postings (tok, doc_id, tf, dl) live under
    * `root/postings/bucket=B` with B = pmod(xxhash64(tok), nBuckets), and
    * per-doc lengths under `root/doclens/bucket=B` with B =
    * pmod(xxhash64(doc_id), nBuckets). A token's postings live
    * WHOLLY in its bucket, so a search reads only its query tokens'
    * bucket directories — partition-pruned I/O ∝ matched vocabulary, not
    * corpus — document frequencies are recomputed exactly from those
    * pruned buckets (no separate df table to keep in sync), per-doc
    * lengths ride denormalized in the posting rows (8 bytes/posting buys
    * the doclens join OFF the serving path entirely), and the global
    * (N, avgdl) come from the stats sidecar marker. The doclens table is
    * mutation-path bookkeeping (stats recounts, delete deltas, rebuild
    * source) — corpus-sized, which is exactly why it is bucketed like
    * the postings: builds/appends write it through a distributed
    * repartition-by-bucket (one file per bucket per append, never a
    * single-task coalesce funnel), and a delete COW-rewrites ONLY the
    * buckets holding a deleted doc. Both tables are append-only:
    * [[appendToIndex]] adds a NEW batch of docs as new files in the same
    * buckets, making incremental index maintenance a pure append (the
    * caller owns doc-id dedup, as everywhere in the engine).
    */
  def buildIndex(docs: DataFrame, root: String, nBuckets: Int = 64,
      idCol: String = "doc_id", textCol: String = "text",
      positional: Boolean = false): Unit =
    writeIndex(docs, root, nBuckets, idCol, textCol, overwrite = true,
      positional = positional)

  /** Appends inherit the build's shape: the positions tree is extended
    * iff the index was built positional. */
  def appendToIndex(docs: DataFrame, root: String, nBuckets: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    writeIndex(docs, root, nBuckets, idCol, textCol, overwrite = false,
      positional = false)

  private def writeIndex(docs: DataFrame, root: String, nBuckets: Int,
      idCol: String, textCol: String, overwrite: Boolean,
      positional: Boolean): Unit = {
    val mode = if (overwrite) "overwrite" else "append"
    val spark = docs.sparkSession
    // heal FIRST (the deleteFromIndex discipline): an append landing on
    // an index holding a crashed delete's state (pending marker + staged
    // gen+1 stats marker) would otherwise delta-maintain on the staged
    // marker and publishStats would retire BOTH markers — when heal later
    // replayed the pending delete it would see one marker and subtract
    // the removed totals a second time, leaving (N, avgdl) permanently
    // wrong. Healing completes the delete before this write plans.
    healIndex(spark, root)
    val fs = retrievalFs(spark, root)
    // appends extend the positions tree iff the build created it
    val writePos = positional ||
      (!overwrite &&
        fs.exists(new org.apache.hadoop.fs.Path(s"$root/positions")))
    val gen = graft.operators.IndexGen.begin(fs, root)
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("tok"))
      .where(col("tok") =!= "")
      .localCheckpoint(true) // feeds postings AND doclens off one explode
    // an append's write IS its publish — CAS before files land so a
    // racing delete/compact swap can't receive them into a retired dir
    // (same IndexGen discipline as the IVF lanes; loser raises with
    // nothing written)
    val lease = graft.operators.IndexGen.advance(fs, root, gen)
    // a non-positional overwrite must not leave a prior positional
    // build's positions tree behind: phraseTopKIndexed would serve stale
    // positions for docs that no longer exist in the rebuilt index. This
    // is a destructive touch of published state, so it runs AFTER the CAS
    // under our lease (r15 — pre-begin it violated loser-touches-nothing:
    // a CAS loser or lease-blocked writer had already destroyed the live
    // positions tree, silently emptying phrase search until a rebuild),
    // TTL-fenced like every publish-side action.
    if (overwrite && !positional) {
      graft.operators.IndexGen.checkLease(fs, root, lease)
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/positions"), true)
    }
    // the legacy-index case: appending to an index that predates the
    // stats sidecar — delta-maintenance has no base, so recount after
    val mustRecount = !overwrite && readStats(fs, root).isEmpty &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$root/doclens"))
    // durable append intent BEFORE data lands (data-first would leave
    // the sidecar silently stale on a crash between the doclens write
    // and the marker rotation): heal sees the intent and recounts
    val pending = new org.apache.hadoop.fs.Path(root,
      AppendPending + java.util.UUID.randomUUID().toString)
    fs.create(pending, true).close()
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      .localCheckpoint(true) // feeds the postings join AND the doclens write
    // doclens lands FIRST: it is the delete path's WITNESS table, and
    // writing it before the postings keeps "postings docs ⊆ doclens
    // docs" an invariant across crashes — that is what makes the
    // no-op-delete shortcut in runPendingDelete (skip the corpus-sized
    // postings scan when the doclens witness is empty) safe even for a
    // re-delivered half-crashed append.
    // Piggyback the batch's (n_docs, sum_dl) on the write job itself
    // (Observation = zero extra jobs, the appendMultiple discipline).
    val obs = org.apache.spark.sql.Observation()
    dl.withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(nBuckets.toLong)))
      .repartition(col("bucket"))
      .observe(obs, count(lit(1)).as("dn"),
        coalesce(sum("dl"), lit(0L)).as("dsdl"))
      .write.mode(mode).partitionBy("bucket").parquet(s"$root/doclens")
    // dl DENORMALIZED into every posting row: a search then reads ONLY
    // its query tokens' postings buckets — the corpus-sized doclens
    // table is mutation-path bookkeeping, never serving-path I/O
    toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .join(dl, "doc_id")
      .withColumn("bucket", pmod(xxhash64(col("tok")), lit(nBuckets.toLong)))
      .repartition(col("bucket"))
      .write.mode(mode).partitionBy("bucket").parquet(s"$root/postings")
    // witness the dl-bearing layout so heal never footer-probes this root
    fs.create(new org.apache.hadoop.fs.Path(root, DlV2Marker), true).close()
    // a missing Observation key means AQE pruned the empty subtree ⇒ 0
    val got = obs.get
    val dn = got.get("dn").map(_.asInstanceOf[Long]).getOrElse(0L)
    val dsdl = got.get("dsdl").map(_.asInstanceOf[Long]).getOrElse(0L)
    if (writePos)
      // the PHRASE lane's sidecar: 1-based token positions per (doc, tok),
      // bucketed by token like the postings so a phrase search reads only
      // its tokens' buckets. Opt-in — most corpora don't pay for it.
      docs.select(col(idCol).as("doc_id"),
          posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
        .where(col("tok") =!= "")
        .groupBy("doc_id", "tok")
        .agg(sort_array(collect_list(col("pos") + 1)).as("positions"))
        .withColumn("bucket", pmod(xxhash64(col("tok")), lit(nBuckets.toLong)))
        .repartition(col("bucket"))
        .write.mode(mode).partitionBy("bucket").parquet(s"$root/positions")
    // TTL fence before the marker rotation: a writer stalled past the
    // lease TTL through the write jobs must not rotate the sidecar over
    // a successor's state (its data files are append-only and the
    // successor's heal recounts from the durable append intent)
    graft.operators.IndexGen.checkLease(fs, root, lease)
    if (mustRecount) recountStats(spark, fs, root)
    else {
      val (n0, sdl0) =
        if (overwrite) (0L, 0L)
        else readStats(fs, root).map(s => (s._2, s._3)).getOrElse((0L, 0L))
      publishStats(fs, root, n0 + dn, sdl0 + dsdl)
    }
    fs.delete(pending, false)
    graft.operators.IndexGen.release(fs, root, lease)
  }

  /** Corpus statistics sidecar: ONE zero-byte marker file
    * `_bm25_stats_<gen>_<n_docs>_<sum_dl>` at the index root — the two
    * numbers every BM25 search needs (N, avgdl = sum_dl/N) read from a
    * FILENAME instead of a corpus-sized doclens aggregation per call
    * (at 10¹⁰ docs that scan was ~160 GB of serving-path I/O for two
    * numbers). Maintained delta-wise: build/append add the batch's
    * Observation totals; a delete stages gen+1 with the removed rows'
    * totals subtracted BEFORE any bucket swap (two markers coexisting =
    * a delete in flight; replays reuse the newest because already-
    * swapped buckets no longer match the pending ids and a recount
    * would under-subtract); crashed appends leave a durable
    * `_bm25_append_pending_*` intent that heal resolves with one full
    * recount. Highest gen wins everywhere.
    */
  private val StatsPrefix = "_bm25_stats_"
  private val AppendPending = "_bm25_append_pending_"

  /** All (gen, n_docs, sum_dl) markers under root, ascending by gen. */
  private def parseStats(
      names: Seq[String]): Seq[(Long, Long, Long)] =
    names.filter(_.startsWith(StatsPrefix))
      .flatMap { n =>
        n.stripPrefix(StatsPrefix).split('_') match {
          case Array(g, nd, sdl) =>
            try Some((g.toLong, nd.toLong, sdl.toLong))
            catch { case _: NumberFormatException => None }
          case _ => None
        }
      }.sortBy(_._1)

  private def rootNames(fs: org.apache.hadoop.fs.FileSystem,
      root: String): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName).toSeq
  }

  /** Newest stats marker, if any. */
  private def readStats(fs: org.apache.hadoop.fs.FileSystem,
      root: String): Option[(Long, Long, Long)] =
    parseStats(rootNames(fs, root)).lastOption

  /** Rotate the sidecar: create gen+1 with the given totals, retire
    * every older marker. Crash between create and retire leaves two
    * markers with no delete pending — heal keeps the max.
    */
  private def publishStats(fs: org.apache.hadoop.fs.FileSystem,
      root: String, n: Long, sdl: Long): Unit = {
    val all = parseStats(rootNames(fs, root))
    val g = all.lastOption.map(_._1).getOrElse(0L) + 1
    fs.create(new org.apache.hadoop.fs.Path(root,
      s"$StatsPrefix${g}_${n}_$sdl"), true).close()
    all.foreach { case (og, on, osdl) =>
      fs.delete(new org.apache.hadoop.fs.Path(root,
        s"$StatsPrefix${og}_${on}_$osdl"), false)
    }
  }

  /** Retire all but the newest marker (an interrupted rotation). */
  private def cleanupStats(fs: org.apache.hadoop.fs.FileSystem,
      root: String): Unit = {
    val all = parseStats(rootNames(fs, root))
    all.dropRight(1).foreach { case (og, on, osdl) =>
      fs.delete(new org.apache.hadoop.fs.Path(root,
        s"$StatsPrefix${og}_${on}_$osdl"), false)
    }
  }

  /** Full recount from doclens + fresh publish — the crash-recovery /
    * legacy-migration lane only, never the serving path.
    */
  private def recountStats(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: String): Unit = {
    import org.apache.spark.sql.types._
    val dlDir = s"$root/doclens"
    if (!fs.exists(new org.apache.hadoop.fs.Path(dlDir))) return
    val r = spark.read.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("dl", LongType))))
      .parquet(dlDir)
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("sdl"))
      .head()
    publishStats(fs, root, r.getLong(0), r.getLong(1))
  }

  private def retrievalFs(spark: org.apache.spark.sql.SparkSession,
      root: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Hidden pre-publish trees + the durable delete-intent marker. A
    * leftover stage/tmp tree is pre-publish state (healed away = rolled
    * back); the PENDING marker is post-publish intent (healed = the
    * delete COMPLETES — see [[healIndex]]).
    */
  private val StageDir = ".bm25_stage"
  private val DlStageDir = ".bm25_dlstage"
  private val PosStageDir = ".bm25_posstage"
  private val PendingTmp = ".bm25_pending_tmp"
  private val PendingDelete = "_bm25_pending_delete"
  // whole-tree swap states for the pre-r13 postings dl migration
  private val DlMigStage = ".bm25_dlmig_stage"
  private val DlMigOld = ".bm25_dlmig_old"
  // zero-byte witness that the postings rows carry the denormalized dl
  // column — lets heal skip the per-index footer probe after the first
  private val DlV2Marker = "_bm25_dlv2"

  /** Delete documents from a [[buildIndex]] index — the takedown /
    * dedup-purge lane that completes the append-only lifecycle, same
    * crash-safe COW discipline as the IVF index's cell swap, applied to
    * BOTH trees: only the postings buckets containing a deleted doc's
    * tokens and the doclens buckets containing the doc rows themselves
    * are rewritten (anti-join against the id set), staged hidden and
    * swapped live by rename.
    *
    * Atomicity ACROSS the two trees: the id set is made durable first
    * (written complete to a hidden tmp dir, renamed to the
    * `_bm25_pending_delete` marker — the VersionedTable data-first
    * ordering), and the marker is removed only after every swap
    * published. A crash mid-publish therefore leaves the intent on disk
    * and [[healIndex]] — run by every search — COMPLETES the delete
    * instead of silently keeping deleted docs in unswapped buckets /
    * the N & avgdl statistics (completion is idempotent: an
    * already-swapped bucket no longer matches any pending id, so only
    * the remaining buckets rewrite).
    */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, idsDf: DataFrame): Unit = {
    healIndex(spark, root) // completes any prior pending delete first
    val fs = retrievalFs(spark, root)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$root/postings"))) return
    val gen = graft.operators.IndexGen.begin(fs, root)
    val tmp = new org.apache.hadoop.fs.Path(root, PendingTmp)
    idsDf.select(col("doc_id"))
      .write.mode("overwrite").parquet(tmp.toString)
    // CAS before the intent marker becomes durable: the marker is this
    // delete's commitment point (heal COMPLETES from it) — a loser must
    // raise with only the hidden tmp written, which heal rolls back
    val lease = graft.operators.IndexGen.advance(fs, root, gen)
    if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(root, PendingDelete)))
      throw new java.io.IOException(s"bm25 delete: cannot publish intent")
    runPendingDelete(spark, root, Some(lease))
    graft.operators.IndexGen.release(fs, root, lease)
  }

  /** Execute (or re-execute after a crash) the delete recorded in the
    * pending marker, then clear it. ONE staged job per tree rewrites ALL
    * its touched buckets (partition-pruned read → anti-join →
    * partitionBy(bucket) into a hidden stage tree): the per-bucket
    * read+write loop billed 2-3 jobs per bucket (103 jobs / 986 tasks on
    * the sf0.1 maintained gate fixture); staged, the job count is
    * constant and only renames remain.
    */
  private def runPendingDelete(spark: org.apache.spark.sql.SparkSession,
      root: String, lease: Option[String] = None): Unit = {
    val fs = retrievalFs(spark, root)
    val marker = new org.apache.hadoop.fs.Path(root, PendingDelete)
    val ids = spark.read.parquet(marker.toString).localCheckpoint(true)
    // stats delta staged FIRST, durable as a gen+1 marker coexisting
    // with gen until the swaps land: a crash-replay that sees two
    // markers reuses the newest — already-swapped doclens buckets no
    // longer match any pending id, so recomputing would under-subtract.
    // The delta agg and the doclens touched-bucket discovery share ONE
    // semi-join scan (a third full pass here would bill every
    // applyIndexBatch scrub, clean path included).
    val stats = parseStats(rootNames(fs, root))
    val dlPath = new org.apache.hadoop.fs.Path(s"$root/doclens")
    val dlTouched: Option[Seq[Long]] =
      if (stats.size == 1 && fs.exists(dlPath)) {
        val (g, n, sdl) = stats.head
        val rem = spark.read.parquet(dlPath.toString)
          .join(ids, Seq("doc_id"), "left_semi")
          .agg(count(lit(1)).as("rn"),
            coalesce(sum("dl"), lit(0L)).as("rsdl"),
            collect_set(col("bucket").cast("long")).as("bks"))
          .head()
        val (rn, rsdl) = (rem.getLong(0), rem.getLong(1))
        if (rn > 0)
          fs.create(new org.apache.hadoop.fs.Path(root,
            s"$StatsPrefix${g + 1}_${n - rn}_${sdl - rsdl}"), true).close()
        Some(rem.getSeq[Long](2))
      } else None
    if (dlTouched.contains(Seq.empty)) {
      // the doclens WITNESS matched nothing, and doclens docs are a
      // superset of postings docs by write order (doclens lands first in
      // writeIndex) — so the postings/positions scans would match
      // nothing either. This is applyIndexBatch's CLEAN path (the
      // per-batch scrub of ids that are not in the index): skipping here
      // saves a corpus-sized postings scan per micro-batch. The shortcut
      // only fires on the single-marker fresh path — a crash replay
      // (two markers / no marker) always takes the full scans.
      cleanupStats(fs, root)
      fs.delete(marker, true)
      return
    }
    stagedBucketDelete(spark, fs, s"$root/postings", s"$root/$StageDir", ids,
      lease = lease.map(root -> _))
    stagedBucketDelete(spark, fs, s"$root/doclens", s"$root/$DlStageDir", ids,
      dlTouched, lease = lease.map(root -> _))
    stagedBucketDelete(spark, fs, s"$root/positions", s"$root/$PosStageDir",
      ids, lease = lease.map(root -> _)) // no-op on non-positional indexes
    if (stats.isEmpty) recountStats(spark, fs, root) // pre-sidecar index
    else cleanupStats(fs, root) // swaps published — retire the old gen
    fs.delete(marker, true)
  }

  /** Shared staged COW delete over one bucket-partitioned tree: find the
    * touched buckets (bounded by nBuckets by construction), rewrite them
    * minus `ids` into `stagePath` in one job, swap each live. A bucket
    * fully emptied by the rewrite is absent from the stage and retires
    * through the healable old state.
    */
  private def stagedBucketDelete(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, tableDir: String,
      stagePath: String, ids: DataFrame,
      preTouched: Option[Seq[Long]] = None,
      lease: Option[(String, String)] = None): Unit = {
    if (!fs.exists(new org.apache.hadoop.fs.Path(tableDir))) return
    val touched = preTouched.getOrElse(spark.read.parquet(tableDir)
      .join(ids, Seq("doc_id"), "left_semi")
      .select(col("bucket").cast("long")).distinct().collect()
      .map(_.getLong(0)).toSeq)
    if (touched.isEmpty) return
    val stage = new org.apache.hadoop.fs.Path(stagePath)
    spark.read.parquet(tableDir)
      .where(col("bucket").isin(touched: _*))
      .join(broadcast(ids), Seq("doc_id"), "left_anti")
      .write.mode("overwrite").partitionBy("bucket").parquet(stage.toString)
    touched.foreach { b =>
      // TTL fence per swap: a holder stalled past its lease must not
      // rename over state a successor now owns (heal-time completions —
      // lease = None — run only on lease-free roots by construction)
      lease.foreach { case (r, tok) =>
        graft.operators.IndexGen.checkLease(fs, r, tok) }
      val live = new org.apache.hadoop.fs.Path(s"$tableDir/bucket=$b")
      val tmp = new org.apache.hadoop.fs.Path(s"$tableDir/.bm25_tmp_$b")
      val old = new org.apache.hadoop.fs.Path(s"$tableDir/.bm25_old_$b")
      val staged = new org.apache.hadoop.fs.Path(stage, s"bucket=$b")
      if (fs.exists(staged)) {
        if (!fs.rename(staged, tmp))
          throw new java.io.IOException(s"bm25 delete: cannot move $staged")
        if (!fs.rename(live, old))
          throw new java.io.IOException(s"bm25 delete: cannot stage $live")
        if (!fs.rename(tmp, live))
          throw new java.io.IOException(s"bm25 delete: cannot publish $tmp")
        fs.delete(old, true)
      } else {
        if (!fs.rename(live, old))
          throw new java.io.IOException(s"bm25 delete: cannot retire $live")
        fs.delete(old, true)
      }
    }
    fs.delete(stage, true)
  }

  /** Merge small files inside hot postings buckets — the small-file
    * remedy for an append-maintained index (every [[appendToIndex]]
    * batch adds one file per touched bucket; a search in a
    * long-maintained index pays a task per tiny file). Buckets holding
    * more than `maxFilesPerBucket` data files rewrite through the same
    * staged COW machinery as [[deleteFromIndex]]: one partition-pruned,
    * repartition-by-bucket job, then rename swaps. Content-preserving;
    * crash-safe via the stage/tmp/old heal states.
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, maxFilesPerBucket: Int = 4): Unit = {
    healIndex(spark, root)
    val fs = retrievalFs(spark, root)
    // CAS baseline before observing either tree; advance here rather
    // than per-tree — compaction is content-preserving, so the earliest
    // publish point keeps it one generation
    val gen = graft.operators.IndexGen.begin(fs, root)
    val lease = graft.operators.IndexGen.advance(fs, root, gen)
    compactTree(spark, fs, s"$root/postings", s"$root/$StageDir",
      maxFilesPerBucket, root -> lease)
    // appends grow doclens one file per bucket per batch too
    compactTree(spark, fs, s"$root/doclens", s"$root/$DlStageDir",
      maxFilesPerBucket, root -> lease)
    compactTree(spark, fs, s"$root/positions", s"$root/$PosStageDir",
      maxFilesPerBucket, root -> lease) // no-op on non-positional indexes
    graft.operators.IndexGen.release(fs, root, lease)
  }

  private def compactTree(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, tableDir: String,
      stagePath: String, maxFilesPerBucket: Int,
      lease: (String, String)): Unit = {
    val dir = new org.apache.hadoop.fs.Path(tableDir)
    if (!fs.exists(dir)) return
    val hot = fs.listStatus(dir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .filter(d => fs.listStatus(d.getPath)
        .count(f => f.getPath.getName.endsWith(".parquet")) > maxFilesPerBucket)
      .map(_.getPath.getName.stripPrefix("bucket=").toLong).toSeq
    if (hot.isEmpty) return
    val stage = new org.apache.hadoop.fs.Path(stagePath)
    spark.read.parquet(tableDir)
      .where(col("bucket").isin(hot: _*))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(stage.toString)
    hot.foreach { b =>
      graft.operators.IndexGen.checkLease(fs, lease._1, lease._2) // TTL fence
      val live = new org.apache.hadoop.fs.Path(s"$tableDir/bucket=$b")
      val tmp = new org.apache.hadoop.fs.Path(s"$tableDir/.bm25_tmp_$b")
      val old = new org.apache.hadoop.fs.Path(s"$tableDir/.bm25_old_$b")
      val staged = new org.apache.hadoop.fs.Path(stage, s"bucket=$b")
      if (!fs.rename(staged, tmp))
        throw new java.io.IOException(s"bm25 compact: cannot move $staged")
      if (!fs.rename(live, old))
        throw new java.io.IOException(s"bm25 compact: cannot stage $live")
      if (!fs.rename(tmp, live))
        throw new java.io.IOException(s"bm25 compact: cannot publish $tmp")
      fs.delete(old, true)
    }
    fs.delete(stage, true)
  }

  /** Re-shard the index into `newRoot` with a different bucket count —
    * the remedy [[indexStats]]' skew signal calls for (a hot bucket
    * degrading searches toward a scan picks a larger nBuckets), the
    * [[Similarity.rebuildIvfIndex]] discipline for the text side: the
    * postings and doclens tables carry everything a rebuild needs (doc
    * text is never required), each re-buckets in one
    * repartition-by-bucket job, and the caller flips its root pointer
    * as the one atomic step — a crashed rebuild leaves the live index
    * untouched and the incomplete newRoot is simply rebuilt.
    */
  def rebuildIndex(spark: org.apache.spark.sql.SparkSession,
      oldRoot: String, newRoot: String, nBuckets: Int = 64): Unit = {
    healIndex(spark, oldRoot)
    // a rebuild is a FOLD: pending MoR tombstones must not resurrect,
    // and the Observation recount below refreshes (N, sum_dl) from the
    // masked doclens
    maskDocTombstones(spark, oldRoot,
        spark.read.parquet(s"$oldRoot/postings")
          .select("doc_id", "tok", "tf", "dl"))
      .withColumn("bucket", pmod(xxhash64(col("tok")), lit(nBuckets.toLong)))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$newRoot/postings")
    retrievalFs(spark, newRoot).create(new org.apache.hadoop.fs.Path(
      newRoot, DlV2Marker), true).close()
    // (n_docs, sum_dl) piggybacked on the rewrite job it already runs
    val obs = org.apache.spark.sql.Observation()
    maskDocTombstones(spark, oldRoot,
        spark.read.parquet(s"$oldRoot/doclens")
          .select("doc_id", "dl"))
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(nBuckets.toLong)))
      .repartition(col("bucket"))
      .observe(obs, count(lit(1)).as("n"),
        coalesce(sum("dl"), lit(0L)).as("sdl"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$newRoot/doclens")
    val got = obs.get
    publishStats(retrievalFs(spark, newRoot), newRoot,
      got.get("n").map(_.asInstanceOf[Long]).getOrElse(0L),
      got.get("sdl").map(_.asInstanceOf[Long]).getOrElse(0L))
    // a positional index re-buckets its positions tree too
    val fs = retrievalFs(spark, oldRoot)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$oldRoot/positions")))
      maskDocTombstones(spark, oldRoot,
          spark.read.parquet(s"$oldRoot/positions")
            .select("doc_id", "tok", "positions"))
        .withColumn("bucket", pmod(xxhash64(col("tok")), lit(nBuckets.toLong)))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$newRoot/positions")
  }

  /** Fold ONE micro-batch of documents into a [[buildIndex]] index,
    * exactly-once under foreachBatch's at-least-once delivery — the
    * [[Similarity.applyIvfBatch]] commit-gate discipline for the text
    * index: a batch id at or below the committed horizon is a
    * checkpoint-replay re-delivery and skips; a live apply SCRUBS its
    * own batch's doc ids first (the touched-bucket COW delete — a
    * no-op-shaped pruned scan on the clean path), so re-delivery
    * repairs a crashed half-append instead of duplicating postings.
    * Returns true when the batch was applied.
    */
  def applyIndexBatch(spark: org.apache.spark.sql.SparkSession,
      root: String, batch: DataFrame, batchId: Long,
      nBuckets: Int = 64): Boolean = {
    val fs = retrievalFs(spark, root)
    val committed = {
      val dir = new org.apache.hadoop.fs.Path(root)
      if (!fs.exists(dir)) -1L
      else fs.listStatus(dir).map(_.getPath.getName)
        .collect { case n if n.startsWith("_bm25_commit_") =>
          n.stripPrefix("_bm25_commit_").toLong }
        .foldLeft(-1L)(math.max)
    }
    if (batchId <= committed) return false
    val b = batch.localCheckpoint(true) // scrub ids + the append
    deleteFromIndex(spark, root, b.select("doc_id"))
    appendToIndex(b, root, nBuckets)
    fs.create(new org.apache.hadoop.fs.Path(s"$root/_bm25_commit_$batchId"),
      true).close()
    fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath).foreach { p =>
        val n = p.getName
        if (n.startsWith("_bm25_commit_") &&
            n.stripPrefix("_bm25_commit_").toLong < batchId)
          fs.delete(p, false)
      }
    true
  }

  /** Finish or roll back an interrupted [[deleteFromIndex]] /
    * [[compactIndex]] swap — the IVF heal state machine verbatim per
    * bucket, on both trees: tmp + live ⇒ swap never started (tmp may be
    * incomplete — drop it); tmp alone ⇒ live was staged away after a
    * complete write — publish tmp; old (± live) ⇒ publish happened —
    * drop old. Then, if a durable `_bm25_pending_delete` marker remains,
    * the delete crashed between publishing its intent and finishing its
    * swaps: COMPLETE it (idempotent — already-swapped buckets no longer
    * match any pending id), so a partial delete can never persist
    * silently across the two trees. Idempotent, one listing per level.
    */
  def healIndex(spark: org.apache.spark.sql.SparkSession,
      root: String): Unit = {
    val fs = retrievalFs(spark, root)
    // a LIVE writer's unexpired publish lease means its stage trees and
    // markers are not crash leftovers — repairing them here would delete
    // an in-flight publication out from under it (the r13 residual:
    // the lease protected writers from each other, not from readers).
    // Serve the published state untouched; heal runs only on lease-free
    // or expired-lease roots (begin() breaks expired ones).
    if (graft.operators.IndexGen.leaseHeld(fs, root)) return
    // interrupted postings-dl migration first: its old/stage states must
    // resolve before anything reads or rewrites the postings tree
    healDlMigration(fs, root)
    // leftover stage/pending-tmp trees = pre-publish state of an
    // interrupted batched delete — dropping them rolls that phase back
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/$StageDir"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/$DlStageDir"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/$PosStageDir"), true)
    fs.delete(new org.apache.hadoop.fs.Path(root, PendingTmp), true)
    def healDir(dir: org.apache.hadoop.fs.Path): Unit = {
      if (!fs.exists(dir)) return
      fs.listStatus(dir).map(_.getPath).foreach { p =>
        val n = p.getName
        if (n.startsWith(".bm25_tmp_")) {
          val live = new org.apache.hadoop.fs.Path(dir,
            s"bucket=${n.stripPrefix(".bm25_tmp_")}")
          if (fs.exists(live)) fs.delete(p, true) else fs.rename(p, live)
        } else if (n.startsWith(".bm25_old_")) fs.delete(p, true)
      }
    }
    healDir(new org.apache.hadoop.fs.Path(s"$root/postings"))
    healDir(new org.apache.hadoop.fs.Path(s"$root/doclens"))
    healDir(new org.apache.hadoop.fs.Path(s"$root/positions"))
    // pre-r13 postings rows carry no dl column — the pinned-schema
    // serving read would return NULL dl and silently garbage every
    // score. One-time whole-tree self-migration, witnessed by a marker
    // so the steady-state cost is one fs.exists
    ensurePostingsDl(spark, fs, root)
    if (fs.exists(new org.apache.hadoop.fs.Path(root, PendingDelete)))
      runPendingDelete(spark, root)
    // stats sidecar heal (after any pending delete completed, so the
    // recount reflects final state): a durable append intent means the
    // sidecar may disagree with the trees — one full doclens recount
    // republishes it; a missing marker on a populated index is a
    // pre-sidecar layout self-migrating on first read
    val names = rootNames(fs, root)
    val appendPendings = names.filter(_.startsWith(AppendPending))
    if (appendPendings.nonEmpty ||
        (parseStats(names).isEmpty &&
          fs.exists(new org.apache.hadoop.fs.Path(s"$root/doclens")))) {
      recountStats(spark, fs, root)
      appendPendings.foreach(n =>
        fs.delete(new org.apache.hadoop.fs.Path(root, n), false))
    } else cleanupStats(fs, root) // interrupted rotation: keep the max
  }

  /** Resolve an interrupted [[migratePostingsDl]] whole-tree swap.
    * States: old + no postings ⇒ the crash fell between retiring the
    * live tree and publishing the stage, and the stage was written
    * COMPLETE before the retire — publish it (or roll the old tree back
    * if the stage is somehow gone); old + postings ⇒ published — drop
    * leftovers; stage alone ⇒ pre-publish (possibly incomplete) — drop
    * it, the migration re-detects and re-runs.
    */
  private def healDlMigration(fs: org.apache.hadoop.fs.FileSystem,
      root: String): Unit = {
    val post = new org.apache.hadoop.fs.Path(s"$root/postings")
    val stage = new org.apache.hadoop.fs.Path(s"$root/$DlMigStage")
    val old = new org.apache.hadoop.fs.Path(s"$root/$DlMigOld")
    if (fs.exists(old)) {
      if (!fs.exists(post)) {
        if (fs.exists(stage)) {
          if (!fs.rename(stage, post))
            throw new java.io.IOException(s"dl migration: cannot publish")
          fs.delete(old, true)
        } else {
          if (!fs.rename(old, post)) // defensive rollback
            throw new java.io.IOException(s"dl migration: cannot roll back")
        }
      } else { fs.delete(old, true); fs.delete(stage, true) }
    } else fs.delete(stage, true)
  }

  /** One-time self-migration gate: indexes whose postings predate the
    * dl denormalization (pre-r13 layouts — including ones whose stats
    * sidecar an earlier heal already created) rewrite the postings tree
    * once with dl joined in from doclens; everything after the witness
    * marker exists is one fs.exists per heal.
    */
  private def ensurePostingsDl(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: String): Unit = {
    val post = new org.apache.hadoop.fs.Path(s"$root/postings")
    if (!fs.exists(post)) return
    if (fs.exists(new org.apache.hadoop.fs.Path(root, DlV2Marker))) return
    if (!spark.read.parquet(post.toString)
        .schema.fieldNames.contains("dl"))
      migratePostingsDl(spark, fs, root)
    fs.create(new org.apache.hadoop.fs.Path(root, DlV2Marker), true).close()
  }

  /** Rewrite the whole postings tree with dl joined in from doclens,
    * under the whole-tree swap heal states of [[healDlMigration]]
    * (stage written complete → live tree retired → stage published) so
    * a MIXED tree — some buckets migrated, some not, poisoning the
    * pinned-schema read — can never exist. Docs mid-deletion whose
    * doclens witness rows are already swapped away drop out via the
    * inner join; the pending delete that owns them removes their
    * postings rows right after.
    */
  private def migratePostingsDl(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: String): Unit = {
    val postDir = s"$root/postings"
    val dl = spark.read.parquet(s"$root/doclens").select("doc_id", "dl")
    val stage = new org.apache.hadoop.fs.Path(s"$root/$DlMigStage")
    spark.read.parquet(postDir)
      .select(col("doc_id"), col("tok"), col("tf"),
        col("bucket").cast("long").as("bucket"))
      .join(dl, "doc_id")
      .select("doc_id", "tok", "tf", "dl", "bucket")
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(stage.toString)
    val post = new org.apache.hadoop.fs.Path(postDir)
    val old = new org.apache.hadoop.fs.Path(s"$root/$DlMigOld")
    if (!fs.rename(post, old))
      throw new java.io.IOException(s"dl migration: cannot retire $post")
    if (!fs.rename(stage, post))
      throw new java.io.IOException(s"dl migration: cannot publish $stage")
    fs.delete(old, true)
  }

  /** Per-bucket observability for a [[buildIndex]] index — the postings
    * skew a 100× deployment watches: (bucket, n_postings, n_tokens,
    * bytes). A hot bucket (one token's postings dominating) degrades its
    * searches toward a scan; this is the signal that picks a larger
    * nBuckets on rebuild. One partition-pruned aggregate over the
    * postings tree plus a driver file listing.
    */
  def indexStats(spark: org.apache.spark.sql.SparkSession,
      root: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("tok", StringType), StructField("tf", LongType),
      StructField("bucket", LongType)))
    val counts = spark.read.option("basePath", s"$root/postings")
      .schema(schema).parquet(s"$root/postings")
      .groupBy("bucket").agg(count(lit(1)).as("n_postings"),
        countDistinct("tok").as("n_tokens"))
    // bytes via the Hadoop FS like everything else in this file — a
    // java.io.File listing is silently empty on any non-local FS and
    // would report bytes=0 (ivfIndexStats' getContentSummary discipline)
    val fs = retrievalFs(spark, root)
    val bytes = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/postings"))
      .filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("bucket="))
      .map { p =>
        (p.getName.stripPrefix("bucket=").toLong,
          fs.getContentSummary(p).getLength)
      }.toSeq
    import spark.implicits._
    counts.join(bytes.toDF("bucket", "bytes"), Seq("bucket"), "left")
      .select(col("bucket"), col("n_postings"), col("n_tokens"),
        coalesce(col("bytes"), lit(0L)).as("bytes"))
  }

  /** Relevance-drift audit for a [[buildIndex]] index — the quality
    * signal [[indexStats]]' counts/bytes lack, mirroring
    * [[Similarity.auditIvfIndex]] for the text side: a stride-bounded
    * sample of corpus docs replays as queries through BOTH lanes —
    * direct [[bm25TopK]] over the ground-truth corpus and the index's
    * [[bm25TopKIndexed]] — and the audit scores the index by the
    * reciprocal rank of each direct top-1 doc within the indexed list
    * (the MRR-vs-truth shape of the `q_mrr_eval` gate). All-integer
    * scoring (per-query rr_bp = 10000 div rank, absent ⇒ 0; mrr_bp =
    * Σ div n_q) keeps the row engine-exact. A consistent index reports
    * (n_q, n_q, 10000, false); lost postings (a gutted bucket, a
    * half-applied delete the marker machinery missed) surface as
    * disagreement and `stale = mrr_bp < minMrrBp` — the signal to
    * compact/rebuild from the source corpus. Cost: one direct scoring
    * of ~sampleBudget queries + one pruned index search.
    */
  def auditIndex(spark: org.apache.spark.sql.SparkSession, root: String,
      docs: DataFrame, k: Int = 5, sampleBudget: Long = 20,
      nBuckets: Int = 64, minMrrBp: Long = 9000,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // per-phase job tags (guide §1.5 / r16 verdict item 4): the audit
    // bills sample+direct+indexed+recount to one bench row — label the
    // EAGER phases so regressions are attributable (the lazy scoring
    // lanes execute at the caller's sink). Tags only, no plan changes.
    val sc = spark.sparkContext
    val q = Meter.tagged(sc, "bm25-audit:sample") {
      val n = docs.count()
      val st = math.max(1L, (n + sampleBudget - 1) / sampleBudget)
      docs.where(col(idCol) % st === 0)
        .select(col(idCol).as("qid"), col(textCol).as("qtext"))
        .localCheckpoint(true) // feeds both lanes
    }
    val direct = bm25TopK(docs, q, k, idCol = idCol, textCol = textCol)
    val indexed = bm25TopKIndexed(spark, root, q, k, nBuckets)
    val rr = direct.where(col("rnk") === 1).select(col("qid"), col("doc_id"))
      .join(indexed.select(col("qid"), col("doc_id"), col("rnk")),
        Seq("qid", "doc_id"), "left")
      .select(col("qid"),
        coalesce(expr("10000L div rnk"), lit(0L)).as("rr_bp"))
    // sidecar staleness self-audit (the runtime twin of the
    // OperatorsSpec sidecar≡recount pin): one doclens aggregate against
    // the marker's (N, sum_dl) — a drifted sidecar silently skews every
    // BM25 score, so a deployment needs the integer diff in the audit
    // row, not just in the test suite. bm25TopKIndexed above healed, so
    // the marker exists on any populated index.
    val afs = retrievalFs(spark, root)
    val (mn, msdl) = readStats(afs, root)
      .map(s => (s._2, s._3)).getOrElse((0L, 0L))
    val (rn, rsdl) = {
      import org.apache.spark.sql.types._
      val dlDir = s"$root/doclens"
      if (!afs.exists(new org.apache.hadoop.fs.Path(dlDir))) (0L, 0L)
      else {
        val r = Meter.tagged(sc, "bm25-audit:doclens-recount") {
          spark.read.schema(StructType(Seq(
              StructField("doc_id", LongType), StructField("dl", LongType))))
            .parquet(dlDir)
            .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("sdl"))
            .head()
        }
        (r.getLong(0), r.getLong(1))
      }
    }
    rr.agg(count(lit(1)).as("n_q"),
        sum(when(col("rr_bp") === 10000L, 1L).otherwise(0L))
          .as("n_top1_agree"),
        expr("sum(rr_bp) div count(1)").as("mrr_bp"))
      .withColumn("sidecar_n_diff", lit(math.abs(mn - rn)))
      .withColumn("sidecar_dl_diff", lit(math.abs(msdl - rsdl)))
      .withColumn("stale", col("mrr_bp") < minMrrBp ||
        col("sidecar_n_diff") =!= 0L || col("sidecar_dl_diff") =!= 0L)
  }

  /** The stats sidecar's (n_docs, sum_dl) for a [[buildIndex]] index —
    * heals first, so a crashed append/delete or a pre-sidecar layout
    * resolves before the numbers are read. Zero jobs on the clean path.
    */
  def corpusStats(spark: org.apache.spark.sql.SparkSession,
      root: String): (Long, Long) = {
    healIndex(spark, root)
    readStats(retrievalFs(spark, root), root)
      .map(s => (s._2, s._3)).getOrElse((0L, 0L))
  }

  /** BM25 top-k against a [[buildIndex]] index — scoring identical to
    * [[bm25TopK]] (same formula, same round-6 rank key), I/O pruned to
    * the query tokens' buckets. Queries are metadata-scale by premise
    * (their tokens drive the bucket list driver-side). The serving path
    * reads NOTHING corpus-sized: per-doc lengths ride denormalized in
    * the posting rows and the global (N, avgdl) come from the stats
    * sidecar marker's filename — search I/O is strictly ∝ probed
    * buckets (the doclens table is mutation-path bookkeeping only).
    */
  private val docTombSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType)))

  /** Pending merge-on-read tombstones for a [[buildIndex]] root —
    * metadata-scale by contract (bounded by deletes since the last
    * [[compactIndexTombstones]] fold), so the read-side anti-join
    * broadcasts from file stats.
    */
  private def indexTombstones(spark: org.apache.spark.sql.SparkSession,
      root: String): Option[DataFrame] = {
    val fs = retrievalFs(spark, root)
    val p = new org.apache.hadoop.fs.Path(s"$root/tombstones")
    if (!fs.exists(p)) None
    else {
      // file-precise folds (r16) leave the dir behind with only hidden
      // debris (_SUCCESS/.crc) — no visible data files means no pending
      // tombstones, so serving lanes skip the anti-join entirely
      val files = fs.listStatus(p).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith(".") && !n.startsWith("_")
      }.map(_.getPath.toString)
      if (files.isEmpty) None
      else Some(spark.read.schema(docTombSchema).parquet(files: _*))
    }
  }

  private def maskDocTombstones(spark: org.apache.spark.sql.SparkSession,
      root: String, df: DataFrame): DataFrame =
    indexTombstones(spark, root) match {
      case Some(ts) => df.join(ts, Seq("doc_id"), "left_anti")
      case None => df
    }

  /** MERGE-ON-READ delete for the inverted index (r15 — the
    * [[graft.operators.Similarity.deleteFromIvfIndexMor]] move for
    * text): doc ids land as an append-only tombstone sidecar and no
    * postings/doclens bucket is rewritten; every serving lane
    * anti-joins its CANDIDATES against the pending tombstones.
    * Corpus statistics (df, N, avgdl) deliberately stay PHYSICAL until
    * [[compactIndexTombstones]] folds (bounded staleness — the Delta
    * deletion-vector stance on table stats): surviving docs keep their
    * pre-delete scores, which is also what makes the lane exactly
    * oracle-able. Same CAS discipline as appends; idempotent, so no
    * heal state is needed.
    */
  def deleteFromIndexMor(spark: org.apache.spark.sql.SparkSession,
      root: String, idsDf: DataFrame): Unit = {
    healIndex(spark, root)
    val fs = retrievalFs(spark, root)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$root/postings"))) return
    val gen = graft.operators.IndexGen.begin(fs, root)
    val lease = graft.operators.IndexGen.advance(fs, root, gen)
    idsDf.select(col("doc_id").cast("long").as("doc_id"))
      .coalesce(1) // metadata-scale by contract: one file per batch
      .write.mode("append").parquet(s"$root/tombstones")
    graft.operators.IndexGen.release(fs, root, lease)
  }

  /** Fold pending tombstones through the staged COW delete (touched
    * buckets only, stats updated), then clear the sidecar. Crash-safe by
    * idempotence: the COW completes first; a crash before the clear
    * leaves tombstones masking already-deleted docs — a no-op. The
    * clear is FILE-PRECISE (r16, the [[graft.operators.Similarity
    * .compactIvfTombstones]] discipline): snapshot the sidecar's file
    * list, fold exactly those files, delete exactly those files — a
    * tombstone appended mid-fold by a concurrent CAS-legal
    * [[deleteFromIndexMor]] survives to the next fold instead of being
    * wiped unfolded.
    */
  def compactIndexTombstones(spark: org.apache.spark.sql.SparkSession,
      root: String): Unit = {
    val fs = retrievalFs(spark, root)
    val p = new org.apache.hadoop.fs.Path(s"$root/tombstones")
    if (!fs.exists(p)) return
    val files = fs.listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith(".") && !n.startsWith("_")
    }.map(_.getPath)
    if (files.isEmpty) return
    tombstoneFoldHook() // test seam: a concurrent append lands here
    val ids = spark.read.schema(docTombSchema)
      .parquet(files.map(_.toString): _*)
      .distinct().localCheckpoint(true)
    if (ids.head(1).nonEmpty) deleteFromIndex(spark, root, ids)
    files.foreach(f => fs.delete(f, false))
  }

  /** Test seam for the fold/append race: invoked between the sidecar
    * file snapshot and the fold, where a concurrent [[deleteFromIndexMor]]
    * may legally append. Production no-op.
    */
  private[graft] var tombstoneFoldHook: () => Unit = () => ()

  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession, root: String,
      queries: DataFrame, k: Int, nBuckets: Int = 64,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25IndexedCore(spark, root, queries, k, nBuckets, k1, b, None)

  /** Attribute-filtered indexed BM25 (r15, the [[Similarity
    * .ivfIndexTopKFiltered]] move for the lexical lane): candidates must
    * appear in `allowed` (a doc-id frame — any metadata predicate
    * materializes to one). Filter semantics are the standard ones:
    * CANDIDATES are restricted, corpus statistics (df, N, avgdl) are
    * not — scores of surviving docs equal the unfiltered lane's
    * verbatim, so the result is exactly "the unfiltered ranking with
    * non-matching docs removed, re-ranked to k". The semi-join runs
    * BEFORE scoring (no term math on filtered-out docs); I/O stays ∝
    * probed buckets. Broadcast the allowed frame at the call site when
    * it is small; a corpus-scale filter legitimately shuffles.
    */
  def bm25TopKIndexedFiltered(spark: org.apache.spark.sql.SparkSession,
      root: String, queries: DataFrame, k: Int, allowed: DataFrame,
      nBuckets: Int = 64, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25IndexedCore(spark, root, queries, k, nBuckets, k1, b, Some(allowed))

  private def bm25IndexedCore(spark: org.apache.spark.sql.SparkSession,
      root: String, queries: DataFrame, k: Int, nBuckets: Int,
      k1: Double, b: Double, allowed: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.types._
    healIndex(spark, root) // finish/roll back any interrupted delete swap
    val qtoks = queries.select(col("qid"),
        explode(array_distinct(split(col("qtext"), " "))).as("tok"))
      .where(col("tok") =!= "")
      .localCheckpoint(true) // buckets collect + probe join off one explode
    val buckets = qtoks
      .select(pmod(xxhash64(col("tok")), lit(nBuckets.toLong)).as("b"))
      .distinct().collect().map(_.getLong(0)).sorted
    val postSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("tok", StringType), StructField("tf", LongType),
      StructField("dl", LongType)))
    // existence via the Hadoop FS, not java.io.File — on any non-local
    // FS a File check is silently false and every probed bucket would
    // be skipped (the indexStats bytes-listing bug class, fixed r12)
    val bfs = retrievalFs(spark, root)
    val dirs = buckets.map(v => s"$root/postings/bucket=$v")
      .filter(d => bfs.exists(new org.apache.hadoop.fs.Path(d)))
    val postings =
      if (dirs.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          postSchema)
      else spark.read.schema(postSchema).parquet(dirs.toSeq: _*)
    val postingsCk = postings.localCheckpoint(true) // df AND probe join
    // df for the probed tokens, EXACT from their home buckets
    val df = postingsCk.groupBy("tok").agg(countDistinct("doc_id").as("df"))
    // (N, avgdl) from the sidecar marker — two numbers off a filename,
    // zero jobs (healIndex above guarantees the marker on any index
    // with a doclens tree, including pre-sidecar layouts)
    val (n, sdl) = readStats(bfs, root)
      .map(s => (s._2, s._3)).getOrElse((0L, 0L))
    val avgdl = if (n > 0) sdl.toDouble / n else 0.0
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    // merge-on-read tombstones mask CANDIDATES; stats stay physical
    // until the fold (documented bounded staleness)
    val probe = maskDocTombstones(spark, root, qtoks.join(postingsCk, "tok"))
    // filtered lane: restrict CANDIDATES before any term math; df/N/avgdl
    // above stay full-corpus (standard filtered-retrieval semantics —
    // surviving docs score identically to the unfiltered lane)
    val cand = allowed match {
      case Some(a) => probe.join(a.select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      case None => probe
    }
    cand
      .join(broadcast(df), "tok")
      .withColumn("term",
        log((lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy("qid", "doc_id")
      .agg(round(sum("term"), 6).as("score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
  }

  /** Exact n-token phrase search against a POSITIONAL [[buildIndex]]
    * index: each phrase token's (doc_id, positions) rows come from its
    * own bucket dir (I/O ∝ phrase tokens, never corpus), and a document
    * matches where the shifted position lists intersect —
    * `hits = |∩_i (positions_i − i)|`, the classic positional-postings
    * conjunction (overlapping matches counted, like the direct lane).
    * Output: (doc_id, hits) for hits > 0, (hits desc, doc_id), top k.
    */
  def phraseTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      root: String, phrase: Seq[String], k: Int,
      nBuckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.types._
    require(phrase.nonEmpty, "phrase must have at least one token")
    healIndex(spark, root)
    val posSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("tok", StringType),
      StructField("positions", ArrayType(LongType))))
    val fs = retrievalFs(spark, root)
    def tokLane(t: String, i: Int): DataFrame = {
      // bucket via the same xxhash64 the writer used — computed with a
      // 1-row Spark expression so the two sides can never disagree
      val b = spark.range(1)
        .select(pmod(xxhash64(lit(t)), lit(nBuckets.toLong)))
        .head().getLong(0)
      val bdir = s"$root/positions/bucket=$b"
      val rows =
        if (!fs.exists(new org.apache.hadoop.fs.Path(bdir)))
          spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), posSchema)
        else spark.read.schema(posSchema).parquet(bdir)
      rows.where(col("tok") === t)
        .select(col("doc_id"),
          expr(s"transform(positions, p -> p - ${i}L)").as(s"a$i"))
    }
    val lanes = phrase.zipWithIndex.map { case (t, i) => tokLane(t, i) }
    val joined = maskDocTombstones(spark, root,
      lanes.reduce((l, r) => l.join(r, "doc_id")))
    val acc = phrase.indices.map(i => s"a$i")
      .reduce((l, r) => s"array_intersect($l, $r)")
    joined
      .select(col("doc_id"),
        expr(s"CAST(size($acc) AS BIGINT)").as("hits"))
      .where(col("hits") > 0)
      .orderBy(col("hits").desc, col("doc_id")).limit(k)
  }

  /** Reciprocal-rank fusion of two rankings (the standard hybrid-search
    * combiner): `rrf = 1/(c + rank_a) + 1/(c + rank_b)` per (qid, doc),
    * a doc absent from one list contributing only the other term. The
    * score is a fixed-order sum of two small rationals — bit-identical
    * across engines, so the fused ranking is EXACTLY reproducible (no
    * fp tolerance needed, unlike either input's raw score). Inputs are
    * (qid, doc_id, rnk) top-k lists; output (qid, doc_id, rrf, rnk).
    */
  def hybridRrf(a: DataFrame, bdf: DataFrame, k: Int,
      c: Double = 60.0): DataFrame = {
    val left = a.select(col("qid"), col("doc_id"), col("rnk").as("rnk_a"))
    val right = bdf.select(col("qid"), col("doc_id"), col("rnk").as("rnk_b"))
    val w = Window.partitionBy("qid").orderBy(col("rrf").desc, col("doc_id"))
    left.join(right, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(c) + col("rnk_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("rnk_b")), lit(0.0)))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("qid"), col("doc_id"), col("rrf"), col("rnk"))
  }

  /** RM3-shaped pseudo-relevance feedback served from the persisted
    * index — the production form of the direct PRF loop: BOTH scoring
    * passes are the bucket-pruned [[bm25TopKIndexed]] lane (I/O ∝ query
    * tokens, expanded-pass included), and the feedback-doc term vectors
    * come from the FORWARD doc store (`fbDocs` rows per query fetched
    * by id — the inverted tree is token-major and cannot serve
    * doc-major term vectors; every serving stack keeps the doc store
    * anyway for result rendering). Expansion rule identical to the
    * direct lane: the `fbTerms` most frequent feedback-doc tokens not
    * already in the query (exact integer counts, token-asc tie) append
    * to the query text; scores therefore match the direct PRF verbatim.
    */
  def bm25PrfTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      root: String, docStore: DataFrame, queries: DataFrame, k: Int,
      fbDocs: Int = 3, fbTerms: Int = 2, nBuckets: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fb = bm25TopKIndexed(spark, root, queries, fbDocs, nBuckets)
      .select(col("qid"), col("doc_id"))
    val ftf = broadcast(fb)
      .join(docStore.select(col(idCol).as("doc_id"),
        col(textCol).as("text")), "doc_id")
      .select(col("qid"), explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("qid", "tok").agg(count(lit(1)).as("ftf"))
    val qtok0 = queries.select(col("qid"),
        explode(array_distinct(split(col("qtext"), " "))).as("tok"))
      .where(col("tok") =!= "")
    val wexp = Window.partitionBy("qid").orderBy(col("ftf").desc, col("tok"))
    val exp = ftf.join(qtok0, Seq("qid", "tok"), "left_anti")
      .withColumn("rn", row_number().over(wexp))
      .where(col("rn") <= fbTerms)
      .groupBy("qid")
      .agg(concat_ws(" ", sort_array(collect_list("tok"))).as("extra"))
    val expanded = queries.join(broadcast(exp), Seq("qid"), "left")
      .select(col("qid"),
        concat_ws(" ", col("qtext"), coalesce(col("extra"), lit("")))
          .as("qtext"))
    bm25TopKIndexed(spark, root, expanded, k, nBuckets)
  }

  /** Snippet extraction served from a POSITIONAL [[buildIndex]] index —
    * ranking via [[bm25TopKIndexed]], hit positions read from the query
    * tokens' positions buckets (the phrase lane's tree; NO doc text is
    * touched): in each query's top-1 doc, elect the `window`-token span
    * with the most query-term hits (span starts at a matched position —
    * a maximizing span always can — ties to the earliest start).
    * All-integer election, identical to the direct snippet query; I/O ∝
    * query tokens' buckets. Output: (qid, doc_id, snip_start, n_hits).
    */
  def snippetTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      root: String, queries: DataFrame, window: Int = 8,
      nBuckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.types._
    val qtoks = queries.select(col("qid"),
        explode(array_distinct(split(col("qtext"), " "))).as("tok"))
      .where(col("tok") =!= "")
      .localCheckpoint(true) // bucket collect + the positions join
    val top1 = bm25TopKIndexed(spark, root, queries, 1, nBuckets)
      .select(col("qid"), col("doc_id")).localCheckpoint(true)
    val buckets = qtoks
      .select(pmod(xxhash64(col("tok")), lit(nBuckets.toLong)).as("b"))
      .distinct().collect().map(_.getLong(0)).sorted
    val posSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("tok", StringType),
      StructField("positions", ArrayType(LongType))))
    val fs = retrievalFs(spark, root)
    val dirs = buckets.map(v => s"$root/positions/bucket=$v")
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
    val posRows =
      if (dirs.isEmpty)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), posSchema)
      else spark.read.schema(posSchema).parquet(dirs.toSeq: _*)
    val m = posRows.join(qtoks, "tok")
      .join(broadcast(top1), Seq("qid", "doc_id"), "left_semi")
      .select(col("qid"), col("doc_id"),
        explode(col("positions")).as("pos"))
      .localCheckpoint(true) // both sides of the window self-join
    val w = Window.partitionBy("qid", "doc_id")
      .orderBy(col("n_hits").desc, col("snip_start"))
    m.as("a").join(m.as("b"),
        col("a.qid") === col("b.qid") &&
          col("a.doc_id") === col("b.doc_id") &&
          col("b.pos") >= col("a.pos") &&
          col("b.pos") < col("a.pos") + window)
      .groupBy(col("a.qid").as("qid"), col("a.doc_id").as("doc_id"),
        col("a.pos").as("snip_start"))
      .agg(count(lit(1)).as("n_hits"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
  }

  /** Typo-tolerant term lookup via a 1-deletion neighborhood index (the
    * SymSpell construction): every string's neighborhood is itself plus
    * each single-character deletion; two strings are within edit
    * distance 1 iff their neighborhoods intersect (equality shares the
    * identity key, an insertion/deletion shares the shorter string, a
    * substitution shares the both-sides deletion at the edited
    * position). Candidates are therefore an EQUI-join on deletion keys
    * — index size O(vocab × len), query cost ∝ matched keys, never the
    * brute vocab × queries levenshtein matrix — exact-verified with the
    * integer levenshtein DP, identical on any engine.
    *
    * Input: vocab (term), queries (qtok). Output: (qtok, term, dist<=1).
    */
  def fuzzyTermLookup(vocab: DataFrame, queries: DataFrame): DataFrame = {
    def dels(df: DataFrame, c: String) =
      df.select(col(c), explode(expr(
        s"""array_distinct(transform(sequence(0, length($c)),
           |  i -> CASE WHEN i = 0 THEN $c
           |    ELSE concat(substring($c, 1, i - 1), substring($c, i + 1))
           |    END))""".stripMargin)).as("key"))
    dels(vocab, "term").join(broadcast(dels(queries, "qtok")), "key")
      .select("qtok", "term").distinct()
      .withColumn("dist", expr("CAST(levenshtein(qtok, term) AS BIGINT)"))
      .where(col("dist") <= 1)
  }

  /** Deterministic md5-derived token embedding (r15): dim `d` of token
    * `t` is `(md5_15hex(t || ":" || d) % 2001 − 1000) / 1000` ∈ [−1, 1]
    * — the multimodal-stub discipline: any engine recomputes the vector
    * from the token string (DuckDB: `('0x' || substring(md5(tok || ':d'),
    * 1, 15))::BIGINT`), so late-interaction scores are exactly
    * oracle-able. Adds `vec: array<double>` to `toks`. In production the
    * column would come from a real token-embedding model; everything
    * downstream ([[maxSimRerank]]) is representation-agnostic.
    */
  def tokenVectors(toks: DataFrame, tokCol: String, dim: Int): DataFrame = {
    graft.functions.GraftFunctions.register(toks.sparkSession)
    toks.withColumn("vec", array((0 until dim).map { d =>
      (((element_at(call_function("graft_md5_tokens",
        concat(col(tokCol), lit(s":$d"))), 1) % 2001L) - 1000L)
        .cast("double") / 1000.0)
    }: _*))
  }

  /** ColBERT-style LATE-INTERACTION rerank (r15): score(q, d) =
    * Σ_{t ∈ q tokens} max_{s ∈ d tokens} dot(v_t, v_s) over per-token
    * embeddings — the current-generation retrieval shape, applied where
    * it is deployed in practice: RERANKING a bounded candidate list
    * (BM25 or ANN first stage), never corpus×query token cartesians.
    *
    * Exactness discipline: the per-pair dots rank raw (graft_dot ≡
    * list_dot_product fold), the max is comparison-only, and the sum
    * over query tokens folds in order-free BIGINT fixed point
    * (`floor(max·10⁶)`) so cross-engine summation order cannot flip a
    * rank; ties break on doc_id.
    *
    * Scale shape: the candidate×query-token frame is list-scale (|C|·|q|
    * rows) and BROADCAST; the corpus-sized doc-token side first
    * semi-joins to candidate docs and MATERIALIZES its vectors
    * (localCheckpoint — a derived array feeding a broadcast join is
    * otherwise rebuilt per joined row, the emb_ann_ivfpq lesson), then
    * one map-side join + two partial-agg groupBys. No shuffle touches
    * anything corpus-sized.
    *
    * Inputs: `candidates` (qid, doc_id); `qTok` (qid, tok, vec);
    * `dTok` (doc_id, tok, vec). Output: (qid, doc_id, rnk, maxsim_fp).
    */
  def maxSimRerank(candidates: DataFrame, qTok: DataFrame,
      dTok: DataFrame, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(candidates.sparkSession)
    val qv = qTok.select(col("qid"), col("tok").as("q_tok"),
      col("vec").as("qvec"))
    val cand = candidates.select("qid", "doc_id")
    val candDocs = cand.select("doc_id").distinct()
    // materialize candidate docs' token vectors ONCE (bounded: |C| docs)
    val dMat = dTok.select(col("doc_id"), col("vec").as("dvec"))
      .join(broadcast(candDocs), "doc_id")
      .localCheckpoint(true)
    val dots = dMat.join(broadcast(cand.join(qv, "qid")), "doc_id")
      .withColumn("dot",
        call_function("graft_dot", col("qvec"), col("dvec")))
    val mx = dots.groupBy("qid", "doc_id", "q_tok").agg(max("dot").as("mx"))
    val scores = mx.groupBy("qid", "doc_id")
      .agg(sum(floor(col("mx") * 1000000.0).cast("long")).as("maxsim_fp"))
    val w = Window.partitionBy("qid")
      .orderBy(col("maxsim_fp").desc, col("doc_id"))
    scores.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("qid"), col("doc_id"), col("rnk"), col("maxsim_fp"))
  }
}
