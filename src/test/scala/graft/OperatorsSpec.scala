package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.gates.Fixtures
import graft.operators.{Dedup, Multimodal, Similarity, TextStats}

/** North-star operator suites: dedup (minhash/simhash), similarity,
  * multimodal plumbing, text stats.
  */
class OperatorsSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.obs.GraftSession.local(4)

  lazy val docs = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "the quick brown fox jumps over the lazy cat again and again today"),
      (2L, "completely different content about spark query engines and shuffles"),
      (3L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
  }

  test("simhash: identical docs collide, near docs are close, far docs are far") {
    val sig = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(0L) == sig(3L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sig(0L), sig(1L)) <= 12)
    assert(hamming(sig(0L), sig(2L)) > 12)
    val pairs = Dedup.simhashNearDuplicates(docs, maxHamming = 12)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)) && pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 2L)))
  }

  test("simhash banding recall is structurally total at maxHamming<=3 (random corpora)") {
    // the dedup_simhash oracle is a brute-force all-pairs hamming join;
    // equality with the banded plan rests on the pigeonhole argument
    // (<=3 differing bits cannot touch all 4 bands). Data-independent in
    // theory — this pins it empirically against band-layout edits.
    import spark.implicits._
    for (seed <- Seq(3, 11)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Array.tabulate(50)(i => s"w$i")
      val base = (0L until 40L).map(i =>
        (i, Seq.fill(30)(vocab(rnd.nextInt(vocab.length))).mkString(" ")))
      // variants: flip one word of the first 10 docs (tiny hamming shift)
      val vars = base.take(10).map { case (i, t) =>
        (i + 1000, (vocab(rnd.nextInt(vocab.length)) +: t.split(" ").drop(1).toSeq)
          .mkString(" "))
      }
      val corpus = (base ++ vars).toDF("doc_id", "text")
      val sig = Dedup.simhash(corpus).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exact = (for {
        a <- sig.keys; b <- sig.keys if a < b
        if java.lang.Long.bitCount(sig(a) ^ sig(b)) <= 3
      } yield (a, b)).toSet
      val banded = Dedup.simhashNearDuplicates(corpus, maxHamming = 3)
        .select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded == exact,
        s"seed=$seed: missed ${(exact -- banded).size}, gained ${(banded -- exact).size}")
    }
  }

  test("minhash near-dups find injected and exact duplicates") {
    val pairs = Dedup.nearDuplicates(docs, n = 2, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 3L)) == 1.0)
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L)) > 0.5)
    assert(!pairs.keySet.exists { case (a, b) => b == 2L || a == 2L })
  }

  test("profileNumeric: nulls counted but excluded from distinct/min/max") {
    import spark.implicits._
    val d = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, null), (2.0, null), (1.0, 5.0)).toDF("a", "b")
    val got = graft.operators.Pipeline.profileNumeric(d, Seq("a", "b"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got("a") == ((0L, 2L, 1.0, 2.0)))
    assert(got("b") == ((2L, 1L, 5.0, 5.0)))
  }

  test("chunkDocuments: stride windows, short tail kept, zero shuffle") {
    import spark.implicits._
    val d = Seq((7L, "a b c d e")).toDF("doc_id", "text")
    val got = graft.operators.Pipeline.chunkDocuments(d, width = 3, stride = 2)
      .orderBy("chunk_idx")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(got.toSeq == Seq((0, 0L, 3L, "a b c"), (1, 2L, 3L, "c d e"),
      (2, 4L, 1L, "e")))
    val plan = graft.operators.Pipeline.chunkDocuments(d, 3, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("incremental dedup flags batch docs near the corpus, passes unique ones") {
    import spark.implicits._
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again today"),
      (101L, "totally novel words nowhere else present in any corpus document"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalNearDuplicates(docs, batch, n = 2,
        threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // 100 duplicates doc 0 exactly (and doc 3, the one-word variant);
    // the novel doc surfaces no pair at all
    assert(got((100L, 0L)) == 1.0)
    assert(got.contains((100L, 3L)) && got((100L, 3L)) > 0.5)
    assert(!got.keySet.exists(_._1 == 101L))
    assert(!got.keySet.exists { case (b, _) => b != 100L })
  }

  test("connectedComponents collapses transitive duplicate chains") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3), isolated pair 10-11, star 20-{21,22,23}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (20L, 22L), (20L, 23L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
    // representative choice is the min id even when pairs arrive reversed
    val rev = Seq((5L, 9L), (9L, 7L), (7L, 6L)).toDF("doc_a", "doc_b")
    val got2 = Dedup.connectedComponents(rev).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2.values.toSet == Set(5L) && got2.keySet == Set(5L, 6L, 7L, 9L))
  }

  test("LSH banding recall is total on EVERY gate corpus (pins dedup_minhash oracle)") {
    // the dedup_minhash/dedup_clusters oracles are exact >= 0.3 Jaccard
    // pair sets, valid only while banding misses NO true pair on the
    // (deterministic) gate corpora. The gate can run at any SF dir the
    // driver chooses, so recall is cross-checked against an exact
    // all-true-pairs run at EVERY testdata dir present — not just one.
    // The exact side uses an inverted shingle index (pairs sharing >= 1
    // shingle; any pair with Jaccard >= 0.3 shares shingles by
    // definition), never an O(n^2) array cross join, so sf0.1's 5k docs
    // stay test-budget cheap.
    import spark.implicits._
    val dirs = Seq("sf0.001", "sf0.01", "sf0.1")
      .map(sf => s"/root/testdata/$sf/documents.parquet")
      .filter(p => new java.io.File(p).exists())
    assume(dirs.nonEmpty)
    for (path <- dirs) {
      // the SAME injected-variant recipe the gate queries use — via the
      // shared helper so the pinned recall can't diverge from production
      val corpus = Fixtures.withInjectedVariants(
        spark.read.parquet(path).select("doc_id", "text"))
      val sh = Dedup.shingles(corpus).localCheckpoint(true)
      val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n"))
      val inv = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
      val exact = inv.toDF("id_a", "s")
        .join(inv.toDF("id_b", "s"), Seq("s"))
        .where(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
        .join(sizes.toDF("id_a", "na"), "id_a")
        .join(sizes.toDF("id_b", "nb"), "id_b")
        .where(col("shared") / (col("na") + col("nb") - col("shared")) >= 0.3)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val banded = Dedup.nearDuplicates(corpus, threshold = 0.3)
        .select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded == exact,
        s"$path: LSH missed ${(exact -- banded).size} true pairs / " +
          s"gained ${(banded -- exact).size}")
    }
  }

  test("incremental batch-vs-corpus LSH recall is total on EVERY gate corpus (pins dedup_incremental oracle)") {
    // dedup_incremental's oracle is the exact batch x corpus >= 0.3
    // Jaccard pair set, but its banding recall (16 bands x 4 rows) is
    // probabilistic — cross-check the BATCH shape (including the
    // reversed-text docs) against an exact inverted-index run at every
    // testdata dir, exactly like the corpus-self-join recall test above.
    import spark.implicits._
    val dirs = Seq("sf0.001", "sf0.01", "sf0.1")
      .map(sf => s"/root/testdata/$sf/documents.parquet")
      .filter(p => new java.io.File(p).exists())
    assume(dirs.nonEmpty)
    for (path <- dirs) {
      val docs = spark.read.parquet(path).select("doc_id", "text")
      val batch = Fixtures.incrementalGateBatch(docs)
      val shC = Dedup.shingles(docs).localCheckpoint(true)
      val shB = Dedup.shingles(batch).localCheckpoint(true)
      val sizesC = shC.select(col("doc_id").as("cid"), size(col("shingles")).as("nc"))
      val sizesB = shB.select(col("doc_id").as("bid"), size(col("shingles")).as("nb"))
      val exact = shB.select(col("doc_id").as("bid"), explode(col("shingles")).as("s"))
        .join(shC.select(col("doc_id").as("cid"), explode(col("shingles")).as("s")),
          Seq("s"))
        .groupBy("bid", "cid").agg(count(lit(1)).as("shared"))
        .join(sizesB, "bid").join(sizesC, "cid")
        .where(col("shared") / (col("nb") + col("nc") - col("shared")) >= 0.3)
        .select("bid", "cid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val banded = Dedup.incrementalNearDuplicates(docs, batch, threshold = 0.3)
        .select("doc_id", "dup_of")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded == exact,
        s"$path: incremental LSH missed ${(exact -- banded).size} true pairs " +
          s"/ gained ${(banded -- exact).size}")
    }
  }

  test("banded embedding LSH recall is total on EVERY gate corpus (pins emb_near_pairs oracle)") {
    // emb_near_pairs/dedup_embedding keep their exact all-pairs oracles
    // while the Spark side generates candidates via the banded hyperplane
    // equi-join — valid only while banding misses NO >0.9 pair on the
    // (deterministic: fixed corpus × fixed planes) gate corpora. Cross-
    // check against the exact O(n²) baseline at every testdata dir.
    import spark.implicits._
    val dirs = Seq("sf0.001", "sf0.01", "sf0.1")
      .map(sf => s"/root/testdata/$sf/embeddings.parquet")
      .filter(p => new java.io.File(p).exists())
    assume(dirs.nonEmpty)
    for (path <- dirs) {
      val e = spark.read.parquet(path)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val all = Fixtures.withInjectedEmbVariants(e)
      def pairSet(df: org.apache.spark.sql.DataFrame) = df
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = pairSet(Similarity.cosineNearPairs(all, 0.9))
      val banded = pairSet(Similarity.bandedNearPairs(all, 0.9, dim = 64))
      assert(banded == exact,
        s"$path: banded LSH missed ${(exact -- banded).size} true pairs / " +
          s"gained ${(banded -- exact).size}")
    }
  }

  test("semDedup collapses exactly the same-cell injected variants on EVERY gate corpus (pins emb_semdedup oracle)") {
    // On the gate recipe the only >=tau pairs are variant↔original
    // (cosine >= 0.9987; organic max cross-sim ~0.51), so SemDeDup's dup
    // set must be exactly the injected variants that share a coarse cell
    // with their original — a variant whose +0.05 shift flips a close
    // centroid argmax is a genuine cluster-boundary miss (the paper's
    // known recall gap) and must surface as a keeper, never as a dup of
    // anything else. Deterministic corpus × deterministic stride
    // centroids ⇒ a green run is stable, not a coin flip. This is the
    // semantic pin behind the emb_semdedup gate query.
    val dirs = Seq("sf0.001", "sf0.01", "sf0.1")
      .map(sf => s"/root/testdata/$sf/embeddings.parquet")
      .filter(p => new java.io.File(p).exists())
    assume(dirs.nonEmpty)
    for (path <- dirs) {
      val e = spark.read.parquet(path)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val all = Fixtures.withInjectedEmbVariants(e)
      val cents = Similarity.strideCentroids(e, 50)
      val out = Similarity.semDedup(all, cents, 0.95)
        .select("vec_id", "cell", "dup_of").collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toMap
      val variants = out.filter(_._1 >= 100000)
      assert(variants.size == 20, s"$path: expected 20 injected variants")
      var sameCell = 0
      variants.foreach { case (id, (cell, dupOf)) =>
        if (cell == out(id - 100000)._1) {
          sameCell += 1
          assert(dupOf.contains(id - 100000),
            s"$path: same-cell variant $id should collapse onto ${id - 100000}, got $dupOf")
        } else
          assert(dupOf.isEmpty,
            s"$path: cross-cell variant $id wrongly marked dup of $dupOf")
      }
      // the recipe would be vacuous if boundary flips swallowed the dup set
      assert(sameCell >= 15, s"$path: only $sameCell/20 variants share cells")
      val organicDups = out.filter { case (id, (_, d)) => id < 100000 && d.isDefined }
      assert(organicDups.isEmpty,
        s"$path: organic vectors wrongly marked dup: ${organicDups.take(5)}")
      // incremental ≡ full on the batch rows: checking the variants
      // against the pre-assigned BASE cell index must reproduce exactly
      // what the full corpus run decided for them (organics never pair
      // with each other at tau, so the base index is the only dup source)
      val batch = Fixtures.withInjectedEmbVariants(e)
        .where(col("vec_id") >= 100000)
      val idx = Similarity.assignCells(e, cents).localCheckpoint(true)
      val inc = Similarity.semDedupIncremental(idx, batch, cents, 0.95)
        .select("vec_id", "cell", "dup_of").collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toMap
      assert(inc == variants,
        s"$path: incremental SemDeDup diverges from the full run")
    }
  }

  test("connectedComponents == driver union-find on random graphs") {
    import spark.implicits._
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val edges = Seq.fill(80) {
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        if (a < b) (a, b) else (b, a)
      }.filter { case (a, b) => a != b }.distinct
      // driver-side union-find oracle
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      val want = nodes.map(v => v -> find(v.toInt).toLong).toMap
      val got = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed=$seed")
    }
  }

  test("quantizeInt8: exact on a known vector, safe on the zero vector") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.27f, -2.54f, 0.0f)),   // scale = 2.54/127 = 0.02
      (2L, Array(0.0f, 0.0f, 0.0f)))      // all-zero: no Inf, no ANSI error
      .toDF("vec_id", "embedding")
    val got = graft.operators.Similarity.quantizeInt8(vecs)
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getDouble(3)))
    val (id1, scale1, sumQ1, err1) = got(0)
    assert(id1 == 1L && math.abs(scale1 - 0.02) < 1e-9)
    // q = [64, -127, 0] (1.27/0.02 = 63.5 rounds half-up to 64)
    assert(sumQ1 == 64L - 127L)
    assert(err1 <= scale1 / 2 + 1e-12)
    assert(got(1) == ((2L, 0.0, 0L, 0.0)))
  }

  test("sampleMixture: per-source budgets reweight, zero budget drops a source") {
    import spark.implicits._
    val docs = (0 until 30).map { i =>
      (i.toLong, s"src${i % 3}", "tok " * 10 + "end")
    }.toDF("doc_id", "source", "text")
    val out = graft.operators.Pipeline.sampleMixture(docs,
        Map("src0" -> 60L, "src1" -> 0L), default = 22L)
      .groupBy("source").agg(count(lit(1)).as("n"), sum("n_toks").as("toks"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(!out.contains("src1"))                 // zero budget: dropped
    assert(out("src0") == ((5L, 55L)))            // 5 docs of 11 toks fit 60
    assert(out("src2") == ((2L, 22L)))            // default budget caps at 22
  }

  test("multimodal: decode/feature/frame plumbing is deterministic and shaped") {
    import spark.implicits._
    val d = docs.withColumn("n_chars", length(col("text")).cast("long"))
    val media = Multimodal.mediaFromDocuments(d)
    val dec = Multimodal.decodeImages(media, partitions = 2).collect()
    assert(dec.length == 4 && dec.forall(i => i.meanLuma >= 0 && i.meanLuma <= 1))
    // determinism: same input -> same fake decode
    val dec2 = Multimodal.decodeImages(media).collect()
    assert(dec.sortBy(_.media_id).toSeq == dec2.sortBy(_.media_id).toSeq)
    // identical content (docs 0 and 3) -> identical features
    val feats = Multimodal.extractFeatures(media, dim = 16).collect()
      .map(f => f.media_id -> f.feature.toSeq).toMap
    assert(feats(0L) == feats(3L) && feats(0L).size == 16)
    assert(feats(0L) != feats(2L))
    // frame sampling: only videos (doc_id % 3 == 2), bounded count
    val frames = Multimodal.sampleFrames(media, everyMs = 100).collect()
    assert(frames.nonEmpty && frames.forall(_.media_id % 3 == 2))
    val resized = Multimodal.resize(media, 64, 64).collect()
    assert(resized.forall(r => r.meta.width == 64 && r.meta.height == 64))
  }

  test("multimodal: real ImageIO decode — hand-computed pixels, magic-byte dispatch") {
    import spark.implicits._
    import Multimodal.{MediaMeta, MediaRow}
    def encode(fmt: String, pixels: Seq[Seq[Int]]): Array[Byte] = {
      val h = pixels.size; val w = pixels.head.size
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixels(y)(x))
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, buf)
      buf.toByteArray
    }
    // 2x2: red, green / blue, white. Rec.601 weights sum to 1, so the luma
    // total is 255*(0.299+0.587+0.114) + 255 = 510 -> meanLuma = 510/4/255
    // = 0.5 exactly, hand-computable without a float table.
    val px = Seq(Seq(0xff0000, 0x00ff00), Seq(0x0000ff, 0xffffff))
    val png = encode("png", px)
    val bmp = encode("bmp", px)
    assert(Multimodal.imageFormat(png).contains("png"))
    assert(Multimodal.imageFormat(bmp).contains("bmp"))
    assert(Multimodal.imageFormat("plain text".getBytes("UTF-8")).isEmpty)
    val meta = MediaMeta("image", 0, 0, 0, 0L, "none")
    val media = Seq(MediaRow(1L, png, meta), MediaRow(2L, bmp, meta)).toDS()
    val dec = Multimodal.decodeImages(media).collect()
      .map(i => i.media_id -> i).toMap
    for (id <- Seq(1L, 2L)) {
      assert(dec(id).width == 2 && dec(id).height == 2 && dec(id).channels == 3)
      assert(math.abs(dec(id).meanLuma - 0.5) < 1e-12)
    }
    // resize genuinely rescales + re-encodes decodable content...
    val resized = Multimodal.resize(media, 4, 4).collect()
      .map(r => r.media_id -> r).toMap
    assert(!java.util.Arrays.equals(resized(1L).content, png))
    assert(resized(1L).meta.codec == "png")
    val redec = Multimodal.decodeImages(
      Seq(resized(1L)).toDS()).collect().head
    assert(redec.width == 4 && redec.height == 4)
    // ...uniform-color input stays exact through bilinear upscale
    val flat = encode("png", Seq(Seq(0x808080, 0x808080), Seq(0x808080, 0x808080)))
    val flatUp = Multimodal.resize(
      Seq(MediaRow(3L, flat, meta)).toDS(), 3, 3).collect().head
    val flatDec = Multimodal.decodeImages(Seq(flatUp).toDS()).collect().head
    assert(math.abs(flatDec.meanLuma - 128.0 / 255) < 1e-12)
    // ...while non-image bytes keep their content (stub/gate path intact)
    val text = MediaRow(4L, "not an image".getBytes("UTF-8"), meta)
    val textOut = Multimodal.resize(Seq(text).toDS(), 4, 4).collect().head
    assert(java.util.Arrays.equals(textOut.content, text.content))
    assert(textOut.meta.codec == "none")
    // real features: uniform 0x808080 image → every luma cell is exactly
    // 128, so each feature = 128/127.5 − 1; text bytes keep the md5 stub
    val featIn = Seq(MediaRow(5L, flat, meta), text).toDS()
    val feats = Multimodal.extractFeatures(featIn, dim = 9).collect()
      .map(f => f.media_id -> f.feature).toMap
    val expected = (128.0 / 127.5 - 1.0).toFloat
    assert(feats(5L).length == 9 && feats(5L).forall(_ == expected))
    assert(feats(4L).length == 9 && feats(4L).exists(_ != expected))
  }

  test("similarity: ann via LSH buckets ranks identical vectors first") {
    import spark.implicits._
    val base = (0 until 30).map { i =>
      val rnd = new scala.util.Random(i)
      (i.toLong, Array.fill(8)(rnd.nextDouble() * 2 - 1))
    }
    // vec 100 duplicates vec 0
    val all = (base :+ (100L, base.head._2)).toDF("vec_id", "emb")
    val ann = Similarity.annTopK(all, dim = 8, k = 3, planes = 4).collect()
    val top0 = ann.filter(r => r.getLong(0) == 0L && r.getLong(2) == 1L)
    assert(top0.length == 1 && top0.head.getLong(1) == 100L)
    assert(math.abs(top0.head.getDouble(3) - 1.0) < 1e-12)
  }

  test("similarity: ivf probes nearest cells and reranks exactly") {
    import spark.implicits._
    val base = (0 until 40).map { i =>
      val rnd = new scala.util.Random(i)
      (i.toLong, Array.fill(8)(rnd.nextDouble() * 2 - 1))
    }
    // vec 100 duplicates vec 3 -> must be its rank-1 neighbor with sim 1
    val all = (base :+ (100L, base(3)._2)).toDF("vec_id", "emb")
    val ivf = Similarity.ivfTopK(all, k = 3, stride = 10, nprobe = 2).collect()
    // every query emits at most k unique-ranked candidates, ranks 1..k
    val byQ = ivf.groupBy(_.getLong(0))
    assert(byQ.values.forall(rs =>
      rs.map(_.getLong(2)).sorted.sameElements(1L to rs.length)))
    // no duplicate (qid, cid): each corpus vector lives in exactly one cell
    assert(ivf.map(r => (r.getLong(0), r.getLong(1))).distinct.length == ivf.length)
    val top3 = ivf.filter(r => r.getLong(0) == 3L && r.getLong(2) == 1L)
    assert(top3.length == 1 && top3.head.getLong(1) == 100L)
    assert(math.abs(top3.head.getDouble(3) - 1.0) < 1e-12)
    // rerank is exact: reported sims match brute-force cosine for the pair
    val vecs = (base :+ (100L, base(3)._2)).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    ivf.foreach { r =>
      assert(math.abs(r.getDouble(3) -
        cos(vecs(r.getLong(0)), vecs(r.getLong(1)))) < 1e-9)
    }
  }

  test("asof join attaches latest right value at or before left t") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      ("k1", ts("2024-01-01 00:00:05"), "a"),
      ("k1", ts("2024-01-01 00:00:10"), "b"),
      ("k1", ts("2024-01-01 00:00:20"), "c"),
      ("k2", ts("2024-01-01 00:00:10"), "d")).toDF("k", "t", "tag")
    val right = Seq(
      ("k1", ts("2024-01-01 00:00:10"), 1.0),   // same-t: visible to "b"
      ("k1", ts("2024-01-01 00:00:15"), 2.0)).toDF("k", "t", "v")
    val got = graft.operators.AsOf.join(left, right, "k", "t", "v", "asof_v")
      .orderBy("k", "t").collect()
      .map(r => (r.getString(2), Option(r.get(3)))).toSeq
    assert(got == Seq(
      ("a", None),          // nothing at or before :05
      ("b", Some(1.0)),     // same-timestamp right row counts (<=)
      ("c", Some(2.0)),     // latest preceding
      ("d", None)))         // other key unaffected
  }

  test("graph snapshot stats and edge explosion") {
    import spark.implicits._
    val g1 = """{"v": [{"i": "a"}, {"i": "b"}, {"i": "c"}], "e": [{"f": "a", "t": "b"}, {"f": "b", "t": "c"}]}"""
    val g2 = """{"v": [{"i": "x"}], "e": []}"""
    val df = Seq((1L, g1), (2L, g2)).toDF("id", "v_json")
    val stats = graft.operators.Graphs.snapshotStats(df).collect()
      .map(r => r.getLong(0) -> (r.getInt(2), r.getInt(3))).toMap
    assert(stats(1L) == (3, 2) && stats(2L) == (1, 0))
    val es = graft.operators.Graphs.edges(df).select("id", "edge_from", "edge_to")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(es == Set((1L, "a", "b"), (1L, "b", "c")))
  }

  test("typed Aggregator downsampler bundle == declarative column path") {
    import spark.implicits._
    import graft.operators.{Downsample, DownsampleAggregator => DA}
    val rnd = new scala.util.Random(7)
    val base = 1700000000L
    val pts = (0 until 500).map { i =>
      (s"s${i % 3}", base + rnd.nextInt(600), rnd.nextDouble() * 100 - 50)
    }
    // typed path: group by (stream, minute bucket), one TypedColumn
    val typed = pts.toDS()
      .groupByKey { case (sid, t, _) => (sid, Math.floorDiv(t, 60L) * 60L) }
      .mapValues { case (_, t, v) => DA.In(t, v) }
      .agg(DA.column)
      .map { case ((sid, be), o) => (sid, be, o.c, o.s, o.q, o.l, o.u, o.m,
        o.d, o.t_first, o.t_last, o.t_mean) }
      .collect().map(t => (t._1, t._2) -> t).toMap
    // declarative path
    val decl = Downsample.toGranularity(
        pts.toDF("stream_id", "te", "v")
          .select(col("stream_id"), timestamp_seconds(col("te")).as("t"), col("v")),
        graft.model.Granularity.Minutes)
      .select(col("stream_id"), unix_timestamp(col("t")).as("be"),
        col("c"), col("s"), col("q"), col("l"), col("u"), col("m"), col("d"),
        unix_timestamp(col("t_first")), unix_timestamp(col("t_last")),
        unix_timestamp(col("t_mean")))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r)
    assert(decl.nonEmpty && decl.length == typed.size)
    decl.foreach { case (k, r) =>
      val t = typed(k)
      assert(t._3 == r.getLong(2) && t._6 == r.getDouble(5) &&
        t._7 == r.getDouble(6), s"c/l/u mismatch at $k")
      assert(t._10 == r.getLong(9) && t._11 == r.getLong(10) &&
        t._12 == r.getLong(11), s"time downsamplers mismatch at $k")
      // float sums: partial-agg order differs between the two paths
      Seq(t._4 -> r.getDouble(3), t._5 -> r.getDouble(4),
        t._8 -> r.getDouble(7), t._9 -> r.getDouble(8)).foreach {
        case (a, b) => assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)))
      }
    }
    // merge-associativity: folding two disjoint halves == folding the whole
    val (h1, h2) = pts.map { case (_, t, v) => DA.In(t, v) }.splitAt(250)
    val buf1 = h1.foldLeft(DA.aggregator.zero)(DA.aggregator.reduce)
    val buf2 = h2.foldLeft(DA.aggregator.zero)(DA.aggregator.reduce)
    val whole = pts.map { case (_, t, v) => DA.In(t, v) }
      .foldLeft(DA.aggregator.zero)(DA.aggregator.reduce)
    val merged = DA.aggregator.finish(DA.aggregator.merge(buf1, buf2))
    val direct = DA.aggregator.finish(whole)
    // counts/extrema/times associate exactly; float sums only up to
    // summation order (same tolerance class as the distributed paths)
    assert((merged.c, merged.l, merged.u, merged.t_first, merged.t_last,
      merged.t_mean) == (direct.c, direct.l, direct.u, direct.t_first,
      direct.t_last, direct.t_mean))
    Seq(merged.s -> direct.s, merged.q -> direct.q,
      merged.m -> direct.m, merged.d -> direct.d).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)))
    }
  }

  test("language id picks marker-matched language") {
    import spark.implicits._
    val d = Seq(
      (1L, "the cat is on the mat and the dog is here"),
      (2L, "der hund ist gross und die katze ist klein"),
      (3L, "xyzzy plugh qwerty")).toDF("doc_id", "text")
    val got = TextStats.languageId(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en" && got(2L) == "de" && got(3L) == "und")
  }

  test("kmeans-trained IVF matches exact top-k on clustered vectors") {
    import spark.implicits._
    // deterministic clustered corpus: 4 well-separated cluster directions
    // in 16 dims, hash-jittered members — no RNG, reproducible
    val dim = 16
    def vec(id: Long): Seq[Double] = {
      val c = (id % 4).toInt
      (0 until dim).map { j =>
        val base = if (j / 4 == c) 1.0 else 0.05
        val jitter = ((id * 31 + j * 17) % 13).toDouble / 100.0
        base + jitter
      }
    }
    val corpus = (0L until 120L).map(i => (i, vec(i))).toDF("vec_id", "emb")
    val queries = corpus.select(col("vec_id").as("qid"), col("emb").as("qemb"))
    val exact = Similarity.cosineTopK(corpus, queries, 3)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val cents = Similarity.kmeansCentroids(corpus, stride = 30, iters = 3)
    assert(cents.length == 4)
    // training must not lose cells on this corpus, and recenters must move
    val init = Similarity.strideCentroids(corpus, 30).map(_._2)
    assert(cents.map(_._2).toSeq != init.toSeq)

    val approx = Similarity.ivfTopKTrained(corpus, k = 3, stride = 30,
        nprobe = 2, iters = 3)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall too low: $recall")
  }

  test("pipeline: hash split is stable, shuffle-free, and ~90/5/5") {
    import spark.implicits._
    import graft.operators.Pipeline
    val base = (0L until 1000L).map(i => (i, i * 7)).toDF("doc_id", "x")
    val split = Pipeline.hashSplit(base)
    // zero shuffle: pure projection
    assert(!split.queryExecution.executedPlan.toString.contains("Exchange"))
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("train") > 850 && counts("train") < 950)
    assert(counts("val") > 20 && counts("test") > 20)
    // growing the corpus never reassigns existing rows
    val grown = Pipeline.hashSplit(
      (0L until 2000L).map(i => (i, i * 7)).toDF("doc_id", "x"))
    val before = split.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    grown.where(col("doc_id") < 1000).collect().foreach { r =>
      assert(before(r.getLong(0)) == r.getString(2))
    }
  }

  test("pipeline: per-source cap keeps top-n with rank pushdown") {
    import spark.implicits._
    import graft.operators.Pipeline
    val d = (0L until 100L).map(i => (i, s"src${i % 4}", 1000L - i))
      .toDF("doc_id", "source", "n_chars")
    val capped = Pipeline.capPerSource(d, 3)
    // row_number <= n compiles to WindowGroupLimit (per-partition top-n
    // heap, not a full per-source sort)
    assert(capped.queryExecution.executedPlan.toString
      .contains("WindowGroupLimit"))
    val rows = capped.select("source", "doc_id").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(rows.length == 12)
    // longest docs are the lowest ids here (n_chars = 1000 - i)
    assert(rows.filter(_._1 == "src0").map(_._2).sorted.toSeq == Seq(0L, 4L, 8L))
  }

  test("pipeline: redaction replaces whole words only") {
    import spark.implicits._
    import graft.operators.Pipeline
    val d = Seq((1L, "a customer and supplierx met the supplier"))
      .toDF("doc_id", "text")
    val got = Pipeline.redact(d, "customer|supplier")
      .select("redacted").head().getString(0)
    assert(got == "a <ENT> and supplierx met the <ENT>")
  }

  test("pipeline: interleave order is independent of input layout") {
    import spark.implicits._
    import graft.operators.Pipeline
    val d = (0L until 500L).map(i => (i, s"src${i % 5}")).toDF("doc_id", "source")
    val a = Pipeline.interleave(d).select("doc_id").collect().map(_.getLong(0))
    val b = Pipeline.interleave(
        d.orderBy(col("doc_id").desc).repartition(7))
      .select("doc_id").collect().map(_.getLong(0))
    assert(a.toSeq == b.toSeq)
    assert(a.toSeq != a.sorted.toSeq) // it actually shuffles
  }

  test("multimodal: real WAV decode — hand-built PCM parses to exact stats") {
    import spark.implicits._
    import graft.operators.Multimodal
    import graft.operators.Multimodal.{MediaMeta, MediaRow}
    // 16-bit mono 8000 Hz, 8 frames: four at +16384 (0.5 full scale),
    // four at 0 — every downstream number is hand-computable
    def wav(samples: Seq[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val b = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      b.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000)
        .putShort(2).putShort(16)
      b.put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(b.putShort)
      b.array()
    }
    val bytes = wav(Seq[Short](16384, 16384, 16384, 16384, 0, 0, 0, 0))
    val meta = MediaMeta("audio", 0, 0, 8000, 1L, "pcm")
    val rows = Seq(MediaRow(1L, bytes, meta),
      MediaRow(2L, "not audio at all".getBytes("UTF-8"), meta)).toDS()
    val dec = Multimodal.decodeAudio(rows).collect()
      .map(d => d.media_id -> d).toMap
    assert(dec(1L).channels == 1 && dec(1L).sampleRate == 8000 &&
      dec(1L).n_frames == 8 && dec(1L).duration_ms == 1L)
    assert(math.abs(dec(1L).rms - math.sqrt(0.125)) < 1e-6)
    assert(dec(2L).n_frames == 0) // undecodable → md5 stub stats
    // features: dim=2 windows → RMS [0.5, 0.0] mapped to [0.0, -1.0]
    val feat = Multimodal.extractFeatures(rows, dim = 2).collect()
      .map(f => f.media_id -> f.feature).toMap
    assert(math.abs(feat(1L)(0) - 0.0f) < 1e-6 && feat(1L)(1) == -1.0f)
    assert(feat(2L).length == 2) // stub path still yields the fixed width
  }

  test("hll rollup: folded sketches ≡ direct sketches, estimates near exact") {
    import graft.operators.HllRollup
    val ev = Fixtures.events(spark, "/root/testdata/sf0.001")
      .select(col("event_type"), col("ts"), col("user_id"))
    val hours = HllRollup.sketchBuckets(ev, "user_id", "ts", 3600L,
      Seq("event_type"))
    // ladder property: folding hour sketches to days estimates IDENTICALLY
    // to sketching days directly — union is logically lossless (coupon-set
    // union / register-wise max), so coarse levels never need the raw ids
    // again. (Serialized bytes can differ: sparse-mode coupon order is
    // insertion-order-dependent — compare estimates, not bytes.)
    def est(df: org.apache.spark.sql.DataFrame) = HllRollup.estimate(df)
      .collect().map(r => (r.getString(0), r.getTimestamp(1)) -> r.getLong(2))
      .toMap
    val folded = est(HllRollup.foldSketches(hours, 86400L, Seq("event_type")))
    val direct = est(HllRollup.sketchBuckets(ev, "user_id", "ts", 86400L,
      Seq("event_type")))
    assert(folded == direct)
    // accuracy: estimates within 5% of exact distinct per (type, day)
    val exact = ev.groupBy(col("event_type"),
        timestamp_seconds(floor(unix_timestamp(col("ts")) / 86400L) * 86400L)
          .as("t"))
      .agg(countDistinct("user_id").as("n"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1)) -> r.getLong(2))
      .toMap
    assert(folded.keySet == exact.keySet && folded.nonEmpty)
    for ((k, n) <- exact)
      assert(math.abs(folded(k) - n) <= math.max(1L, (n * 0.05).toLong),
        s"$k: est ${folded(k)} vs exact $n")
  }

  test("layout: zorder key interleaves exactly and clusters both dims on disk") {
    import spark.implicits._
    import graft.operators.Layout
    // hand-check: a=0b10, b=0b01 → bit0 of b at pos 0, bit1 of a at pos 3
    val hand = Seq((2, 1)).toDF("a", "b")
      .select(Layout.zorderKey(col("a"), col("b"), 2)).head().getLong(0)
    assert(hand == 9L)
    // 32×32 grid: keys are a bijection, and dominance (both coords <=)
    // implies key order — the property that makes range pruning sound
    val grid = (for { x <- 0 until 32; y <- 0 until 32 } yield (x, y))
      .toDF("x", "y")
    val keys = grid.select(col("x"), col("y"),
        Layout.zorderKey(col("x"), col("y"), 5).as("k"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    assert(keys.values.toSet.size == 1024)
    assert(keys(( 0, 0)) == 0L && keys((31, 31)) == 1023L)
    for (((x, y), k) <- keys if x < 31 && y < 31)
      assert(keys((x + 1, y)) > k && keys((x, y + 1)) > k)
    // on-disk locality: 4 z-ordered files over the grid ≈ the 4 quadrants
    // — most files' (x, y) min/max boxes are quadrant-tight, which is
    // what lets parquet stats skip them for predicates on EITHER column
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    Layout.zorderWrite(grid, s"$dir/t", "x", "y", numFiles = 4, bits = 5)
    val spreads = spark.read.parquet(s"$dir/t")
      .groupBy(input_file_name().as("f"))
      .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
      .collect().map(r => (r.getInt(1), r.getInt(2)))
    assert(spreads.length == 4)
    // range-boundary sampling may let a file straddle two quadrants, but
    // at least half must be tight in BOTH dims (single-column sorting
    // would leave EVERY file with the full 31 spread in the other dim)
    assert(spreads.count { case (sx, sy) => sx <= 16 && sy <= 16 } >= 2)
  }

  test("pipeline: paragraph dedup keeps the global first copy only") {
    import spark.implicits._
    import graft.operators.Pipeline
    // 2-word windows: doc 1 = [a b][c d], doc 2 = [c d][a b][e f] (dupes of
    // doc 1 in later positions), doc 3 = [a b] alone (fully scrubbed), and
    // doc 4 repeats its own window [g h][g h] (within-doc dedup)
    val d = Seq((1L, "a b c d"), (2L, "c d a b e f"), (3L, "a b"),
      (4L, "g h g h")).toDF("doc_id", "text")
    val got = Pipeline.dedupParagraphs(d, words = 2).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == (("a b c d", 2L, 2L)))
    assert(got(2L) == (("e f", 3L, 1L)))
    assert(got(3L) == (("", 1L, 0L))) // fully-scrubbed doc still present
    assert(got(4L) == (("g h", 2L, 1L)))
  }

  test("duplicateSpans: stride-1 windows catch shifted passages, short docs stay") {
    import spark.implicits._
    import graft.operators.Dedup
    // k=3 windows. Doc 2 repeats doc 1's passage shifted by one token —
    // invisible to aligned 3-word paragraphs, caught stride-1: doc 1's
    // windows are [a b c][b c d], doc 2's are [z a b][a b c][b c d].
    // Doc 3 duplicates a window WITHIN itself ([m m m] twice via
    // m m m m m: windows [m m m][m m m][m m m] — all dup'd). Doc 4 is
    // shorter than k (zero windows, must still be present).
    val d = Seq((1L, "a b c d"), (2L, "z a b c d"), (3L, "m m m m m"),
      (4L, "x y")).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(d, k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((2L, 2L))) // both windows also occur in doc 2
    assert(got(2L) == ((3L, 2L))) // [z a b] is unique, other two dup'd
    assert(got(3L) == ((3L, 3L))) // within-doc repetition counts
    assert(got(4L) == ((0L, 0L))) // < k tokens: zero windows, not dropped
  }

  test("duplicateSpans: 120-bit production lane ≡ 60-bit oracle lane on the gate corpus") {
    // the oracle query keys on 60 bits (DuckDB-recomputable); production
    // defaults to 120 bits so corpus-scale span counts can't birthday-
    // collide. On the gate corpus both must agree exactly — this is the
    // pin that lets the oracle row certify the production lane too.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    def run(oracle: Boolean) =
      graft.operators.Dedup.duplicateSpans(docs, k = 8, oracleHash = oracle)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(run(oracle = false) == run(oracle = true))
  }

  test("pipeline: natural-paragraph dedup and boilerplate split on the caller's separator") {
    import spark.implicits._
    import graft.operators.Pipeline
    val d = Seq(
      (1L, "intro one\n\nshared para\n\nunique tail"),
      (2L, "shared para\n\nanother body"),
      (3L, "solo doc")).toDF("doc_id", "text")
    // dedup: doc 1 owns the corpus-first "shared para"; doc 2 loses it
    val dd = Pipeline.dedupParagraphsNatural(d).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(dd(1L) == (("intro one\n\nshared para\n\nunique tail", 3L, 3L)))
    assert(dd(2L) == (("another body", 2L, 1L)))
    assert(dd(3L) == (("solo doc", 1L, 1L)))
    // boilerplate: "shared para" occurs in 2 docs > maxDocs=1 — every copy
    // goes, including doc 1's
    val bp = Pipeline.removeBoilerplateNatural(d, maxDocs = 1).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(bp(1L) == (("intro one\n\nunique tail", 3L, 2L)))
    assert(bp(2L) == (("another body", 2L, 1L)))
    assert(bp(3L) == (("solo doc", 1L, 1L)))
  }

  test("multimodal: MJPEG-in-AVI frames extract and decode to real pixels") {
    import spark.implicits._
    import graft.operators.Multimodal
    import graft.operators.Multimodal.{MediaMeta, MediaRow}
    // hand-built 2-frame MJPEG AVI: RIFF('AVI ') { LIST('movi') {
    // '00dc' jpeg(red), '00dc' jpeg(blue) } } — the LIST nesting and the
    // word-aligned chunk walk are exactly what real muxers emit
    def jpeg(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, rgb)
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", buf)
      buf.toByteArray
    }
    def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val pad = payload.length & 1
      val b = java.nio.ByteBuffer.allocate(8 + payload.length + pad)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(id.getBytes("US-ASCII")).putInt(payload.length).put(payload)
      b.array()
    }
    val red = jpeg(0xff0000); val blue = jpeg(0x0000ff)
    val movi = "movi".getBytes("US-ASCII") ++
      chunk("00dc", red) ++ chunk("00dc", blue)
    val body = "AVI ".getBytes("US-ASCII") ++ chunk("LIST", movi)
    val avi = java.nio.ByteBuffer
      .allocate(8 + body.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(body.length).put(body).array()

    // parser: two frames, byte-identical to the muxed JPEGs, that decode
    // through ImageIO to the right colors (lossy: mean luma tolerance)
    val frames = Multimodal.parseAviFrames(avi).get
    assert(frames.length == 2)
    assert(frames(0).sameElements(red) && frames(1).sameElements(blue))
    def luma(bytes: Array[Byte]): Double = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      val rgb = img.getRGB(4, 4)
      0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
        0.114 * (rgb & 0xff)
    }
    assert(math.abs(luma(frames(0)) - 0.299 * 255) < 20) // red frame
    assert(math.abs(luma(frames(1)) - 0.114 * 255) < 20) // blue frame
    assert(Multimodal.parseAviFrames("not avi".getBytes("UTF-8")).isEmpty)

    // sampleFrames: real frames ride the Dataset path in container order;
    // non-AVI video bytes keep the stub slice lane
    val meta = MediaMeta("video", 0, 0, 0, 2000L, "mjpeg")
    val rows = Seq(MediaRow(1L, avi, meta),
      MediaRow(2L, "plain text stand-in".getBytes("UTF-8"), meta)).toDS()
    val sampled = Multimodal.sampleFrames(rows, everyMs = 1000L).collect()
      .groupBy(_.media_id)
    val real = sampled(1L).sortBy(_.frame_idx)
    assert(real.length == 2)
    assert(real(0).content.sameElements(red) &&
      real(1).content.sameElements(blue))
    assert(sampled(2L).length == 2 && sampled(2L).head.content.length <= 16)
  }

  test("pipeline: boilerplate removal drops every copy past the doc-freq cap") {
    import spark.implicits._
    import graft.operators.Pipeline
    // window [x y] appears in 3 distinct docs (> maxDocs=2) → all copies
    // go, including doc 1's duplicate pair; [u v] in 2 docs stays
    val d = Seq((1L, "x y x y u v"), (2L, "x y u v"), (3L, "x y"),
      (4L, "p q")).toDF("doc_id", "text")
    val got = Pipeline.removeBoilerplate(d, words = 2, maxDocs = 2).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == (("u v", 3L, 1L)))
    assert(got(2L) == (("u v", 2L, 1L)))
    assert(got(3L) == (("", 1L, 0L)))
    assert(got(4L) == (("p q", 1L, 1L)))
  }

  test("packSequences: packs are contiguous, ordered, and budget-aligned") {
    import spark.implicits._
    val d = (0L until 40L)
      .map(i => (i, ("w " * (i % 7 + 1).toInt).trim, if (i < 20) "a" else "b"))
      .toDF("doc_id", "text", "source")
    val packed = graft.operators.Pipeline.packSequences(d, budget = 10)
      .select("source", "doc_id", "n_toks", "cum_before", "pack_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // reference computation: per source in doc_id order
    packed.groupBy(_._1).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._2).foreach { case (_, _, n, cumBefore, packId) =>
        assert(cumBefore == cum && packId == cum / 10)
        cum += n
      }
    }
    // pack ids per source start at 0 and are dense enough to be contiguous
    assert(packed.filter(_._2 % 20 == 0).forall(_._5 == 0L))
  }

  test("contaminationScores: verbatim copy of a bench doc scores full overlap") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"), // verbatim -> 3 shared trigrams
      (2L, "zz alpha beta gamma yy"),         // one shared trigram
      (3L, "totally unrelated words here now")).toDF("doc_id", "text")
    val got = graft.operators.Pipeline.contaminationScores(train, bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 1L)) // doc 3 absent (zero overlap)
  }

  test("sampleBudget: stays within budget and is layout-independent") {
    import spark.implicits._
    val d = (0L until 60L)
      .map(i => (i, ("tok " * 10).trim, s"s${i % 3}")).toDF("doc_id", "text", "source")
    val sel = graft.operators.Pipeline.sampleBudget(d, budget = 45)
    val rows = sel.select("source", "doc_id", "cum_toks").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.forall(_._3 <= 45)) // 10 tokens/doc -> 4 docs per source
    assert(rows.groupBy(_._1).forall(_._2.length == 4))
    // determinism under a different physical layout
    val again = graft.operators.Pipeline.sampleBudget(d.repartition(7), budget = 45)
      .select("source", "doc_id", "cum_toks").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.sortBy(r => (r._1, r._2)).toSeq == again.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("bucketed interval-overlap join == naive range join, any bucket width") {
    import spark.implicits._
    // deterministic intervals: varying spans, touching endpoints, exact
    // bucket-boundary alignment, and spans >> bucket width
    val iv = (0L until 30L).map { i =>
      val t0 = i * 500 + (i % 3) * 37
      (i % 5, i, t0, t0 + 200 + (i % 7) * 900)
    }.toDF("user_id", "sess_id", "t0", "t1")
    val naive = iv.as("a").join(iv.as("b"),
        struct(col("a.user_id"), col("a.sess_id")) <
          struct(col("b.user_id"), col("b.sess_id")) &&
          col("a.t0") <= col("b.t1") && col("b.t0") <= col("a.t1"))
      .select(col("a.user_id"), col("a.sess_id"),
        col("b.user_id"), col("b.sess_id"))
      .collect().map(_.toSeq).toSet
    assert(naive.nonEmpty)
    for (width <- Seq(100L, 1000L, 10000L)) {
      val got = graft.operators.Intervals.overlapPairs(iv, width)
        .select("a_user_id", "a_sess_id", "b_user_id", "b_sess_id")
        .collect().map(_.toSeq).toSet
      assert(got == naive, s"bucket width $width diverged")
    }
  }

  test("graft_count_tokens matches the builtin filter-lambda formulation") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // edge cases: double spaces (empty tokens), leading/trailing space,
    // marker in two groups ("la"), unicode markers, empty string
    val d = Seq(
      "the la  der the", " la la ", "", "的 是 的", "nothing matches here",
      "la").toDF("text")
    val got = d.select(expr(
      "graft_count_tokens(text, array(array('the','and'), array('la','的'), array('la','der')))"
    ).as("c"))
    val want = d.select(array(
      expr("size(filter(split(text, ' '), x -> x IN ('the','and')))"),
      expr("size(filter(split(text, ' '), x -> x IN ('la','的')))"),
      expr("size(filter(split(text, ' '), x -> x IN ('la','der')))")).as("c"))
    assert(got.collect().map(_.getSeq[Int](0)).toSeq ==
      want.collect().map(_.getSeq[Int](0)).toSeq)
    // a marker duplicated WITHIN a group counts occurrences once (like
    // x IN ('the','the')); a null group yields a null slot, not a crash
    val edge = d.limit(1).select(expr(
      "graft_count_tokens('the the la', " +
        "array(array('the','the'), cast(null as array<string>)))").as("c"))
      .collect().head.getSeq[Any](0)
    assert(edge == Seq(2, null))
    // an empty-string marker counts the empty tokens split() emits for
    // double/leading/trailing spaces and the empty string itself
    for (t <- Seq("a  b", " a", "a ", "", "a b")) {
      val native = d.limit(1).select(expr(
        s"graft_count_tokens('$t', array(array('')))")).collect().head
        .getSeq[Int](0)
      val builtin = d.limit(1).select(expr(
        s"array(size(filter(split('$t', ' '), x -> x IN (''))))")).collect()
        .head.getSeq[Int](0)
      assert(native == builtin, s"text='$t'")
    }
    // seeded fuzz: random space-heavy strings over a small alphabet so
    // markers actually hit; native must equal the builtin on every row
    val rnd = new scala.util.Random(42)
    val alphabet = Vector("la", "的", "x", "", " ", "the la", "yy")
    val fuzz = Seq.fill(200)(
      Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.size)))
        .mkString(" ")).toDF("text")
    val fg = fuzz.select(expr(
      "graft_count_tokens(text, array(array('the','and'), array('la','的')))"))
      .collect().map(_.getSeq[Int](0)).toSeq
    val fw = fuzz.select(array(
      expr("size(filter(split(text, ' '), x -> x IN ('the','and')))"),
      expr("size(filter(split(text, ' '), x -> x IN ('la','的')))")))
      .collect().map(_.getSeq[Int](0)).toSeq
    assert(fg == fw)
  }

  test("bigramLogProb matches hand-computed smoothing on a tiny corpus") {
    import spark.implicits._
    // corpus: d1 = "a b a b" -> bigrams (a b)(b a)(a b); d2 = "a b c" ->
    // (a b)(b c). counts: (a b)=3, (b a)=1, (b c)=1; left counts: a=3,
    // b=2; vocab = {a, b, c} -> V=3, alpha=0.5
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val got = graft.operators.TextStats.bigramLogProb(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val pAB = (3 + 0.5) / (3 + 0.5 * 3) // P(b|a)
    val pBA = (1 + 0.5) / (2 + 0.5 * 3) // P(a|b)
    val pBC = (1 + 0.5) / (2 + 0.5 * 3) // P(c|b)
    val d1 = (math.log(pAB) + math.log(pBA) + math.log(pAB)) / 3
    val d2 = (math.log(pAB) + math.log(pBC)) / 2
    assert(got(1L)._1 == 3 && got(2L)._1 == 2)
    assert(math.abs(got(1L)._2 - d1) < 1e-12, s"${got(1L)._2} vs $d1")
    assert(math.abs(got(2L)._2 - d2) < 1e-12, s"${got(2L)._2} vs $d2")
    // a single-token doc has no bigrams and drops out entirely
    val withShort = docs.union(Seq((3L, "zz")).toDF("doc_id", "text"))
    assert(graft.operators.TextStats.bigramLogProb(withShort)
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("tokenKlDivergence matches hand-computed KL on a tiny corpus") {
    import spark.implicits._
    // s1 = "a a b" (P: a=2/3, b=1/3), s2 = "b c" (P: b=1/2, c=1/2);
    // global over 5 tokens: a=2/5, b=2/5, c=1/5
    val docs = Seq(("s1", "a a b"), ("s2", "b c")).toDF("source", "text")
    val got = graft.operators.TextStats.tokenKlDivergence(docs)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val kl1 = 2.0 / 3 * math.log((2.0 / 3) / (2.0 / 5)) +
      1.0 / 3 * math.log((1.0 / 3) / (2.0 / 5))
    val kl2 = 1.0 / 2 * math.log((1.0 / 2) / (2.0 / 5)) +
      1.0 / 2 * math.log((1.0 / 2) / (1.0 / 5))
    assert(got("s1")._1 == 3 && got("s2")._1 == 2)
    assert(math.abs(got("s1")._2 - kl1) < 1e-12, s"${got("s1")._2} vs $kl1")
    assert(math.abs(got("s2")._2 - kl2) < 1e-12, s"${got("s2")._2} vs $kl2")
    // a group identical to the pool has KL ~ 0
    val uniform = Seq(("u1", "x y"), ("u2", "x y")).toDF("source", "text")
    graft.operators.TextStats.tokenKlDivergence(uniform).collect()
      .foreach(r => assert(math.abs(r.getDouble(2)) < 1e-12))
  }

  test("prototypes: both lanes match a driver-side rank over assignCells") {
    // emb_prototypes gates mostProto=true; this pins the least-proto lane
    // and the exact rank/tie rule of both against an independent driver
    // recomputation from the assignment table
    assume(new java.io.File("/root/testdata/sf0.001/embeddings.parquet").exists())
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val cents = Similarity.strideCentroids(e, 50)
    val asg = Similarity.assignCells(e, cents)
      .select("vec_id", "cell", "csim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def expected(most: Boolean, k: Int): Set[(Long, Long, Long)] =
      asg.groupBy(_._2).toSeq.flatMap { case (cell, rows) =>
        val sorted = rows.sortBy(r =>
          (if (most) -r._3 else r._3, r._1)).take(k)
        sorted.zipWithIndex.map { case ((id, _, _), i) =>
          (cell, id, i.toLong + 1) }
      }.toSet
    for (most <- Seq(true, false)) {
      val got = Similarity.prototypes(e, cents, 4, most)
        .select("cell", "vec_id", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected(most, 4), s"mostProto=$most diverges")
    }
  }

  test("hist rollup: fold is EXACT (≡ direct coarse build), quantiles within a bin width") {
    import graft.operators.HistRollup
    val spec = HistRollup.HistSpec(0.0, 512.0, 64)
    val ev = Fixtures.events(spark, "/root/testdata/sf0.001")
      .select(col("event_type"), unix_timestamp(col("ts")).as("sec"),
        col("value").as("v"))
    val hours = HistRollup.histBuckets(ev, "v", "sec", 3600L,
      Seq("event_type"), spec)
    // the whole point vs KLL/t-digest: the fold is DETERMINISTIC and
    // byte-exact — folded day bins are identical rows to a direct
    // day-level build, so the ladder can materialize any level from the
    // one below with zero accuracy loss and the oracle can recompute it
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val folded = rows(HistRollup.fold(hours, 86400L, Seq("event_type")))
    val direct = rows(HistRollup.histBuckets(ev, "v", "sec", 86400L,
      Seq("event_type"), spec))
    assert(folded == direct && folded.nonEmpty)
    // structural accuracy: the estimate lands in the bin CONTAINING the
    // order statistic at rank ceil(p·n) — within one bin width of it,
    // guaranteed, at any n. (Comparing against percentile()'s
    // p·(n−1)+1 interpolation convention instead is NOT bounded: on a
    // 7-row group the two conventions straddle adjacent order statistics
    // across a 30-wide data gap — observed, and expected of any
    // fixed-rank estimator.)
    val est = HistRollup.quantiles(
        HistRollup.fold(hours, 86400L, Seq("event_type")),
        Seq("event_type"), Seq("p50" -> 0.5, "p95" -> 0.95), spec)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(3), r.getDouble(4))).toMap
    val orderStats = ev.groupBy(col("event_type"),
        ((col("sec") / 86400L).cast("long") * 86400L).as("t"))
      .agg(sort_array(collect_list("v")).as("vs"))
      .collect().map { r =>
        val vs = r.getSeq[Double](2)
        def at(p: Double) = vs(math.ceil(p * vs.length).toInt - 1)
        (r.getString(0), r.getLong(1)) -> (at(0.5), at(0.95))
      }.toMap
    assert(est.keySet == orderStats.keySet)
    for ((k, (e50, e95)) <- orderStats) {
      val (h50, h95) = est(k)
      assert(math.abs(h50 - e50) <= spec.width, s"$k p50 $h50 vs $e50")
      assert(math.abs(h95 - e95) <= spec.width, s"$k p95 $h95 vs $e95")
      assert(h50 <= h95, s"$k quantiles not monotone")
    }
  }

  test("contamination bloom lane ≡ broadcast lane, and the bloom actually prunes") {
    import graft.operators.Pipeline
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val train = docs.where(col("doc_id") % 13 =!= 0)
    val bench = docs.where(col("doc_id") % 13 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the bloom is candidate pruning only — false positives die in the
    // exact-confirm join, so the two lanes must be bit-identical
    assert(rows(Pipeline.contaminationScoresBloom(train, bench))
      == rows(Pipeline.contaminationScores(train, bench)))
    // and at a tight fpp the filter really prunes: a disjoint-vocabulary
    // train side yields zero candidates → zero result rows, no join work
    import spark.implicits._
    val disjoint = Seq((900001L, "zzqx wwvk yyrn ttpl zzqx wwvk yyrn"))
      .toDF("doc_id", "text")
    assert(Pipeline.contaminationScoresBloom(disjoint, bench).count() == 0L)
  }

  test("shuffleShards: deterministic permutation, balanced shards, seed re-deals") {
    import graft.operators.Pipeline
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = docs.count()
    val a = Pipeline.shuffleShards(docs, "ep1", 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // a permutation: every doc exactly once, each shard's positions are
    // exactly 1..|shard| (training consumes (shard, pos) order gap-free)
    assert(a.map(_._1).distinct.length == n)
    for ((_, rows) <- a.groupBy(_._2))
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    // deterministic: same seed reproduces the identical deal
    val a2 = Pipeline.shuffleShards(docs, "ep1", 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.toSet == a2.toSet)
    // different seed re-deals (some doc moves shard or position)
    val b = Pipeline.shuffleShards(docs, "ep2", 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(b.toSet != a.toSet)
    // md5 balance: no shard holds more than 3x its fair share
    val sizes = a.groupBy(_._2).values.map(_.length)
    assert(sizes.max <= 3 * n / 8)
  }

  test("scd2: hand-computed islands, exclusive handoff, null-safe values") {
    import graft.operators.Temporal
    import spark.implicits._
    val ev = Seq(
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "a"), (1L, 30L, 3L, "b"),
      (1L, 30L, 4L, "b"), (1L, 40L, 5L, "a"),
      (2L, 10L, 6L, "x")).toDF("user_id", "sec", "event_id", "event_type")
    val got = Temporal.scd2(ev, Seq("user_id"), Seq("sec", "event_id"),
        "sec", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4), r.getLong(5)))
      .toSet
    assert(got == Set(
      (1L, 0L, "a", 10L, 30L, 2L),   // valid_to = next island's start
      (1L, 1L, "b", 30L, 40L, 2L),   // same-sec rows collapse into one island
      (1L, 2L, "a", 40L, -1L, 1L),   // current interval: open-ended
      (2L, 0L, "x", 10L, -1L, 1L)))
  }

  test("merge COW: only changelog buckets rewritten, empty bucket dropped, idempotent") {
    import graft.operators.Mutations
    import spark.implicits._
    val work = java.nio.file.Files
      .createTempDirectory("graft-merge-spec").toString + "/tbl"
    // 4 buckets of 3 keys each (k % 4)
    val base = (0L until 12L).map(k => (k, s"v$k")).toDF("k", "payload")
    val pexpr = pmod(col("k"), lit(4L))
    base.withColumn("bucket", pexpr).repartition(col("bucket"))
      .write.partitionBy("bucket").parquet(work)
    def leafFiles(b: Long) =
      new java.io.File(s"$work/bucket=$b").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSet
    val untouched0 = leafFiles(0L)
    val untouched3 = leafFiles(3L)
    // bucket 1: update k=1; bucket 2: delete ALL of {2, 6, 10}
    val ch = (Seq((1L, "V1", "U", 1L)) ++
        Seq(2L, 6L, 10L).map(k => (k, "", "D", 1L)))
      .toDF("k", "payload", "op", "version")
    val n = Mutations.mergeIntoPartitioned(spark, work, ch, Seq("k"), pexpr)
    assert(n == 2) // buckets 1 and 2 only
    // untouched buckets: same files, same mtimes — zero I/O on them
    assert(leafFiles(0L) == untouched0 && leafFiles(3L) == untouched3)
    // fully-deleted bucket is gone from disk
    assert(!new java.io.File(s"$work/bucket=2").exists())
    val read = Mutations.readPartitioned(spark, work, base.schema)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = (0L until 12L).filterNot(Seq(2L, 6L, 10L).contains)
      .map(k => k -> (if (k == 1L) "V1" else s"v$k")).toMap
    assert(read == expect)
    // re-applying the same changelog converges to the same table
    Mutations.mergeIntoPartitioned(spark, work, ch, Seq("k"), pexpr)
    val read2 = Mutations.readPartitioned(spark, work, base.schema)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(read2 == expect)
  }

  test("imagePhash: cross-format identity, single-cell flips, banded recall on real rasters") {
    import spark.implicits._
    import Multimodal.{MediaMeta, MediaRow}
    def encode(fmt: String, cell: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16)
        img.setRGB(x, y, cell(x / 2, y / 2))
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, buf)
      buf.toByteArray
    }
    val white = 0xffffff; val black = 0x000000
    val a: (Int, Int) => Int = (cx, _) => if (cx >= 4) white else black
    val b: (Int, Int) => Int = // one hash cell flipped black -> white
      (cx, cy) => if (cx >= 4 || (cx == 0 && cy == 0)) white else black
    val c: (Int, Int) => Int = (cx, _) => if (cx < 4) white else black
    val meta = MediaMeta("image", 16, 16, 0, 0L, "none")
    val media = Seq(
      MediaRow(1L, encode("png", a), meta),
      MediaRow(2L, encode("bmp", a), meta), // same raster, other container
      MediaRow(3L, encode("png", b), meta),
      MediaRow(4L, encode("png", c), meta), // inverse: hamming 64 to a
      MediaRow(5L, "not an image at all".getBytes("UTF-8"), meta)).toDS()
    val h = Multimodal.imagePhash(media).collect()
      .map(p => p.media_id -> (p.h1, p.h2)).toMap
    assert(h(1L) == h(2L)) // perceptual identity survives re-encoding
    assert(h.size == 5)    // stub lane hashed the non-raster bytes too
    val pairs = Multimodal.phashNearDuplicates(media, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs == Map((1L, 2L) -> 0L, (1L, 3L) -> 1L, (2L, 3L) -> 1L))
  }

  test("leakageSafeSplit: no near-dup pair straddles splits on any gate corpus") {
    // THE semantic guarantee of the cluster-keyed split (and the reason
    // pipe_split_leakage exists): every detected near-dup pair lands in
    // ONE split — zero train/eval contamination by construction. Checked
    // at every testdata SF with the same detector the gate query uses.
    val dirs = Seq("sf0.001", "sf0.01", "sf0.1")
      .map(sf => s"/root/testdata/$sf/documents.parquet")
      .filter(p => new java.io.File(p).exists())
    assume(dirs.nonEmpty)
    for (path <- dirs) {
      val corpus = Fixtures.withInjectedVariants(
        spark.read.parquet(path).select("doc_id", "text"))
      val pairs = Dedup.nearDuplicates(corpus, threshold = 0.3)
        .localCheckpoint(true)
      val split = graft.operators.Pipeline.leakageSafeSplit(corpus, pairs)
        .select("doc_id", "split").localCheckpoint(true)
      val crossing = pairs
        .join(split.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("split", "split_a"), Seq("doc_a"))
        .join(split.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("split", "split_b"), Seq("doc_b"))
        .where(col("split_a") =!= col("split_b")).count()
      assert(crossing == 0L, s"$path: $crossing near-dup pairs cross splits")
      // injected variants co-split with their originals in particular
      val m = split.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      m.keys.filter(_ >= 1000000).foreach { v =>
        assert(m(v) == m(v - 1000000), s"$path: variant $v split apart")
      }
    }
  }

  test("VersionedTable: snapshots share unchanged buckets, crashes heal, vacuum bounds storage") {
    import spark.implicits._
    import graft.operators.VersionedTable
    val work = java.nio.file.Files
      .createTempDirectory("graft-vt").toString + "/tbl"
    val base = (0L until 12L).map(k => (k, s"v$k")).toDF("k", "value")
    val pexpr = pmod(col("k"), lit(4L))
    assert(VersionedTable.init(spark, work, base, pexpr) == 0L)
    def snap(v: Long): Map[Long, String] =
      VersionedTable.readAt(spark, work, base.schema, v)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val all = (0L until 12L).map(k => k -> s"v$k").toMap

    // v1: update k=1 (bucket 1), delete k=2 (bucket 2): ONLY those two
    // buckets are rewritten — the other two are shared from v0
    val ch1 = Seq((1L, "V1", "U", 1L), (2L, "v2", "D", 1L))
      .toDF("k", "value", "op", "version")
    assert(VersionedTable.merge(spark, work, ch1, Seq("k"), pexpr) == 1L)
    val v1dirs = new java.io.File(s"$work/data/v=1").listFiles()
      .map(_.getName).filter(_.startsWith("bucket=")).toSet
    assert(v1dirs == Set("bucket=1", "bucket=2"))
    assert(snap(0) == all)
    assert(snap(1) == all - 2L + (1L -> "V1"))

    // v2: delete ALL of bucket 3 — recorded as a dropped bucket
    val ch2 = Seq((3L, "x", "D", 2L), (7L, "x", "D", 2L), (11L, "x", "D", 2L))
      .toDF("k", "value", "op", "version")
    assert(VersionedTable.merge(spark, work, ch2, Seq("k"), pexpr) == 2L)
    assert(snap(2) == all - 2L + (1L -> "V1") - 3L - 7L - 11L)
    assert(VersionedTable.commits(work).last.dropped == Seq(3L))

    // crashed writer: an orphan data/v=3 dir with no commit record is
    // invisible and healed before the version number is reused
    val orphan = new java.io.File(s"$work/data/v=3/bucket=0")
    orphan.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(orphan, "garbage.parquet").toPath, "not parquet")
    assert(VersionedTable.latestVersion(work) == 2L)
    assert(snap(2) == all - 2L + (1L -> "V1") - 3L - 7L - 11L) // unaffected
    val ch3 = Seq((0L, "V0", "U", 3L)).toDF("k", "value", "op", "version")
    assert(VersionedTable.merge(spark, work, ch3, Seq("k"), pexpr) == 3L)
    assert(!new java.io.File(orphan, "garbage.parquet").exists())
    assert(snap(3) == all - 2L + (1L -> "V1") - 3L - 7L - 11L + (0L -> "V0"))

    // CDC: v0 → v2 must surface exactly the update, the single delete
    // and the dropped bucket's three deletes — nothing from untouched
    // buckets, payload-identical keys suppressed
    val diff = VersionedTable.changes(spark, work, base.schema, Seq("k"),
        0L, 2L)
      .collect().map(r => r.getLong(0) ->
        (r.getString(3), Option(r.getString(1)), Option(r.getString(2))))
      .toMap
    assert(diff == Map(
      1L -> (("U", Some("v1"), Some("V1"))),
      2L -> (("D", Some("v2"), None)),
      3L -> (("D", Some("v3"), None)),
      7L -> (("D", Some("v7"), None)),
      11L -> (("D", Some("v11"), None))))
    // and a window that skips the churn (v2 → v3) sees only v3's update
    val d23 = VersionedTable.changes(spark, work, base.schema, Seq("k"),
        2L, 3L).collect()
    assert(d23.length == 1 && d23(0).getLong(0) == 0L &&
      d23(0).getString(3) == "U")

    // vacuum to the last 2 versions: v0's superseded buckets go, shared
    // buckets old snapshots still reference stay, horizon advances
    val removed = VersionedTable.vacuum(work, keep = 2)
    assert(removed == 3) // v0 buckets 1,2,3 (0 is still live via snap(2))
    assert(snap(2) == all - 2L + (1L -> "V1") - 3L - 7L - 11L)
    assert(snap(3)(0L) == "V0")
    intercept[IllegalArgumentException] {
      VersionedTable.readAt(spark, work, base.schema, 0L)
    }
  }

  test("VersionedTable: schema evolution — new payload column reads null on old files, merges forward") {
    import spark.implicits._
    import graft.operators.VersionedTable
    import org.apache.spark.sql.types._
    val work = java.nio.file.Files
      .createTempDirectory("graft-vt-evo").toString + "/tbl"
    val base = (0L until 8L).map(k => (k, s"v$k")).toDF("k", "value")
    val pexpr = pmod(col("k"), lit(4L))
    VersionedTable.init(spark, work, base, pexpr)
    // evolve: changes carry a NEW payload column; only affected buckets
    // are rewritten under the evolved schema — old files stay untouched
    // and read as null through the pinned evolved schema
    val ch = Seq((1L, "V1", 0.9, "U", 1L))
      .toDF("k", "value", "score", "op", "version")
    VersionedTable.merge(spark, work, ch, Seq("k"), pexpr)
    val evolved = StructType(Seq(StructField("k", LongType),
      StructField("value", StringType), StructField("score", DoubleType)))
    val v1 = VersionedTable.readAt(spark, work, evolved, 1L)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap
    assert(v1(1L) == (("V1", Some(0.9))))
    assert(v1(0L) == (("v0", None)) && v1.size == 8)
    // the pre-evolution snapshot reads under the evolved schema too
    val v0 = VersionedTable.readAt(spark, work, evolved, 0L).collect()
    assert(v0.length == 8 && v0.forall(_.isNullAt(2)))
  }

  test("BPE training reproduces the hand-computed Sennrich merges; encoder replays to the trained vocab") {
    import spark.implicits._
    import graft.operators.Bpe
    // the published worked example: low×5 lower×2 newest×6 widest×3;
    // expected merges verified against an independent reference
    // implementation of (max freq, lexicographic tie, strict
    // left-to-right overlap rule)
    val docs = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val merges = Bpe.train(docs, nMerges = 8)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("est", "</w>"),
      ("l", "o"), ("lo", "w"), ("e", "w"), ("ew", "est</w>"),
      ("n", "ewest</w>")))
    // greedy-by-rank encoding lands every training word in its final
    // vocab form: newest→1 symbol, low→2, lower→4, widest→4
    val enc = Bpe.encodeStats(docs, merges).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(enc(0L) == 2L && enc(5L) == 4L && enc(7L) == 1L && enc(13L) == 4L)
    // determinism: a second training run yields the identical table
    assert(Bpe.train(docs, nMerges = 8) == merges)
    // minFreq floor: singleton pairs never become merges
    val tiny = Seq((0L, "ab")).toDF("doc_id", "text")
    assert(Bpe.train(tiny, nMerges = 5).isEmpty)
  }

  test("BPE: driver-local ≡ distributed-delta ≡ naive trainer on the gate corpus (bit-identical merge table)") {
    import graft.operators.Bpe
    // three lanes, one merge table: the driver-local incremental trainer
    // (the default), the r11 distributed-delta fallback (driver pair
    // counts + narrow per-merge delta jobs), and the per-merge naive
    // loop (last resort) — pinned at the gate query's exact parameters
    // (nMerges=40 on sf0.001 documents)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val local = Bpe.train(docs, nMerges = 40)
    val delta = Bpe.trainDistributed(
      Bpe.wordTableFor(docs).localCheckpoint(true), nMerges = 40, minFreq = 2L)
    val naive = Bpe.trainDistributedNaive(
      Bpe.wordTableFor(docs).localCheckpoint(true), nMerges = 40, minFreq = 2L)
    assert(local == delta && delta == naive)
    assert(local.length == 40)
    // and the tiny-threshold path still routes distributed, same table
    assert(Bpe.train(docs, nMerges = 5, driverLocalMaxWords = 1) ==
      delta.take(5))
    // a pair-count budget of 0 forces the naive last resort — same table
    assert(Bpe.trainDistributed(
      Bpe.wordTableFor(docs).localCheckpoint(true), nMerges = 5,
      minFreq = 2L, maxDriverPairs = 0) == delta.take(5))
  }

  test("BPE distributed deltas: tail merges scan only the posted shards") {
    import spark.implicits._
    import graft.operators.Bpe
    // skewed corpus: 240 five-letter words over {a..f} (their pairs live
    // in most of the 64 shards, frequency 3 each) + one word with a
    // PRIVATE alphabet at frequency 500 — its pairs out-count everything,
    // merge first, and post to exactly ONE shard, so those merges'
    // delta/rewrite jobs must read 1 shard while the common merges that
    // follow fan out across the table.
    val rnd = new scala.util.Random(7)
    val common = (0 until 240).map { _ =>
      (0 until 5).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
    }
    val text = (common.flatMap(w => Seq(w, w, w)) ++ Seq.fill(500)("QZXW"))
      .mkString(" ")
    val docs = Seq((0L, text)).toDF("doc_id", "text")
    val scans = scala.collection.mutable.ArrayBuffer[Int]()
    val table = Bpe.wordTableFor(docs).localCheckpoint(true)
    val merges = Bpe.trainDistributed(table, nMerges = 40, minFreq = 2L,
      onMergeScan = scans += _)
    // the private-alphabet pair merged (first, at count 500)...
    assert(merges.head == ("Q", "Z"), s"rare pair should lead: $merges")
    // ...scanning only its posted shard, while common merges fan out
    assert(scans.head <= 2, s"posted merge must prune to its shard: $scans")
    assert(scans.max > 16, s"common merges should span shards: $scans")
    // pruning never changes the answer: identical to the local trainer
    val local = Bpe.train(docs, nMerges = 40)
    assert(merges == local)
  }

  test("BPE oracle framing: separator replace-chain ≡ mergePair on exhaustive overlap corpora") {
    // the text_bpe_encode oracle replays the encode in SQL as
    // replace(s, '␟a␟␟b␟', '␟ab␟') over per-symbol-framed words; SQL
    // replace and Java String.replace share the same left-to-right
    // non-overlapping scan that resumes AFTER each replacement — which
    // must equal mergePair's skip-after-merge rule on EVERY input,
    // overlaps included ("aaa" under (a,a) → [aa, a], never a chain).
    // Exhaustive over all {a,b} words to length 8 × three merge chains.
    import graft.operators.Bpe
    val SEP = "\u001f"
    def frame(syms: Seq[String]): String =
      syms.map(s => SEP + s + SEP).mkString
    val chains = Seq(
      Seq(("a", "a")),
      Seq(("a", "b"), ("ab", "ab")),
      Seq(("a", "a"), ("aa", "b"), ("aab", "aab"), ("b", "b")))
    for {
      len <- 1 to 8
      n <- 0 until (1 << len)
      chain <- chains
    } {
      val word = (0 until len).map(i => if (((n >> i) & 1) == 0) "a" else "b")
      var bySpark: Seq[String] = word
      var bySql: String = frame(word)
      chain.foreach { case (a, b) =>
        bySpark = Bpe.mergePair(bySpark, a, b, a + b)
        bySql = bySql.replace(SEP + a + SEP + SEP + b + SEP, SEP + a + b + SEP)
      }
      assert(frame(bySpark) == bySql,
        s"word=$word chain=$chain: mergePair=$bySpark vs sql=$bySql")
    }
  }

  test("BPE lanes agree above the BMP (UTF-8-byte tie order, not UTF-16)") {
    import spark.implicits._
    import graft.operators.Bpe
    // U+10000 (surrogate pair in UTF-16) vs U+FF01: UTF-16 code-unit
    // comparison orders them OPPOSITE to UTF-8 bytes — equal-count pair
    // ties on this corpus diverge if any lane compares Java Strings.
    // NOTE: the word splitter iterates UTF-16 code units, so astral
    // chars split into surrogate halves IDENTICALLY in every lane; the
    // tie-break is the only place encodings could disagree.
    val astral = new String(Character.toChars(0x10000))
    val docs = Seq((0L, s"$astral！ ！$astral $astral！ ！$astral"))
      .toDF("doc_id", "text")
    val local = Bpe.train(docs, nMerges = 6)
    val delta = Bpe.trainDistributed(
      Bpe.wordTableFor(docs).localCheckpoint(true), nMerges = 6, minFreq = 2L)
    val naive = Bpe.trainDistributedNaive(
      Bpe.wordTableFor(docs).localCheckpoint(true), nMerges = 6, minFreq = 2L)
    assert(local == delta && delta == naive, s"$local vs $delta vs $naive")
  }

  test("VersionedTable: commit CAS — a racing second writer errors cleanly, winner's record survives, table readable") {
    import spark.implicits._
    import graft.operators.VersionedTable
    val work = java.nio.file.Files
      .createTempDirectory("graft-vt-cas").toString + "/tbl"
    val base = (0L until 8L).map(k => (k, s"v$k")).toDF("k", "value")
    val pexpr = pmod(col("k"), lit(4L))
    VersionedTable.init(spark, work, base, pexpr)
    // writer A wins version 1 (an empty commit — data-first ordering
    // means A's data, here none, is on disk before its record lands)
    VersionedTable.writeCommit(work,
      VersionedTable.Commit(1L, Seq.empty, Seq.empty))
    // writer B — which also computed next=1 before A committed — must
    // fail its CAS, not overwrite A's record
    intercept[graft.model.ConcurrentCommit] {
      VersionedTable.writeCommit(work,
        VersionedTable.Commit(1L, Seq(1L, 2L), Seq.empty))
    }
    // A's record survived verbatim (B's buckets nowhere in the log)
    assert(VersionedTable.commits(work)
      .find(_.version == 1L).get.buckets.isEmpty)
    // the table stays writable and readable: the next writer proceeds
    val ch = Seq((4L, "V4", "U", 2L)).toDF("k", "value", "op", "version")
    assert(VersionedTable.merge(spark, work, ch, Seq("k"), pexpr) == 2L)
    val latest = VersionedTable.readAt(spark, work, base.schema)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(latest(4L) == "V4" && latest.size == 8)
  }

  test("mergeWithRetry: a foreign commit stealing the version triggers re-validate-and-retry; both land") {
    import spark.implicits._
    import graft.operators.VersionedTable
    val work = java.nio.file.Files
      .createTempDirectory("graft-vt-retry").toString + "/tbl"
    val base = (0L until 8L).map(k => (k, s"v$k")).toDF("k", "value")
    val pexpr = pmod(col("k"), lit(4L))
    VersionedTable.init(spark, work, base, pexpr)
    // a "foreign process" wins version 1 INSIDE our CAS window: its own
    // data-first write updates k=0 (staged under data/v=1 before our
    // interceptor-simulated record lands — the commit-record-last rule)
    val stolen = new java.util.concurrent.atomic.AtomicBoolean(false)
    VersionedTable.commitInterceptor = Some { v =>
      if (stolen.compareAndSet(false, true)) {
        val d = new java.io.File(s"$work/data/v=$v")
        // the foreign writer rewrote bucket 0: k=0 updated, k=4 carried
        // (a bucket rewrite replaces the WHOLE bucket)
        Seq((0L, "FOREIGN"), (4L, "v4")).toDF("k", "value")
          .withColumn("bucket", pexpr).coalesce(1)
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(d.getPath)
        VersionedTable.writeCommit(work,
          VersionedTable.Commit(v, Seq(0L), Seq.empty))
      }
    }
    try {
      val ch = Seq((1L, "MINE", "U", 9L)).toDF("k", "value", "op", "version")
      val v = VersionedTable.mergeWithRetry(spark, work, ch, Seq("k"), pexpr)
      // our writer lost v=1, re-validated against the foreign snapshot,
      // landed at v=2 — BOTH row sets present
      assert(v == 2L, s"retry landed at $v")
      val latest = VersionedTable.readAt(spark, work, base.schema)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(latest(0L) == "FOREIGN" && latest(1L) == "MINE" &&
        latest.size == 8, s"lost an update: $latest")
      // nothing orphaned: heal() deletes no referenced data
      val before = new java.io.File(s"$work/data").listFiles().map(_.getName).toSet
      VersionedTable.heal(work)
      val after = new java.io.File(s"$work/data").listFiles().map(_.getName).toSet
      assert(before == after && after == Set("v=0", "v=1", "v=2"),
        s"heal changed $before -> $after")
    } finally VersionedTable.commitInterceptor = None
  }

  test("mergeWithRetry: concurrent in-driver writers serialize — every changelog lands exactly once") {
    import spark.implicits._
    import graft.operators.VersionedTable
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val work = java.nio.file.Files
      .createTempDirectory("graft-vt-conc").toString + "/tbl"
    val base = (0L until 8L).map(k => (k, s"v$k")).toDF("k", "value")
    val pexpr = pmod(col("k"), lit(4L))
    VersionedTable.init(spark, work, base, pexpr)
    // two writers x two merges each, disjoint keys, overlapping buckets
    def writer(keys: Seq[Long], tag: String) = Future {
      keys.map { k =>
        val ch = Seq((k, s"$tag$k", "U", 99L))
          .toDF("k", "value", "op", "version")
        VersionedTable.mergeWithRetry(spark, work, ch, Seq("k"), pexpr)
      }
    }
    val (va, vb) = (writer(Seq(0L, 1L), "A"), writer(Seq(4L, 5L), "B"))
    val versions = Await.result(va, 120.seconds) ++ Await.result(vb, 120.seconds)
    assert(versions.sorted == Seq(1L, 2L, 3L, 4L), s"versions: $versions")
    val latest = VersionedTable.readAt(spark, work, base.schema)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(latest(0L) == "A0" && latest(1L) == "A1" &&
      latest(4L) == "B4" && latest(5L) == "B5" && latest.size == 8,
      s"lost an update: $latest")
    VersionedTable.heal(work)
    assert(VersionedTable.latestVersion(work) == 4L)
  }

  test("inverted index: incremental append ≡ full rebuild; search prunes to query-token buckets") {
    import graft.operators.Retrieval
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val queries = docs.where(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    def search(root: String) = Retrieval.bm25TopKIndexed(spark, root, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).sortBy(t => (t._1, t._4)).toSeq
    val full = java.nio.file.Files
      .createTempDirectory("graft-idx-full").toString + "/idx"
    Retrieval.buildIndex(docs, full)
    val incr = java.nio.file.Files
      .createTempDirectory("graft-idx-incr").toString + "/idx"
    Retrieval.buildIndex(docs.where(col("doc_id") < 250), incr)
    Retrieval.appendToIndex(docs.where(col("doc_id") >= 250), incr)
    assert(search(full) == search(incr))
    // direct lane agreement (the property the shared oracle rests on)
    val direct = Retrieval.bm25TopK(docs, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).sortBy(t => (t._1, t._4)).toSeq
    assert(search(full) == direct)
    // pruning proof by demolition: delete every postings bucket EXCEPT
    // the probe token's home bucket — the search still answers, because
    // it never lists the other directories
    import spark.implicits._
    val tok = docs.select(explode(split(col("text"), " ")).as("t"))
      .where(col("t") =!= "").head().getString(0)
    val home = Seq(tok).toDF("t")
      .select(pmod(xxhash64(col("t")), lit(64L))).head().getLong(0)
    new java.io.File(s"$full/postings").listFiles()
      .filter(f => f.getName.startsWith("bucket=") &&
        f.getName != s"bucket=$home")
      .foreach(f => graft.core.DatapointStore.rmTree(f.getPath))
    val oneTok = Seq((99L, tok)).toDF("qid", "qtext")
    val hits = Retrieval.bm25TopKIndexed(spark, full, oneTok, 5).collect()
    assert(hits.nonEmpty && hits.forall(_.getLong(0) == 99L))
  }

  test("funnel: greedy-earliest chain, missed steps cascade to null, pre-step events ignored") {
    import spark.implicits._
    val ev = Seq(
      // u1: clean A(10) -> B(20) -> C(30)
      (1L, "A", 10L), (1L, "B", 20L), (1L, "C", 30L),
      // u2: B BEFORE A only — step 2 missed, C after must not count
      (2L, "A", 50L), (2L, "B", 40L), (2L, "C", 60L),
      // u3: ties — B at exactly t1 is NOT after (strict >); later B ok
      (3L, "A", 10L), (3L, "B", 10L), (3L, "B", 15L),
      // u4: never does A at all — absent from the funnel
      (4L, "B", 5L), (4L, "C", 6L),
      // u5: greedy-earliest matters: A(10), B(12), C(11) -> C missed
      (5L, "A", 10L), (5L, "B", 12L), (5L, "C", 11L))
      .toDF("user_id", "event_type", "sec")
    val out = graft.operators.Temporal
      .funnel(ev, Seq("A", "B", "C"), "user_id", "event_type", "sec")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3))),
          r.getLong(4))).toMap
    assert(out(1L) == (((Some(10L), Some(20L), Some(30L)), 3L)))
    assert(out(2L) == (((Some(50L), None, None), 1L)))
    assert(out(3L) == (((Some(10L), Some(15L), None), 2L)))
    assert(!out.contains(4L))
    assert(out(5L) == (((Some(10L), Some(12L), None), 2L)))
  }

  test("Quality rules: hand-built fixture with known violations of every rule family") {
    import spark.implicits._
    import graft.operators.Quality
    val child = Seq(
      (1L, 1, 10.0, "A"), (1L, 1, 20.0, "N"),  // dup key
      (2L, 1, -5.0, "X"),                      // range + domain violation
      (3L, 1, 7.0, null.asInstanceOf[String]), // null flag (not domain)
      (9L, 1, 1.0, "R"))                       // orphan parent ref
      .toDF("k", "line", "qty", "flag")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val rep = Quality.report(Seq(
      Quality.rowRules(child, Seq(
        "r1_neg_qty" -> (col("qty") < 0),
        "r2_null_flag" -> col("flag").isNull,
        "r3_domain" -> (col("flag").isNotNull &&
          !col("flag").isin("A", "N", "R")))),
      Quality.uniquenessRule(child, "r4_uniq", Seq("k", "line")),
      Quality.referentialRule(child, "k", parent, "pk", "r5_ref")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep == Map(
      "r1_neg_qty" -> ((1L, 5L)), "r2_null_flag" -> ((1L, 5L)),
      "r3_domain" -> ((1L, 5L)), "r4_uniq" -> ((1L, 5L)),
      "r5_ref" -> ((1L, 5L))))
  }

  test("pageRank: integer-exact recurrence matches hand-computed fixture") {
    // A→B, A→C, B→A (w=1 each), scale 10^12, damping 85/100, 3 rounds —
    // expected values derived by hand from the documented recurrence
    // (r0 = scale//n, contrib = (r*w)//outW, r' = base + (85*in)//100);
    // any drift in division order or damping arithmetic breaks these
    // literals AND the graph_pagerank oracle identically.
    import spark.implicits._
    val edges = Seq(("A", "B", 1L), ("A", "C", 1L), ("B", "A", 1L))
      .toDF("src", "dst", "w")
    val r = graft.operators.Graphs.pageRank(edges, iters = 3)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("A" -> 212916666664L, "B" -> 140489583331L,
      "C" -> 140489583331L))
    // leaky-dangling design: total mass never exceeds the scale
    assert(r.values.sum <= 1000000000000L)
  }

  test("personalizedPageRank: seed-teleport recurrence matches hand-computed fixture") {
    // A→B, B→C, C→A (w=1), seed {A}, 2 rounds, scale 10^12:
    //   r0 = (A: 10^12, B/C: 0); base(A) = (10^12·15)//100
    //   round 1: inflow(B) = 10^12     → A 150e9, B 850e9, C 0
    //   round 2: inflow(B) = 150e9, inflow(C) = 850e9
    //            → A 150e9, B 127.5e9, C 722.5e9
    // Any drift in the seed-restricted teleport or division order breaks
    // these literals AND the graph_ppr oracle identically.
    import spark.implicits._
    val edges = Seq(("A", "B", 1L), ("B", "C", 1L), ("C", "A", 1L))
      .toDF("src", "dst", "w")
    val seeds = Seq("A").toDF("v")
    val r = graft.operators.Graphs
      .personalizedPageRank(edges, seeds, iters = 2)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("A" -> 150000000000L, "B" -> 127500000000L,
      "C" -> 722500000000L))
    // seed-teleport mass conservation: never exceeds the scale
    assert(r.values.sum <= 1000000000000L)
    // a seed absent from the graph must be rejected, not silently div/0
    intercept[IllegalArgumentException] {
      graft.operators.Graphs.personalizedPageRank(edges,
        Seq("Z").toDF("v"), iters = 1)
    }
  }

  test("landmarkCloseness: path-graph distances, harmonic permille, hop cap") {
    // path A-B-C-D, landmarks {A, D}: every vertex reaches both within
    // 3 hops; dist sums are all 3, harmonic_pm distinguishes center
    // (1000+500) from ends (1000//3, self at dist 0 excluded)
    import spark.implicits._
    val edges = Seq(("A", "B"), ("B", "C"), ("C", "D")).toDF("u", "v")
    val lms = Seq("A", "D").toDF("v")
    val out = graft.operators.Graphs.landmarkCloseness(edges, lms, 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(out == Set(("A", 2L, 3L, 333L, 3L), ("B", 2L, 3L, 1500L, 2L),
      ("C", 2L, 3L, 1500L, 2L), ("D", 2L, 3L, 333L, 3L)))
    // hop cap bites: at maxHops=1 the ends see only themselves + one
    val capped = graft.operators.Graphs.landmarkCloseness(edges, lms, 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(capped == Map("A" -> 1L, "B" -> 1L, "C" -> 1L, "D" -> 1L))
  }

  test("betweenness: path and diamond fixtures match hand-computed Brandes deltas") {
    import spark.implicits._
    // path A-B-C-D, landmarks {A, D}, depth 3: from A, δ(C)=10⁶,
    // δ(B)=2·10⁶ (one path each); symmetric from D; ends sit at the
    // far level-3 with δ=0 ⇒ BC rows (A,0), (D,0)
    val path = Seq(("A", "B"), ("B", "C"), ("C", "D")).toDF("u", "v")
    val lms = Seq("A", "D").toDF("v")
    val bc = graft.operators.Graphs.betweenness(path, lms, depth = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bc == Map("A" -> 0L, "B" -> 3000000L, "C" -> 3000000L,
      "D" -> 0L))
    // diamond A-B, A-C, B-D, C-D, landmark {A}, depth 2: σ(D)=2 splits
    // the dependency — δ(B) = (1·10⁶)//2 = 500000 = δ(C)
    val dia = Seq(("A", "B"), ("A", "C"), ("B", "D"), ("C", "D"))
      .toDF("u", "v")
    val bc2 = graft.operators.Graphs
      .betweenness(dia, Seq("A").toDF("v"), depth = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bc2 == Map("B" -> 500000L, "C" -> 500000L, "D" -> 0L))
  }

  test("lumaHistogram: exact bins on a synthetic gradient, junk bytes emit nothing") {
    import spark.implicits._
    // 4×4 gray column gradient v = 64·x → luma_pm = 64000·x → with 4
    // bins each column lands in its own bin, 4 px apiece
    val png = graft.operators.Multimodal.grayscalePng(4, (x, _) => 64 * x)
    val meta = graft.operators.Multimodal.MediaMeta("image", 4, 4, 0, 0L, "png")
    val media = Seq(
      graft.operators.Multimodal.MediaRow(1L, png, meta),
      graft.operators.Multimodal.MediaRow(2L, Array[Byte](1, 2, 3), meta))
      .toDS()
    val out = graft.operators.Multimodal.lumaHistogram(media, bins = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(out == Set((1L, 0, 4L), (1L, 1, 4L), (1L, 2, 4L), (1L, 3, 4L)))
  }

  test("spanCorrupt: mask structure — sentinels count spans, tokens partition exactly") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h i"), (2L, "x"), (3L, ""))
      .toDF("doc_id", "text")
    val out = graft.operators.Pipeline.spanCorrupt(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))).toMap
    // structural invariants (the md5 mask itself is pinned by the
    // pipe_span_corrupt oracle): corrupted ∪ target re-partitions the
    // original tokens with one sentinel per corrupted span
    for ((id, (nSpans, nCorr, corrupted, target)) <- out) {
      val orig = docs.where(col("doc_id") === id)
        .head().getString(1).split(" ", -1).toSeq
      assert(nSpans == (orig.size + 2) / 3)
      val sentinels = corrupted.split(" ", -1).count(_ == "<X>")
      assert(sentinels == nCorr)
      val kept = corrupted.split(" ", -1).filterNot(_ == "<X>")
        .filterNot(_.isEmpty)
      val masked = target.split(" ", -1).filterNot(_.isEmpty)
      assert((kept ++ masked).sorted.toSeq ==
        orig.filterNot(_.isEmpty).sorted.toSeq)
      if (nCorr == 0) assert(target.isEmpty)
    }
    assert(out.keySet == Set(1L, 2L, 3L))
  }

  test("augmentGeom: rot90/flipH are exact index permutations, ids pack by variant") {
    import spark.implicits._
    // 4×4 column gradient v=64x: rot90 → row gradient 64y, flipH →
    // reversed columns 64(3−x); 1×1 patches read pixels back verbatim
    val png = graft.operators.Multimodal.grayscalePng(4, (x, _) => 64 * x)
    val meta = graft.operators.Multimodal.MediaMeta("image", 4, 4, 0, 0L, "png")
    val media = Seq(graft.operators.Multimodal.MediaRow(1L, png, meta)).toDS()
    val out = graft.operators.Multimodal
      .patchLumaGrid(graft.operators.Multimodal.augmentGeom(media), grid = 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    for (x <- 0 until 4; y <- 0 until 4) {
      assert(out((10L, x, y)) == 64000L * x)       // identity
      assert(out((11L, x, y)) == 64000L * y)       // rot90: in(y, 3−x)
      assert(out((12L, x, y)) == 64000L * (3 - x)) // flipH: in(3−x, y)
    }
  }

  test("resizeNN: 2:1 downscale copies even-indexed pixels exactly, composes with patch grid") {
    import spark.implicits._
    // 4×4 column gradient v=64x → resized 2×2 pixel (x,y) = src(2x,2y)
    // = 128x; 1×1 patches read the pixels back verbatim
    val png = graft.operators.Multimodal.grayscalePng(4, (x, _) => 64 * x)
    val meta = graft.operators.Multimodal.MediaMeta("image", 4, 4, 0, 0L, "png")
    val media = Seq(graft.operators.Multimodal.MediaRow(1L, png, meta)).toDS()
    val resized = graft.operators.Multimodal.resizeNN(media, 2, 2)
    val m = resized.collect().head.meta
    assert(m.width == 2 && m.height == 2 && m.codec == "png")
    val grid = graft.operators.Multimodal.patchLumaGrid(resized, grid = 2)
      .collect().map(r => (r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
    assert(grid == Map((0, 0) -> 0L, (0, 1) -> 0L,
      (1, 0) -> 128000L, (1, 1) -> 128000L))
  }

  test("joinNearest: backward/forward election, exact-midpoint tie breaks backward, one-sided edges") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val right = Seq(("k", ts(100), 1.0), ("k", ts(200), 2.0))
      .toDF("key", "ts", "v")
    val left = Seq(
      ("k", ts(140)), // Δ40 back vs Δ60 fwd -> 1.0
      ("k", ts(160)), // Δ60 back vs Δ40 fwd -> 2.0
      ("k", ts(150)), // exact midpoint -> backward 1.0
      ("k", ts(50)),  // nothing behind -> forward 1.0
      ("k", ts(250)), // nothing ahead -> backward 2.0
      ("z", ts(100))  // no rights at all -> null
    ).toDF("key", "ts")
    val out = graft.operators.AsOf.joinNearest(left, right,
        "key", "ts", "v", "nearest")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000,
        Option(r.get(2)))).toSet
    assert(out == Set(
      ("k", 140L, Some(1.0)), ("k", 160L, Some(2.0)),
      ("k", 150L, Some(1.0)), ("k", 50L, Some(1.0)),
      ("k", 250L, Some(2.0)), ("z", 100L, None)))
  }

  test("label propagation: hand-computed synchronous rounds (most-frequent neighbor, ties to smallest)") {
    import spark.implicits._
    // triangle 1-2-3 + pendant 4 on 3. Round 1 (all labels distinct, so
    // every election is a tie -> min neighbor): 1->2, 2->1, 3->1, 4->3.
    // Round 2: v1 sees {1,1} -> 1 by count; v2 sees {2,1} tie -> 1;
    // v3 sees {2,1,3} tie -> 1; v4 sees {1} -> 1.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("u", "v")
    def lbls(rounds: Int) = graft.operators.Graphs
      .labelPropagation(edges, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbls(1) == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L))
    assert(lbls(2) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // modularity sanity on the converged single community: Q of the
    // whole-graph partition is exactly 0 (e_c = m, d_c = 2m ⇒
    // 4·m·m − (2m)² = 0) — the integer lane must land exactly there
    // m=4: q_num = 4·4·4 − 8² = 0
  }

  test("ANN training samples are row-budget-bounded at every SF (stride derived from a corpus count, not caller-supplied)") {
    // the r9 verdict's ask: the driver-side Lloyd training collect must
    // be an operator invariant, never a caller burden. boundedStride
    // keeps the stride-sample within the budget at sf0.001/0.01/0.1
    // alike — same code, 100× data, same sample size.
    val sizes = Seq("sf0.001", "sf0.01", "sf0.1").flatMap { sf =>
      val p = s"/root/testdata/$sf/embeddings.parquet"
      if (!new java.io.File(p).exists()) None
      else {
        val e = spark.read.parquet(p).select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb"))
        val st = Similarity.boundedStride(e, budget = 64)
        val n = e.where(col("vec_id") % st === 0).count()
        assert(n <= 64 && n > 32, s"$sf: sample $n rows for budget 64")
        Some(n)
      }
    }
    assert(sizes.nonEmpty)
    // near-constant across 100× of corpus growth (ceil rounding slack)
    assert(sizes.max - sizes.min <= 2, s"sample sizes drift: $sizes")
  }

  test("persisted IVF-PQ index == in-memory ivfpqTopK row-for-row; codes-only cells") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centers = Array.fill(20)(unit(Array.fill(64)(rnd.nextGaussian())))
    val rows = for (c <- 0 until 20; j <- 0 until 10) yield {
      val v = unit(centers(c).map(_ + 0.05 * rnd.nextGaussian()))
      (c * 10L + j, v.toSeq)
    }
    val corpus = rows.toDF("vec_id", "emb").localCheckpoint(true)
    val mem = Similarity.ivfpqTopK(corpus, k = 3, stride = 50, nprobe = 2,
        m = 16, pqStride = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val root = java.nio.file.Files
      .createTempDirectory("pq-idx-spec").toString + "/idx"
    Similarity.buildIvfPqIndex(corpus, root, stride = 50, m = 16)
    val q = corpus.select(col("vec_id").as("qid"), col("emb").as("qemb"))
    val disk = Similarity.ivfPqIndexTopK(spark, root, q, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(disk == mem) // same sampling + kernels -> bit-equal adist
    // the index stores CODES, never embeddings — the compressed shape
    // ((batch, cell) are partition-dir labels, not data)
    val cellCols = spark.read.parquet(s"$root/pqcells").columns.toSet
    assert(cellCols == Set("vec_id", "codes", "cell", "batch"))
  }

  test("applyIvfPqBatch: commit gate, crashed-dir repair, and new-id content re-delivery fold to exactly-once") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (0L until 40L).map(i =>
      (i, Array.fill(64)(rnd.nextGaussian()).toSeq))
    val corpus = rows.toDF("vec_id", "emb").localCheckpoint(true)
    val root = java.nio.file.Files
      .createTempDirectory("pq-apply-spec").toString + "/idx"
    Similarity.writeIvfPqQuantizers(corpus, root, stride = 10, m = 16)
    val h1 = corpus.where(col("vec_id") < 20)
    val h2 = corpus.where(col("vec_id") >= 20)
    assert(Similarity.applyIvfPqBatch(spark, root, h1, 0L))
    def ids() = spark.read.parquet(s"$root/pqcells")
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(ids().sorted == (0L until 20L))
    // simulate a CRASHED batch-1 attempt: half-landed files, no marker
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$root/pqcells/batch=0"), fs,
      new org.apache.hadoop.fs.Path(s"$root/pqcells/batch=1"),
      false, spark.sparkContext.hadoopConfiguration)
    // the retry repairs the crashed dir, then lands batch 1 cleanly
    assert(Similarity.applyIvfPqBatch(spark, root, h2, 1L))
    assert(ids().sorted == (0L until 40L)) // no dupes from the crash
    // checkpoint replay of a committed id: skipped outright
    assert(!Similarity.applyIvfPqBatch(spark, root, h2, 1L))
    // at-least-once under a NEW id: every row drops by content
    assert(Similarity.applyIvfPqBatch(spark, root, h1, 2L))
    assert(ids().sorted == (0L until 40L))
  }

  test("ivfPqIndexTopK prunes to probed cells — demolition proof") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    // well-separated clusters so the probe list is stable
    val centers = Array.fill(10)(unit(Array.fill(64)(rnd.nextGaussian())))
    val rows = for (c <- 0 until 10; j <- 0 until 10) yield {
      val v = unit(centers(c).map(_ + 0.02 * rnd.nextGaussian()))
      (c * 10L + j, v.toSeq)
    }
    val corpus = rows.toDF("vec_id", "emb").localCheckpoint(true)
    val root = java.nio.file.Files
      .createTempDirectory("pq-prune-spec").toString + "/idx"
    Similarity.buildIvfPqIndex(corpus, root, stride = 10, m = 16)
    val q = corpus.where(col("vec_id") === 0L)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    val before = Similarity.ivfPqIndexTopK(spark, root, q, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // staged-dir guard (r13): hidden pre-publish trees from the delete/
    // compact lanes must never reach a search — partition discovery
    // skips dot-prefixed dirs AND the search's heal rolls them back
    spark.range(1).select(lit(424242L).as("vec_id"),
        typedLit(Seq.fill(16)(7)).as("codes"), lit(0L).as("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/.ivfpq_stage")
    spark.range(1).select(lit(424243L).as("vec_id"),
        typedLit(Seq.fill(16)(7)).as("codes"), lit(0L).as("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/.ivfpq_cstage")
    assert(Similarity.ivfPqIndexTopK(spark, root, q, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet == before, "staged trees leaked into a search")
    val sfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!sfs.exists(new org.apache.hadoop.fs.Path(s"$root/.ivfpq_stage")) &&
      !sfs.exists(new org.apache.hadoop.fs.Path(s"$root/.ivfpq_cstage")),
      "the search's heal must roll back bare stage trees")
    // demolition: delete every cell dir whose content the answer does
    // not depend on — the search must answer identically afterwards
    // (its candidate scan is the probed-cell partition filter; nothing
    // outside it can matter, deleted or not)
    val keepCells = spark.read.parquet(s"$root/pqcells")
      .where(col("vec_id").isin(
        (before.map(_._2) + 0L).toSeq.map(Long.box): _*))
      // partition-discovered `cell` infers as INT on small dir values
      .select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    new java.io.File(s"$root/pqcells").listFiles()
      .filter(_.getName.startsWith("batch=")).flatMap(_.listFiles())
      .filter(d => d.getName.startsWith("cell=") &&
        !keepCells.contains(d.getName.stripPrefix("cell=").toLong))
      .foreach(f => graft.core.DatapointStore.rmTree(f.getPath))
    val after = Similarity.ivfPqIndexTopK(spark, root, q, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == before)
  }

  test("ivfpqTopK: ADC retrieves semantic neighbors on clustered data; carries signal on the gate corpus") {
    import spark.implicits._
    // 1) PQ's design regime — clustered embeddings: 40 tight clusters of
    // 12 on the unit sphere (fixed seed → deterministic forever). The
    // semantic property ADC must deliver: retrieved top-3 are CLUSTER
    // MATES. (Exact top-3 set-identity is the wrong bar inside a tight
    // cluster: mates are equidistant to within the quantization error.)
    val rnd = new scala.util.Random(7)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centers = Array.fill(40)(unit(Array.fill(64)(rnd.nextGaussian())))
    val rows = for (c <- 0 until 40; j <- 0 until 12) yield {
      val v = unit(centers(c).map(_ + 0.05 * rnd.nextGaussian()))
      (c * 12L + j, v.toSeq)
    }
    val corpus = rows.toDF("vec_id", "emb")
    val top = Similarity.ivfpqTopK(corpus, k = 3, stride = 50, nprobe = 2,
        m = 16, pqStride = 5)
      .select("qid", "cid").collect()
    val sameCluster = top.count(r => r.getLong(0) / 12 == r.getLong(1) / 12)
    val frac = sameCluster.toDouble / top.length
    assert(frac >= 0.9, s"clustered corpus: same-cluster top-3 frac = $frac")
    // Lloyd-trained codebooks (production lane) must not regress the
    // sampled-codebook baseline on its design regime
    val trained = Similarity.ivfpqTopKTrained(corpus, k = 3, stride = 50,
        nprobe = 2, m = 16, pqStride = 5)
      .select("qid", "cid").collect()
    val fracT = trained.count(r => r.getLong(0) / 12 == r.getLong(1) / 12)
      .toDouble / trained.length
    assert(fracT >= frac - 0.02,
      s"trained PQ regressed: $fracT vs untrained $frac")

    // 2) gate corpus (RANDOM unit vectors — PQ's worst case by distance
    // concentration: quantization error ~ inter-point distances, so
    // absolute recall is structurally modest; the clustered pin above is
    // the quality bar). Sanity floor: far above the 3/499 chance level.
    val path = "/root/testdata/sf0.001/embeddings.parquet"
    assume(new java.io.File(path).exists())
    val e = spark.read.parquet(path)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val pq = Similarity.ivfpqTopK(e, k = 3, stride = 50, nprobe = 2, m = 16)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def l2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var hit = 0; var tot = 0
    vecs.keys.foreach { q =>
      val exact = vecs.keys.filter(_ != q).toSeq
        .sortBy(c => (l2(vecs(q), vecs(c)), c)).take(3).toSet
      tot += 3; hit += exact.count(pq.getOrElse(q, Set.empty).contains)
    }
    val recall = hit.toDouble / tot
    assert(recall >= 0.15,
      s"$path: IVFPQ recall vs exact-L2 top-3 = $recall (chance ~ 0.006)")
  }

  test("sampleWeighted: deterministic PPS — heavy rows dominate, formula is engine-portable") {
    import spark.implicits._
    // one 10^9-weight row among 200 weight-1 rows: its priority is u//1e9
    // (≲ 1.2e9) vs ~1e16 for the best weight-1 row — with the fixed seed
    // this is a stable outcome, not a probabilistic claim
    val df = (0L until 201L).map(i => (i, if (i == 0) 1000000000L else 1L))
      .toDF("doc_id", "wt")
    val top = graft.operators.Pipeline.sampleWeighted(df, k = 1, seed = "t",
      weightCol = "wt").collect()
    assert(top.length == 1 && top(0).getLong(0) == 0L)
    // priority formula spot-check: u = first 15 md5 hex chars of
    // "t:7" as a BIGINT, floor-divided by the weight
    val u = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex("t:7").take(15), 16)
    val p7 = graft.operators.Pipeline.sampleWeighted(df, k = 201, seed = "t",
      weightCol = "wt").where(col("doc_id") === 7L)
      .select("priority").head().getLong(0)
    assert(p7 == u / 1L)
    // k smallest by priority, exactly k rows, stable across runs
    val a = graft.operators.Pipeline.sampleWeighted(df, k = 40, seed = "s2",
      weightCol = "wt").select("doc_id").collect().map(_.getLong(0)).toSeq
    val b = graft.operators.Pipeline.sampleWeighted(df, k = 40, seed = "s2",
      weightCol = "wt").select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(a == b && a.length == 40)
  }

  test("dsirScores: hashed-feature importance weights rank target-like docs first") {
    import spark.implicits._
    // two disjoint vocabularies: target docs draw from alpha*, background
    // from beta*. A doc's score must be monotone in its target-vocab
    // fraction — and an UNLABELED doc written in the target vocabulary
    // must score like the target (DSIR selects by distribution, not by
    // label; that's the whole point of importance resampling).
    val tv = (0 until 8).map(i => s"alpha$i")
    val ov = (0 until 8).map(i => s"beta$i")
    def words(v: Seq[String], n: Int, seed: Int) = {
      val r = new scala.util.Random(seed)
      Seq.fill(n)(v(r.nextInt(v.length))).mkString(" ")
    }
    val rows =
      (0L until 6L).map(i => (i, "tt", words(tv, 20, i.toInt))) ++
      (10L until 16L).map(i => (i, "xx", words(ov, 20, i.toInt))) ++
      Seq((20L, "xx", words(tv, 20, 99)),
          (21L, "xx", words(tv, 10, 7) + " " + words(ov, 10, 8)))
    val df = rows.toDF("doc_id", "lang", "text")
    val sc = graft.operators.Pipeline
      .dsirScores(df, col("lang") === "tt", buckets = 512)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sc.size == rows.size)
    val pureTarget = (0L until 6L) :+ 20L
    val background = 10L until 16L
    assert(pureTarget.map(sc).min > sc(21L),
      "every pure-target-vocab doc (incl. the unlabeled one) outranks half-half")
    assert(sc(21L) > background.map(sc).max,
      "half-half outranks every pure-background doc")
  }

  test("triangleCounts: K4 + pendant — exact per-vertex corners, pendant sees none") {
    import spark.implicits._
    // K4 on {1,2,3,4}: every vertex corners C(3,2)=3 triangles (4 total);
    // pendant edge 4-5 adds no triangle and vertex 5 must not appear
    val edges = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),(4L,5L))
      .toDF("u", "v")
    val tc = graft.operators.Graphs.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tc == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("cooccurrenceEdges: support threshold and basket purge") {
    import spark.implicits._
    // baskets: (g1: a,b,c) (g2: a,b) (g3: a,b,c) — (a,b) support 3,
    // (a,c)/(b,c) support 2; g4 is an oversized basket that must be
    // purged entirely (block-purging guard)
    val rows = Seq(("g1","a"),("g1","b"),("g1","c"),("g2","a"),("g2","b"),
      ("g3","a"),("g3","b"),("g3","c")) ++
      (0 until 50).map(i => ("g4", s"x$i"))
    val df = rows.toDF("g", "item")
    val e = graft.operators.Graphs
      .cooccurrenceEdges(df, "g", "item", minSupport = 2, maxBasket = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(e == Map(("a","b") -> 3L, ("a","c") -> 2L, ("b","c") -> 2L))
  }

  test("resolveEntities: typo variants collapse, near-names outside the gate stay apart") {
    import spark.implicits._
    val df = Seq(
      (1L, "acme corp"), (2L, "acme corp"), (3L, "acmee corp"), // 1-edit typo
      (4L, "ajax corp"),                                        // dist 3 > gate
      (5L, "zeta ltd"), (6L, "zeta ltd."))                      // block miss: noun differs
      .toDF("id", "name")
      .withColumn("blk", element_at(split(col("name"), " "), -1))
    val r = graft.operators.Resolve
      .resolveEntities(df, "name", "blk", maxDist = 2)
      .collect().map(x => x.getAs[Long]("id") -> x.getAs[String]("entity_id")).toMap
    assert(r(1L) == "acme corp" && r(2L) == "acme corp" && r(3L) == "acme corp",
      "typo cluster collapses to its min value")
    assert(r(4L) == "ajax corp", "dist-3 neighbor stays its own entity")
    // blocking is a recall/cost trade: variant nouns land in different
    // blocks and are never candidates — documented behavior, pinned here
    assert(r(5L) == "zeta ltd" && r(6L) == "zeta ltd.")
  }

  test("FreqRollup exact mode: fold≡direct≡groupBy while distinct fits capacity") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val items = Array("a", "b", "c", "d", "e", "f")
    val rows = (0 until 2000).map { i =>
      val sec = 1700000000L + rnd.nextInt(3 * 86400)
      (new java.sql.Timestamp(sec * 1000L), items(rnd.nextInt(items.length)))
    }
    val df = rows.toDF("tsec", "event_type")
    val hourly = graft.operators.FreqRollup
      .sketchBuckets(df, "event_type", "tsec", 3600L)
    val viaFold = graft.operators.FreqRollup
      .topK(graft.operators.FreqRollup.foldSketches(hourly, 86400L), 10)
      .select("t", "item", "est")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val direct = graft.operators.FreqRollup
      .topK(graft.operators.FreqRollup.sketchBuckets(df, "event_type", "tsec", 86400L), 10)
      .select("t", "item", "est")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val exact = df.groupBy(
        timestamp_seconds(expr("CAST(floor(unix_timestamp(tsec) / 86400) * 86400 AS BIGINT)")).as("t"),
        col("event_type"))
      .count()
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(viaFold == exact, "folded sketch estimates are exact counts")
    assert(direct == exact, "direct sketch estimates are exact counts")
  }

  test("FreqRollup past capacity: no false negatives, bounds bracket truth") {
    import spark.implicits._
    // 500 distinct items >> map capacity 64; three planted heavy hitters
    // carry ~45% of the stream. The published guarantee: under
    // NO_FALSE_NEGATIVES every item with true count above the error
    // bound is returned, and lb <= true <= ub for returned items.
    val rnd = new scala.util.Random(11)
    val n = 6000
    val rows = (0 until n).map { i =>
      val item =
        if (i % 20 < 3) s"hot${i % 20}"          // hot0/hot1/hot2: 300 each... 3/20 of 6000 = 900 total
        else s"cold${rnd.nextInt(500)}"
      (new java.sql.Timestamp(1700000000L * 1000L), item)
    }
    val df = rows.toDF("tsec", "item")
    val hits = graft.operators.FreqRollup
      .topK(graft.operators.FreqRollup.sketchBuckets(df, "item", "tsec", 86400L,
        maxMapSize = 64), 1000)
      .select("item", "est", "lb", "ub")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val truth = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val hot = Seq("hot0", "hot1", "hot2")
    hot.foreach { h =>
      assert(hits.contains(h), s"$h (true=${truth(h)}) must survive the sketch")
      val (_, lb, ub) = hits(h)
      assert(lb <= truth(h) && truth(h) <= ub, s"$h bounds bracket truth")
    }
  }

  test("theta sketches exact mode: and/or/not reproduce true set algebra") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // A = [0, 300), B = [200, 500): |A|=300 |B|=300 |A∩B|=100 |A∪B|=500
    // |A\B|=200 — all under 2^12 nominal entries, so exact
    val df = ((0L until 300L).map(("a", _)) ++ (200L until 500L).map(("b", _)))
      .toDF("seg", "id")
    val sk = df.groupBy().agg(
      expr("graft_theta_agg(CASE WHEN seg = 'a' THEN id END, 12)").as("sa"),
      expr("graft_theta_agg(CASE WHEN seg = 'b' THEN id END, 12)").as("sb"))
    val r = sk.select(
      expr("graft_theta_est(sa)"), expr("graft_theta_est(sb)"),
      expr("graft_theta_est(graft_theta_and(sa, sb))"),
      expr("graft_theta_est(graft_theta_or(sa, sb))"),
      expr("graft_theta_est(graft_theta_not(sa, sb))")).head()
    assert((0 until 5).map(r.getLong) == Seq(300L, 300L, 100L, 500L, 200L))
  }

  test("theta sketches: fold over partial sketches ≡ direct, estimation error bounded") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // 120k distinct ids >> 2^12 entries — estimation mode. RSE at lgK=12
    // is ~1/sqrt(4096) ≈ 1.6%; assert within 5σ. Fold path: 24 partial
    // sketches unioned ≡ one direct sketch (same theta, same hash set
    // semantics — estimates must agree to the same bound).
    val n = 120000L
    val df = (0L until n).map(i => (i % 24, i)).toDF("part", "id")
    val partials = df.groupBy("part").agg(expr("graft_theta_agg(id, 12)").as("sk"))
    val folded = partials.agg(expr("graft_theta_union(sk, 12)").as("sk"))
      .select(expr("graft_theta_est(sk)")).head().getLong(0)
    val direct = df.agg(expr("graft_theta_agg(id, 12)").as("sk"))
      .select(expr("graft_theta_est(sk)")).head().getLong(0)
    val tol = 5 * 0.016 * n
    assert(math.abs(folded - n) <= tol, s"folded=$folded vs n=$n")
    assert(math.abs(direct - n) <= tol, s"direct=$direct vs n=$n")
  }

  test("linearProbe: recovers a planted linear separator from sufficient statistics") {
    import spark.implicits._
    // ground truth: w_true on 16 dims, y = 1[x·w_true > 0] on pseudo-
    // random unit-ish features. Ridge on 0/1 targets learns a direction
    // proportional to w_true — sign accuracy at the 0.5 threshold must
    // be near-perfect on separable data.
    val dims = 16
    val rnd = new scala.util.Random(42)
    val wTrue = Array.tabulate(dims)(i => if (i % 2 == 0) 1.0 else -0.5)
    val rows = (0 until 2000).map { i =>
      val x = Array.fill(dims)(rnd.nextDouble() * 2 - 1)
      val y = if (x.zip(wTrue).map(p => p._1 * p._2).sum > 0) 1L else 0L
      (i.toLong, x.toSeq, y)
    }
    val df = rows.toDF("id", "emb", "y")
    val w = graft.operators.Probe.linearProbe(df, "emb",
      col("y") === 1L, dims, lambda = 1e-4)
    val scored = graft.operators.Probe.score(df, w, "emb")
      .select(col("y"), (col("score") > 0.5).cast("long").as("pred"))
      .collect()
    val acc = scored.count(r => r.getLong(0) == r.getLong(1)).toDouble / scored.length
    assert(acc >= 0.93, s"probe sign accuracy $acc")
  }

  test("multiProbe: one pass ≡ per-class linearProbe; planted 3-class recovery") {
    import spark.implicits._
    val dims = 12
    val rnd = new scala.util.Random(9)
    // planted heads: class = argmax_c (x · h_c)
    val hTrue = Array.tabulate(3, dims)((c, i) =>
      math.sin(c * 5 + i * 1.7) * (if (i % 3 == c % 3) 1.5 else 0.3))
    val rows = (0 until 1500).map { i =>
      val x = Array.fill(dims)(rnd.nextDouble() * 2 - 1)
      val cls = (0 until 3).maxBy(c => x.zip(hTrue(c)).map(p => p._1 * p._2).sum)
      (i.toLong, x.toSeq, cls.toLong)
    }
    val df = rows.toDF("id", "emb", "cls")
    val heads = graft.operators.Probe.multiProbe(df, "emb", col("cls"), dims, 3)
    // head c from the shared-Gram pass must equal the standalone probe
    for (c <- 0 until 3) {
      val solo = graft.operators.Probe.linearProbe(df, "emb",
        col("cls") === c.toLong, dims)
      heads(c).zip(solo).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"head $c diverges from solo probe")
      }
    }
    val scored = graft.operators.Probe.scoreMulti(df, heads, "emb")
      .select("cls", "pred_class").collect()
    val acc = scored.count(r => r.getLong(0) == r.getLong(1)).toDouble / scored.length
    assert(acc >= 0.85, s"argmax-head accuracy $acc")
  }

  test("Probe.solve: Gaussian elimination inverts a known system") {
    val a = Array(Array(4.0, 1.0, 0.0), Array(1.0, 3.0, 1.0), Array(0.0, 1.0, 2.0))
    val x = Array(1.0, -2.0, 3.0)
    val b = a.map(row => row.zip(x).map(p => p._1 * p._2).sum)
    val got = graft.operators.Probe.solve(a.map(_.clone()), b.clone())
    x.zip(got).foreach { case (e, g) => assert(math.abs(e - g) < 1e-9) }
  }

  test("PQ kernels reproduce the declarative encode/ADC semantics exactly") {
    import spark.implicits._
    // fused graft_pq_encode/graft_pq_adc vs a driver-side reference of
    // the semantics they replaced: argmin over (self − 2·dot) + |c|²
    // with ties to the lowest entry, ADC summed s ascending left-assoc.
    // Bit-equality (==) on the doubles, not tolerance — the oracle SQL
    // depends on it.
    val rnd = new scala.util.Random(11)
    val rows = (0L until 60L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian())))
    val corpus = rows.toDF("vec_id", "emb")
    val m = 4
    val sub = 4
    val got = Similarity.ivfpqTopK(corpus, k = 3, stride = 10, nprobe = 2,
        m = m, pqStride = 3, ksubMax = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // reference: rebuild codebook (stride-3 sample, first 8), encode all,
    // ADC per pair — plain Scala, no Spark
    val vecs = rows.toMap
    val books = (0 until m).map { s0 =>
      rows.filter(_._1 % 3 == 0).take(8)
        .map(_._2.slice(s0 * sub, s0 * sub + sub).toArray)
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def codeOf(v: Seq[Double], s0: Int): Int = {
      val q = v.slice(s0 * sub, s0 * sub + sub).toArray
      val self = dot(q, q)
      var best = 0; var bd = Double.PositiveInfinity
      for (j <- books(s0).indices) {
        val c = books(s0)(j)
        val d2 = (self - 2.0 * dot(q, c)) + c.map(x => x * x).sum
        if (d2 < bd) { bd = d2; best = j }
      }
      best
    }
    def adcOf(q: Seq[Double], cid: Long): Double = {
      var acc = 0.0
      for (s0 <- 0 until m) {
        val qs = q.slice(s0 * sub, s0 * sub + sub).toArray
        val c = books(s0)(codeOf(vecs(cid), s0))
        acc += (dot(qs, qs) - 2.0 * dot(qs, c)) + c.map(x => x * x).sum
      }
      acc
    }
    assert(got.nonEmpty)
    got.foreach { case ((qid, cid), adist) =>
      assert(adist == adcOf(vecs(qid), cid),
        s"ADC mismatch for ($qid,$cid)")
    }
  }

  test("DimStats: aggregator path equals the posexplode/groupBy formulation") {
    import spark.implicits._
    // 7 rows x 3 dims, repartitioned so merge() runs across real partials
    val rows = (0 until 7).map(i =>
      Tuple1(Seq(i * 0.31 - 1.0, math.sin(i.toDouble), 0.001 * i)))
    val df = rows.toDF("embedding").repartition(3)
    val got = graft.operators.DimStats.dimStats(df, "embedding")
      .orderBy("dim").collect()
    // explode formulation with the SAME fixed-point recipe
    val exp = df.select(posexplode(col("embedding").cast("array<double>")))
      .select((col("pos") + 1).cast("long").as("dim"), col("col").as("raw"))
      .withColumn("fp", floor(col("raw") * lit(1000000.0)).cast("long"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("fp").as("sum_fp"),
        sum(col("fp") * col("fp")).as("sumsq_fp"),
        min("raw").as("vmin"), max("raw").as("vmax"))
      .orderBy("dim").collect()
    assert(got.length == 3)
    got.zip(exp).foreach { case (g, e) =>
      assert(g.getLong(0) == e.getLong(0), "dim")
      assert(g.getLong(1) == e.getLong(1), "n")
      assert(g.getLong(2) == e.getAs[Long]("sum_fp"), "sum_fp")
      assert(g.getLong(3) == e.getAs[Long]("sumsq_fp"), "sumsq_fp")
      assert(g.getDouble(6) == e.getAs[Double]("vmin"), "vmin")
      assert(g.getDouble(7) == e.getAs[Double]("vmax"), "vmax")
      val mean = e.getAs[Long]("sum_fp").toDouble / (e.getAs[Long]("n") * 1e6)
      assert(g.getDouble(4) == mean, "mean")
    }
  }

  test("DimStats: empty input yields zero rows, single row yields zero std") {
    import spark.implicits._
    val empty = Seq.empty[Tuple1[Seq[Double]]].toDF("embedding")
    assert(graft.operators.DimStats.dimStats(empty, "embedding").count() == 0)
    val one = Seq(Tuple1(Seq(0.5, -0.25))).toDF("embedding")
    val r = graft.operators.DimStats.dimStats(one, "embedding")
      .orderBy("dim").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // exact fixed-point: floor(0.5e6)=500000, mean exactly 0.5, std 0
    assert(r(0).getAs[Long]("sum_fp") == 500000L)
    assert(r(0).getAs[Double]("mean") == 0.5)
    assert(r.forall(_.getAs[Double]("std_dev") == 0.0))
  }

  test("bfsDistances: hop counts on a hand graph, depth cap, multi-source min") {
    import spark.implicits._
    // path 1-2-3-4-5 plus branch 2-6, isolated edge 8-9
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 6L),
      (8L, 9L)).toDF("u", "v")
    val seeds = Seq(Tuple1(1L)).toDF("v")
    val d = graft.operators.Graphs.bfsDistances(edges, seeds, maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 6L -> 2L),
      s"depth-2 BFS from 1: $d") // 4 is 3 hops (capped), 8/9 unreachable
    // multi-source: nearest seed wins (5 is 1 hop from seed 4, not 4 from 1)
    val seeds2 = Seq(Tuple1(1L), Tuple1(4L)).toDF("v")
    val d2 = graft.operators.Graphs.bfsDistances(edges, seeds2, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d2(5L) == 1L && d2(3L) == 1L && d2(2L) == 1L && d2(6L) == 2L)
  }

  test("kAnonymityReport: class sizes, l-diversity, suppression flag") {
    import spark.implicits._
    val df = Seq(
      ("a", 1, "x"), ("a", 1, "y"), ("a", 1, "x"),
      ("b", 2, "x"), ("b", 2, "x")).toDF("qi1", "qi2", "sens")
    val r = graft.operators.Pipeline
      .kAnonymityReport(df, Seq("qi1", "qi2"), "sens", k = 3)
      .orderBy("qi1").collect()
    assert(r.length == 2)
    assert(r(0).getAs[Long]("class_size") == 3L &&
      r(0).getAs[Long]("l_diversity") == 2L &&
      !r(0).getAs[Boolean]("suppressed"))
    assert(r(1).getAs[Long]("class_size") == 2L &&
      r(1).getAs[Long]("l_diversity") == 1L &&
      r(1).getAs[Boolean]("suppressed"))
  }

  test("autocorr: a perfectly periodic series has ACF(+period)=1, half-period=-1") {
    import spark.implicits._
    // period-2 alternation 10,20,10,20,… → r1 = −1, r2 = +1
    val df = (0 until 40)
      .map(i => ("s", i.toLong, if (i % 2 == 0) 10.0 else 20.0))
      .toDF("k", "sec", "v")
    val r = graft.operators.Temporal.autocorr(df, "k", "sec", "v", Seq(1, 2))
      .collect().map(x => x.getAs[Int]("lag") -> x.getAs[Double]("acf")).toMap
    assert(r(1) == -1.0, s"lag-1 on alternating series: ${r(1)}")
    assert(r(2) == 1.0, s"lag-2 on alternating series: ${r(2)}")
    // constant series: zero variance → acf is null on every lag
    val const = (0 until 10).map(i => ("c", i.toLong, 5.0)).toDF("k", "sec", "v")
    val rc = graft.operators.Temporal.autocorr(const, "k", "sec", "v", Seq(1))
      .collect()
    assert(rc.length == 1 && rc(0).isNullAt(rc(0).fieldIndex("acf")))
  }

  test("changepoint: recovers an injected level shift at the exact split") {
    import spark.implicits._
    // 20 points at 10.0 then 20 points at 50.0 → split after p=20
    val df = (0 until 40)
      .map(i => ("s", i.toLong, if (i < 20) 10.0 else 50.0))
      .toDF("k", "sec", "v")
    val r = graft.operators.Temporal.changepoint(df, "k", "sec", "v")
      .collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("split_pos") == 20L, s"split: ${r(0)}")
    assert(r(0).getAs[Long]("split_at") == 19L)
    assert(r(0).getAs[Double]("mean_left") == 10.0)
    assert(r(0).getAs[Double]("mean_right") == 50.0)
    // all-equal series: every split scores 0 → tiebreak picks p=1
    val const = (0 until 8).map(i => ("c", i.toLong, 3.0)).toDF("k", "sec", "v")
    val rc = graft.operators.Temporal.changepoint(const, "k", "sec", "v")
      .collect()
    assert(rc.length == 1 && rc(0).getAs[Long]("split_pos") == 1L &&
      rc(0).getAs[Double]("score") == 0.0)
  }

  test("acf/changepoint invariances hold EXACTLY in the integer lane") {
    import spark.implicits._
    // deterministic LCG series over two streams — irregular but fixed
    var seed = 12345L
    def next(): Double = {
      seed = (seed * 6364136223846793005L + 1442695040888963407L) >>> 1
      // DYADIC values (m/8): v, v+7 and 3v are all exactly representable
      // and scale to exact integers under ·1000 — decimal fractions like
      // k/100 are NOT binary-exact and would leak ulp noise into floor()
      (seed % 8000L) / 8.0 // [0, 1000) in eighths
    }
    val base = (0 until 80).map(i => (s"s${i % 2}", i.toLong, next()))
    def acf(rows: Seq[(String, Long, Double)]) =
      graft.operators.Temporal
        .autocorr(rows.toDF("k", "sec", "v"), "k", "sec", "v", Seq(1, 2))
        .collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getAs[Double]("acf"))
        .toMap
    def cp(rows: Seq[(String, Long, Double)]) =
      graft.operators.Temporal
        .changepoint(rows.toDF("k", "sec", "v"), "k", "sec", "v")
        .collect()
        .map(r => r.getString(0) ->
          (r.getAs[Long]("split_pos"), r.getAs[Long]("diff_fp"),
            r.getAs[Double]("score"))).toMap
    // Pearson ACF is shift-invariant, and for INTEGER-MILLI shifts the
    // fixed-point lane preserves that invariance EXACTLY (q -> q + s
    // cancels algebraically in n·C − SA·SB and both denominators)
    val shifted = base.map { case (k, t, v) => (k, t, v + 7.0) }
    assert(acf(base) == acf(shifted),
      "ACF must be bit-identical under an integer-milli shift")
    // changepoint diff_fp = S_p(n−p) − (S_n−S_p)p is shift-invariant by
    // the same cancellation; score and split follow
    assert(cp(base) == cp(shifted),
      "changepoint must be bit-identical under an integer-milli shift")
    // and the SPLIT (argmax) is scale-invariant: v -> 3v scales every
    // diff by 3, never reordering candidates
    val scaled = base.map { case (k, t, v) => (k, t, v * 3.0) }
    val (b, s3) = (cp(base), cp(scaled))
    assert(b.keySet == s3.keySet &&
      b.forall { case (k, (pos, diff, _)) =>
        s3(k)._1 == pos && s3(k)._2 == 3L * diff },
      "changepoint split is scale-invariant, diff scales exactly 3x")
  }

  test("goertzel tone detection: synthesized sines round-trip the WAV parser to the right bin") {
    import spark.implicits._
    val m = graft.operators.Multimodal
    // the synthesized container must parse back through the PRODUCTION
    // RIFF walker with the expected shape
    val bytes = m.sineWav(440.0, 2000, 8000)
    val w = m.parseWav(bytes).get
    assert(w.channels == 1 && w.sampleRate == 8000 &&
      w.bitsPerSample == 16 && w.nFrames == 2000)
    // amplitude 0.6 FS survives the int16 round-trip
    assert(math.abs(w.samples.map(math.abs(_)).max - 0.6) < 0.01)
    // tone power dominates off-tone bins by orders of magnitude
    val mono = w.samples.map(_.toDouble)
    val on = m.goertzelPower(mono, 8000, 440.0)
    val off = m.goertzelPower(mono, 8000, 1000.0)
    assert(on > 0.05, s"on-bin power $on") // ≈ (0.6/2)² = 0.09
    assert(off < on / 1000.0, s"off-bin leakage $off vs $on")
    // end-to-end dataset op: two tracks, distinct tones, non-WAV bytes
    val media = Seq(
      (1L, m.sineWav(700.0, 2000, 8000)),
      (2L, m.sineWav(1500.0, 2000, 8000)),
      (3L, "not audio at all".getBytes("UTF-8")))
      .toDF("media_id", "content")
    val got = m.dominantTone(media, Seq(300.0, 700.0, 1100.0, 1500.0))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 700.0, 2L -> 1500.0, 3L -> -1.0))
  }

  test("tone-sequence fingerprint decodes every base-8 watermark digit") {
    import spark.implicits._
    val m = graft.operators.Multimodal
    val cands = (0 to 7).map(i => 300.0 + i * 200.0)
    // every digit value in every segment slot round-trips: ids chosen so
    // segment digits cover 0..7 incl. repeated and descending patterns
    val ids = Seq(0L, 7L, 8L, 63L, 511L, 4095L, 1234L, 2923L)
    val media = ids.map { id =>
      val freqs = (0 until 4).map(k => 300.0 + ((id >> (3 * k)) & 7L) * 200.0)
      (id, m.toneSequenceWav(freqs, 1000, 8000))
    }.toDF("media_id", "content")
    val got = m.toneFingerprint(media, cands, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id => assert(got(id) == id % 4096, s"id $id") }
    // degenerate inputs: non-audio bytes and a track shorter than the
    // segment count both emit the -1 sentinel, never throw
    val bad = Seq((1L, "junk".getBytes("UTF-8")),
      (2L, m.sineWav(500.0, 2, 8000)))
      .toDF("media_id", "content")
    val sent = m.toneFingerprint(bad, cands, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sent == Map(1L -> -1L, 2L -> -1L))
  }

  test("riff parser survives hostile bytes; mmr candidate scan plans as a top-k, not a global sort") {
    val m = graft.operators.Multimodal
    // fuzz: random bytes, truncated/corrupted real containers — parseWav
    // must return None or a valid parse, never throw (decoders run on
    // untrusted corpus bytes by contract)
    val rnd = new scala.util.Random(7)
    val real = m.sineWav(500.0, 400, 8000)
    val cases =
      (0 until 200).map(_ => Array.fill(rnd.nextInt(200))(rnd.nextInt().toByte)) ++
      (0 until 50).map(_ => real.take(rnd.nextInt(real.length))) ++
      (0 until 50).map { _ =>
        val b = real.clone(); b(12 + rnd.nextInt(b.length - 12)) = rnd.nextInt().toByte; b
      }
    cases.foreach { b => m.parseWav(b); m.parseAviFrames(b) } // must not throw
    // plan guard: emb_mmr's distributed half is orderBy+limit — Spark
    // must plan TakeOrderedAndProject (streaming top-k), never a global
    // Sort materialization of the scored corpus
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    import org.apache.spark.sql.functions.{broadcast, col}
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = e.where(col("vec_id") === 0).select(col("emb").as("qemb"))
    // mirror mmrSelect's candidate stage (its collect() hides the plan)
    graft.functions.GraftFunctions.register(spark)
    val scored = e.where(col("vec_id") =!= 0).join(broadcast(q))
      .withColumn("rel", org.apache.spark.sql.functions.expr(
        "graft_dot(qemb, emb) / (sqrt(graft_dot(qemb, qemb))" +
          " * sqrt(graft_dot(emb, emb)))"))
      .orderBy(col("rel").desc, col("vec_id")).limit(30)
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"candidate top-k must stream, got:\n$plan")
  }

  test("cusum: closed form equals the recurrence; alarms fire after an injected drift") {
    import spark.implicits._
    // series drifts +8.0 above target from i=30 on; threshold 20.0
    val vals = (0 until 60).map(i => if (i < 30) 10.0 else 18.0)
    val df = vals.zipWithIndex
      .map { case (v, i) => ("s", i.toLong, v) }.toDF("k", "sec", "v")
    val r = graft.operators.Temporal
      .cusumPoints(df, "k", "sec", "v", Some(10000L), 20000L)
      .orderBy("sec").collect()
    // reference recurrence, folded by hand
    var sP = 0L; var sM = 0L
    val want = vals.map { v =>
      val d = math.floor(v * 1000.0).toLong - 10000L
      sP = math.max(0L, sP + d); sM = math.max(0L, sM - d)
      (sP, sM)
    }
    assert(r.map(x => (x.getAs[Long]("s_plus_fp"),
      x.getAs[Long]("s_minus_fp"))).toSeq == want,
      "closed form must equal the max(0, S+d) recurrence")
    val firstAlarm = r.find(_.getAs[Boolean]("alarm")).map(_.getAs[Long]("sec"))
    // drift 8.0/point over threshold 20.0 → 3rd drifted point (sec 32)
    assert(firstAlarm.contains(32L), s"alarm at $firstAlarm")
    assert(!r.take(30).exists(_.getAs[Boolean]("alarm")),
      "no alarm before the drift")
  }

  test("pca: eigenpairs satisfy Cv=λv, components are orthonormal, runs are deterministic") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (evals, comps, mean) = graft.operators.Pca.fit(emb, "embedding", 64, 4)
    assert(evals.length == 4 && comps.length == 4)
    // eigenvalues sorted desc and non-negative (covariance is PSD)
    assert(evals.sliding(2).forall(p => p(0) >= p(1)))
    assert(evals.forall(_ >= -1e-12))
    // orthonormal components
    for (a <- comps.indices; b <- comps.indices) {
      val dot = comps(a).zip(comps(b)).map { case (x, y) => x * y }.sum
      val want = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"<c$a,c$b> = $dot")
    }
    // residual ‖Cv − λv‖∞ small: rebuild C exactly as fit does
    val rows = emb.select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    val n = rows.length.toDouble
    val d = 64
    val q = rows.map(_.map(x => math.floor(x * 65536.0)))
    val mu = Array.tabulate(d)(i => q.map(_(i)).sum / (65536.0 * n))
    val cov = Array.tabulate(d, d)((i, j) =>
      q.map(r => r(i) * r(j)).sum / (65536.0 * 65536.0 * n) - mu(i) * mu(j))
    assert(mu.zip(mean).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    for (e <- comps.indices) {
      val cv = Array.tabulate(d)(i =>
        (0 until d).map(j => cov(i)(j) * comps(e)(j)).sum)
      val resid = cv.zip(comps(e)).map { case (x, v) =>
        math.abs(x - evals(e) * v) }.max
      assert(resid < 1e-9, s"‖Cv−λv‖∞ for component $e: $resid")
    }
    // top eigenvalue dominates the average variance (it's the max of a
    // Rayleigh quotient whose trace-average is a lower bound)
    val trace = (0 until d).map(i => cov(i)(i)).sum
    assert(evals(0) >= trace / d - 1e-12)
    // determinism: a second fit is bit-identical
    val (e2, c2, m2) = graft.operators.Pca.fit(emb, "embedding", 64, 4)
    assert(evals.sameElements(e2) && m2.sameElements(mean) &&
      comps.zip(c2).forall { case (a, b) => a.sameElements(b) })
    // sign convention: each component's largest-|x| entry is positive
    for (c <- comps) assert(c(c.map(math.abs).zipWithIndex.maxBy(t => (t._1, -t._2))._2) > 0)
  }

  test("mmr: diversifies away near-duplicate candidates, pure-relevance at lambda=1") {
    import spark.implicits._
    // corpus: two tight clusters near the query + one distant-but-relevant
    // lone vector. Pure top-3 = the near cluster (ids 1,2,3); MMR at
    // λ=0.5 must break out of the cluster after one pick.
    val mk = (id: Long, v: Seq[Double]) => (id, v)
    val corpus = Seq(
      mk(1L, Seq(1.0, 0.01, 0.0)), mk(2L, Seq(1.0, 0.02, 0.0)),
      mk(3L, Seq(1.0, 0.03, 0.0)),
      mk(4L, Seq(0.6, 0.8, 0.0)), mk(5L, Seq(0.6, 0.81, 0.0)),
      mk(6L, Seq(0.5, 0.0, 0.87))).toDF("vec_id", "emb")
    val q = Seq(Tuple1(Seq(1.0, 0.1, 0.1))).toDF("qemb")
    val pure = graft.operators.Similarity
      .mmrSelect(corpus, q, candN = 6, k = 3, lambda = 1.0)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(pure == Seq(3L, 2L, 1L), s"λ=1 is pure relevance order: $pure")
    val div = graft.operators.Similarity
      .mmrSelect(corpus, q, candN = 6, k = 3, lambda = 0.5)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(div.head == 3L, "first pick is always the most relevant")
    assert(Set(4L, 5L, 6L).intersect(div.tail.toSet).nonEmpty,
      s"λ=0.5 escapes the near cluster: $div")
    assert(div.toSet.size == 3, "picks never repeat")
    // k beyond the candidate pool just exhausts it
    val all = graft.operators.Similarity
      .mmrSelect(corpus, q, candN = 4, k = 10, lambda = 0.7)
      .collect()
    assert(all.length == 4 &&
      all.map(_.getAs[Int]("rnk")).toSeq == Seq(1, 2, 3, 4))
  }

  test("pca projection: matches the driver-side model applied by hand") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(col("vec_id") < 50)
    val (_, comps, mean) = graft.operators.Pca.fit(emb, "embedding", 64, 2)
    val proj = graft.operators.Pca.project(emb, "embedding", "vec_id", 64, 2)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Double]("pc1"), r.getAs[Double]("pc2"))).toMap
    val byHand = emb.select(col("vec_id"),
        col("embedding").cast("array<double>")).collect()
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        val c = v.indices.map(i => v(i) - mean(i)).toArray
        def dot(w: Array[Double]) = {
          // graft_dot folds ascending — mirror it for bit-identity
          var s = 0.0; var i = 0
          while (i < c.length) { s += c(i) * w(i); i += 1 }
          s
        }
        r.getLong(0) -> (BigDecimal(dot(comps(0))).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble,
          BigDecimal(dot(comps(1))).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toMap
    assert(proj.keySet == byHand.keySet)
    for ((k, (a, b)) <- proj) {
      assert(math.abs(a - byHand(k)._1) < 1e-9, s"pc1 of $k: $a vs ${byHand(k)._1}")
      assert(math.abs(b - byHand(k)._2) < 1e-9, s"pc2 of $k")
    }
  }

  test("normalized dedup: case/punct/whitespace variants collapse, distinct texts do not") {
    import spark.implicits._
    val d = Seq(
      (0L, "Hello, World!  This is FINE."),
      (1L, "hello world this is fine"),
      (2L, "HELLO   world... THIS is fine?!"),
      (3L, "hello world this is not fine"),
      (4L, "an entirely different document")).toDF("doc_id", "text")
    val groups = Dedup.normalized(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(groups.length == 3)
    val byKeeper = groups.map(g => g._3 -> g._2).toMap
    // 0,1,2 normalize to the same key; keeper is the lowest id
    assert(byKeeper(0L) == 3L)
    assert(byKeeper(3L) == 1L && byKeeper(4L) == 1L)
  }

  test("knn classify: majority vote wins, vote ties break to the smallest label") {
    import spark.implicits._
    // axis-aligned corpus: qemb ~ e1 has 3 neighbors labeled 7 and 2
    // labeled 2 in its top-5 (votes 3-2 -> 7); q2 sits between two
    // 2-vote labels (1 and 9) plus a 1-vote label -> tie breaks to 1
    val corpus = Seq(
      (100L, Array(1.0, 0.0, 0.0), 7L), (101L, Array(0.99, 0.1, 0.0), 7L),
      (102L, Array(0.98, 0.15, 0.0), 7L), (103L, Array(0.9, 0.4, 0.0), 2L),
      (104L, Array(0.88, 0.45, 0.0), 2L), (105L, Array(0.0, 1.0, 0.0), 9L),
      (106L, Array(0.1, 0.99, 0.0), 9L), (107L, Array(0.0, 0.9, 0.4), 1L),
      (108L, Array(0.1, 0.9, 0.35), 1L), (109L, Array(0.3, 0.8, 0.5), 5L))
      .toDF("vec_id", "emb", "label")
    val q = Seq((0L, Array(1.0, 0.05, 0.0)), (1L, Array(0.05, 1.0, 0.2)))
      .toDF("qid", "qemb")
    val out = Similarity.knnClassify(corpus, q, k = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L)._1 == 7L && out(0L)._2 == 3L)
    // q1's top-5: 105,106 (label 9) + 107,108 (label 1) + 109 (label 5)
    // -> 2-2-1, tie between labels 1 and 9 breaks to 1
    assert(out(1L)._1 == 1L && out(1L)._2 == 2L)
  }

  test("k-core peel: tail strips round by round, the clique survives, empty graph reports zeros") {
    import spark.implicits._
    // 4-clique {0,1,2,3} (deg 3 each) + a path 3-4-5 hanging off it
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val prof = graft.operators.Graphs.kCorePeel(edges, k = 2, rounds = 3)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // round 1: 6 active, vertex 5 (deg 1) peels, its edge goes
    assert(prof(0) == ((1L, 6L, 1L, 7L)))
    // round 2: 4 now orphaned at deg 1, peels -> the pure 4-clique
    assert(prof(1) == ((2L, 5L, 1L, 6L)))
    // round 3: converged — every clique vertex has deg 3 >= 2
    assert(prof(2) == ((3L, 4L, 0L, 6L)))
    // k high enough to shred everything: final rounds report zeros, not
    // nulls (the empty-graph coalesce)
    val gone = graft.operators.Graphs.kCorePeel(edges, k = 4, rounds = 2)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(gone(1) == ((2L, 0L, 0L, 0L)))
  }

  test("k-core properties on random graphs: converged survivors all have degree >= k") {
    import spark.implicits._
    for (seed <- Seq(7, 19)) {
      val rnd = new scala.util.Random(seed)
      val edges = (0 until 120).map { _ =>
        val u = rnd.nextInt(40).toLong; val v = rnd.nextInt(40).toLong
        (math.min(u, v), math.max(u, v))
      }.filter(e => e._1 != e._2).distinct.toDF("u", "v")
      val prof = graft.operators.Graphs.kCorePeel(edges, k = 3, rounds = 8)
        .orderBy("round").collect()
        .map(r => (r.getLong(2), r.getLong(3))) // (n_removed, n_edges_left)
      // 8 rounds is enough to converge a 40-vertex graph: the last round
      // must remove nothing, and from the first zero-removal round on the
      // profile is constant (peeling is monotone)
      assert(prof.last._1 == 0L, s"not converged: ${prof.toSeq}")
      val settled = prof.dropWhile(_._1 > 0L)
      assert(settled.nonEmpty && settled.forall(_ == settled.head),
        s"profile changed after convergence: ${prof.toSeq}")
      // survivors of the converged peel really are a 3-core: recompute
      // degrees over the surviving edge set by hand
      var e = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      var changed = true
      while (changed) {
        val deg = e.toSeq.flatMap(p => Seq(p._1, p._2))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val keep = deg.filter(_._2 >= 3L).keySet
        val e2 = e.filter(p => keep(p._1) && keep(p._2))
        changed = e2 != e; e = e2
      }
      assert(prof.last._2 == e.size.toLong,
        s"surviving edges ${prof.last._2} != hand-peeled ${e.size}")
    }
  }

  test("graft_pairs matches the lambda pair generation on every basket size") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(31)
    val baskets = (0 until 30).map { i =>
      (i.toLong, scala.util.Random.javaRandomToRandom(
        new java.util.Random(i)).shuffle((0L until (2 + rnd.nextInt(8))).toList)
        .map(_ * 7 + i).sorted.distinct)
    }.toDF("g", "items")
    val native = baskets.select(col("g"),
        explode(expr("graft_pairs(items)")).as("p"))
      .select(col("g"), col("p.u"), col("p.v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val lambda = baskets.select(col("g"), explode(expr(
        """flatten(transform(items,
          |  (x, i) -> transform(slice(items, i + 2, size(items)),
          |            y -> struct(x AS u, y AS v))))""".stripMargin)).as("p"))
      .select(col("g"), col("p.u"), col("p.v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(native == lambda && native.nonEmpty)
    // u < v on every pair (sorted-input contract)
    assert(native.forall(p => p._2 < p._3))
  }

  test("exact-lane kmeans: deterministic across runs, trained centroids sit on the 1e-6 grid") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val corpus = (0L until 90L).map { i =>
      (i, Array.fill(8)(rnd.nextGaussian()))
    }.toDF("vec_id", "emb").select(col("vec_id"),
      col("emb").cast("array<double>").as("emb"))
    val a = Similarity.kmeansCentroidsExact(corpus, stride = 30, iters = 2)
    val b = Similarity.kmeansCentroidsExact(corpus, stride = 30, iters = 2)
    assert(a.map(_._2.toList).toList == b.map(_._2.toList).toList,
      "training must be bit-deterministic")
    // every trained (non-empty-cell) element is q/1e6 for integer q —
    // the property that makes the whole loop engine-independent
    val init = Similarity.strideCentroids(corpus, 30).map(_._2.toList).toSet
    a.filterNot(c => init(c._2.toList)).flatMap(_._2).foreach { x =>
      val q = x * 1e6
      assert(math.abs(q - math.rint(q)) < 1e-6, s"off-grid element $x")
    }
    assert(a.exists(c => !init(c._2.toList)), "no cell actually trained")
  }

  test("asof joinWithin: staleness bound is inclusive, same-second match visible, no prior row -> null") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, "k", ts("2024-01-01 00:10:00")),  // right at 00:00 -> gap 600 == tol (kept)
      (2L, "k", ts("2024-01-01 00:10:01")),  // gap 601 > tol (nulled)
      (3L, "k", ts("2024-01-01 00:00:00")),  // same-second right row visible (<=)
      (4L, "j", ts("2024-01-01 00:05:00")))  // no right rows at all
      .toDF("id", "key", "t")
    val right = Seq(("k", ts("2024-01-01 00:00:00"), 42.0))
      .toDF("key", "t", "rv")
    val out = graft.operators.AsOf.joinWithin(left, right,
        key = "key", tCol = "t", valueCol = "rv", out = "v",
        toleranceSec = 600L)
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(out(1L).contains(42.0), "gap == tolerance must be kept (inclusive)")
    assert(out(2L).isEmpty, "gap just past tolerance must null out")
    assert(out(3L).contains(42.0), "same-timestamp right row is visible (asof <=)")
    assert(out(4L).isEmpty, "no prior right row -> null")
  }

  test("normalization is idempotent and insensitive to case/punct/space noise") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val words = Seq("alpha", "beta", "gamma", "delta", "x9", "z")
    val docs = (0L until 40L).map { i =>
      val base = Seq.fill(3 + rnd.nextInt(5))(words(rnd.nextInt(words.length)))
        .mkString(" ")
      // noisy variant: random case flips + injected punctuation + extra spaces
      val noisy = base.flatMap { c =>
        val cc = if (rnd.nextBoolean()) c.toUpper else c
        if (c == ' ' && rnd.nextBoolean()) s"  ${if (rnd.nextBoolean()) "," else "!"} "
        else cc.toString
      }
      (i, base, noisy)
    }.toDF("id", "base", "noisy")
    val normExpr = "trim(regexp_replace(regexp_replace(lower(%s), '[^a-z0-9 ]', ''), ' +', ' '))"
    val out = docs.selectExpr("id",
        normExpr.format("base") + " as nb",
        normExpr.format("noisy") + " as nn",
        normExpr.format(normExpr.format("noisy")) + " as nnn")
      .collect()
    out.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"noise changed the key: '${r.getString(1)}' vs '${r.getString(2)}'")
      assert(r.getString(2) == r.getString(3), "normalization not idempotent")
    }
  }

  test("maintainSumCount: deltas apply per group, emptied groups leave the view, unseen groups appear") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val mv = Seq((0L, 2L, 100L), (1L, 1L, 50L), (2L, 3L, 30L))
      .toDF("bucket", "n_rows", "sum_cents")
    // group 0: one update (+5); group 1: its only row deleted -> vanishes;
    // group 3: brand-new insert -> appears; group 2: untouched
    val cdc = Seq(
      (0L, "U", Some(40L), Some(45L)),
      (1L, "D", Some(50L), None),
      (3L, "I", None, Some(7L)))
      .toDF("k", "change_op", "before_cents", "after_cents")
    val out = graft.operators.Mutations.maintainSumCount(
        mv, cdc, col("k"), col("before_cents"), col("after_cents"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L) == (2L, 105L), "update adjusts sum, not count")
    assert(!out.contains(1L), "a group whose count reaches 0 leaves the view")
    assert(out(2L) == (3L, 30L), "untouched group unchanged")
    assert(out(3L) == (1L, 7L), "insert into an unseen group creates it")
  }

  test("applyMvBatch: replayed batch ids are skipped, so a delta never double-applies") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-mv-t")
      .toString + "/mv"
    def batch(rows: Seq[(Long, String, Option[Long], Option[Long])]) =
      rows.toDF("k", "change_op", "before_cents", "after_cents")
    def apply(b: org.apache.spark.sql.DataFrame, id: Long) =
      graft.operators.Mutations.applyMvBatch(spark, root, b, id,
        pmod(col("k"), lit(4L)), col("before_cents"), col("after_cents"))
    val b0 = batch(Seq((0L, "I", None, Some(10L)), (1L, "I", None, Some(20L))))
    val b1 = batch(Seq((0L, "U", Some(10L), Some(15L))))
    assert(apply(b0, 0L), "fresh batch applies")
    assert(apply(b1, 1L), "next batch applies")
    def readState() = graft.operators.Mutations.readMv(spark, root)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val after = readState()
    // checkpoint-replay re-delivery of both ids: MUST be a no-op
    assert(!apply(b0, 0L) && !apply(b1, 1L), "replayed ids must be skipped")
    assert(readState() == after, "re-delivery changed the view")
    assert(after(0L) == (1L, 15L) && after(1L) == (1L, 20L))
  }

  test("sceneCuts: uniform video has none, a hard cut lands at its frame, garbage frames drop out") {
    import spark.implicits._
    import graft.operators.Multimodal
    import graft.operators.Multimodal.{MediaMeta, MediaRow}
    val meta = MediaMeta("video", 16, 16, 0, 4000L, "mjpeg")
    def vid(levels: Seq[Int]) =
      Multimodal.muxMjpegAvi(levels.map(Multimodal.solidJpeg(_)))
    val uniform = MediaRow(1L, vid(Seq(90, 90, 90, 90)), meta)
    val cutAt2 = MediaRow(2L, vid(Seq(30, 30, 220, 220)), meta)
    // an undecodable middle frame must vanish from the luma sequence,
    // leaving the 30→220 delta adjacent (cut shifts to index 1)
    val garbage = MediaRow(3L, Multimodal.muxMjpegAvi(Seq(
      Multimodal.solidJpeg(30), "not a jpeg".getBytes("UTF-8"),
      Multimodal.solidJpeg(220))), meta)
    val notVideo = MediaRow(4L, "plain bytes".getBytes("UTF-8"),
      meta.copy(kind = "image"))
    val out = Multimodal.sceneCuts(
        Seq(uniform, cutAt2, garbage, notVideo).toDS(), threshold = 64)
      .collect().map(c => c.media_id -> c.cut_idx).toSet
    assert(out == Set(2L -> 2, 3L -> 1), s"got $out")
  }

  test("prefix-filter set-similarity join equals the exact Jaccard join on EVERY gate corpus (pins dedup_setsim_prefix)") {
    // the prefix-filter theorem makes recall STRUCTURALLY total (the
    // smallest common shingle of any Jaccard>=t pair lands in both
    // rarest-first prefixes), so the output must EQUAL the exact
    // inverted-index join — verified pair-for-pair at every testdata SF.
    // The exact side joins on ALL shingles (any Jaccard>0 pair shares
    // one), never an O(n²) cross join.
    val dirs = Seq("sf0.001", "sf0.01", "sf0.1")
      .map(sf => s"/root/testdata/$sf/documents.parquet")
      .filter(p => new java.io.File(p).exists())
    assume(dirs.nonEmpty)
    for (path <- dirs) {
      val docs = spark.read.parquet(path).select("doc_id", "text")
      val sh = Dedup.shingles(docs).localCheckpoint(true)
      val sizes = sh.select(col("doc_id"), size(col("shingles")).cast("long").as("n"))
      val inv = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
      // the operator runs on xxhash64(shingle) longs; its output equals
      // the string-keyed result only while the hash is collision-free
      // on the corpus — pin that per SF (deterministic data + hash)
      val Array(nStr, nHash) = inv
        .agg(countDistinct(col("s")), countDistinct(xxhash64(col("s"))))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      assert(nStr == nHash, s"$path: xxhash64 shingle collision " +
        s"($nStr distinct strings vs $nHash hashes)")
      val exact = inv.toDF("id_a", "s")
        .join(inv.toDF("id_b", "s"), Seq("s"))
        .where(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).cast("long").as("shared"))
        .join(sizes.toDF("id_a", "na"), "id_a")
        .join(sizes.toDF("id_b", "nb"), "id_b")
        .where(expr("9 * shared >= 4 * (na + nb)"))
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val prefixed = Dedup.setSimilarityJoin(docs)
        .select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(prefixed == exact,
        s"$path: prefix join missed ${(exact -- prefixed).size} true " +
          s"pairs / gained ${(prefixed -- exact).size}")
    }
  }

  test("quotaSplit: every stratum's allocation is exactly largest-remainder proportional") {
    import spark.implicits._
    // strata sized so 80/10/10 forces remainder seats: 7 rows → base
    // (5,0,0) + 2 remainder seats (frac 60,70,70 → dev,test by order)
    val rows = (0L until 7L).map(i => (i, "s7")) ++
      (100L until 110L).map(i => (i, "s10")) ++
      (200L until 223L).map(i => (i, "s23"))
    val out = graft.operators.Pipeline.quotaSplit(
        rows.toDF("doc_id", "source"),
        Seq("train" -> 80L, "dev" -> 10L, "test" -> 10L))
      .groupBy("source", "split").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(out == Map(
      ("s7", "train") -> 5L, ("s7", "dev") -> 1L, ("s7", "test") -> 1L,
      ("s10", "train") -> 8L, ("s10", "dev") -> 1L, ("s10", "test") -> 1L,
      ("s23", "train") -> 19L, ("s23", "dev") -> 2L, ("s23", "test") -> 2L),
      s"got $out")
    // in-stratum order: lowest ids land in train (id-ordered assignment)
    val s7 = graft.operators.Pipeline.quotaSplit(
        rows.toDF("doc_id", "source"),
        Seq("train" -> 80L, "dev" -> 10L, "test" -> 10L))
      .where(col("source") === "s7").orderBy("doc_id")
      .collect().map(_.getString(2))
    assert(s7.toSeq == Seq("train", "train", "train", "train", "train",
      "dev", "test"))
  }

  test("binaryTopK: identical vector wins the Hamming pass and the exact rerank") {
    import spark.implicits._
    val base = Array.tabulate(64)(j => if (j % 3 == 0) 1.0 else -1.0)
    val flipped = base.clone(); flipped(5) = -flipped(5) // hamming 1
    val far = base.map(-_)
    val corpus = Seq((0L, base.toSeq), (1L, flipped.toSeq), (2L, far.toSeq))
      .toDF("vec_id", "emb")
    val q = Seq((0L, base.toSeq)).toDF("qid", "qemb")
    val out = Similarity.binaryTopK(corpus, q, k = 2, rerankDepth = 2)
      .orderBy("rnk")
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 1L), (2L, 64L)), s"got ${out.toSeq}")
  }

  test("quantileNormalize: groups map onto the shared global distribution") {
    import spark.implicits._
    // A={1,2}, B={100,200}: both groups must land on the same 2-point
    // global quantile set {2, 200} (type-1, max maps to max)
    val df = Seq((1L, "A", 1L), (2L, "A", 2L), (3L, "B", 100L),
      (4L, "B", 200L)).toDF("doc_id", "source", "v")
    val out = graft.operators.Pipeline.quantileNormalize(df, "v")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out == Map(1L -> 2L, 2L -> 200L, 3L -> 2L, 4L -> 200L),
      s"got $out")
    // identical groups are a fixed point: qnorm == own value
    val same = (Seq.tabulate(5)(i => (i.toLong, "X", (i * 7).toLong)) ++
      Seq.tabulate(5)(i => (i + 10L, "Y", (i * 7).toLong)))
      .toDF("doc_id", "source", "v")
    val fix = graft.operators.Pipeline.quantileNormalize(same, "v")
      .collect()
    assert(fix.forall(r => r.getLong(2) == r.getLong(3)),
      fix.mkString(","))
  }

  test("vadSegments: silence/tone runs segment exactly, hostile bytes emit -1") {
    import spark.implicits._
    // tone(4 windows) silence(4) tone(4) -> 2 segments, 8 voiced, first 0
    val wav = Multimodal.toneSequenceWav(Seq(500.0, 0.0, 500.0), 800, 8000)
    val rows = Seq((1L, wav), (2L, "not a wav".getBytes("UTF-8")))
      .toDF("media_id", "content")
    val out = Multimodal.vadSegments(rows, 200, 1000000L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == (2L, 8L, 0L), s"got ${out(1L)}")
    assert(out(2L) == (-1L, -1L, -1L), s"got ${out(2L)}")
  }

  test("persisted IVF index: build+append search equals the ad-hoc search under the same centroids") {
    assume(new java.io.File("/root/testdata/sf0.001/embeddings.parquet").exists())
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val base = e.where(col("vec_id") < 250)
    val batch = e.where(col("vec_id") >= 250)
    val root = java.nio.file.Files
      .createTempDirectory("graft-ivf-spec").toString + "/idx"
    // index trained on the BASE slice, then grown by pure append
    Similarity.buildIvfIndex(base, root, stride = 50)
    Similarity.appendToIvfIndex(batch, root)
    val q = e.where(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    val viaIndex = Similarity.ivfIndexTopK(spark, root, q, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(x => (x._1, x._3))
    val adHoc = Similarity.ivfTopKWithCentroids(e,
        Similarity.strideCentroids(base, 50), k = 3, nprobe = 2)
      .where(col("qid") < 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(x => (x._1, x._3))
    assert(viaIndex.toSeq == adHoc.toSeq,
      s"index search diverged: ${viaIndex.toSeq.diff(adHoc.toSeq)}")
  }

  private def searchTriples(root: String,
      q: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
    Similarity.ivfIndexTopK(spark, root, q, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(x => (x._1, x._3)).toSeq

  test("persisted IVF index delete: post-delete search equals a fresh build without the deleted rows") {
    assume(new java.io.File("/root/testdata/sf0.001/embeddings.parquet").exists())
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val decoys = e.where(col("vec_id") < 60)
      .select((col("vec_id") + 5000L).as("vec_id"), col("emb"))
    val cents = Similarity.strideCentroids(e, 50)
    val dirty = java.nio.file.Files
      .createTempDirectory("graft-ivf-del").toString + "/idx"
    Similarity.buildIvfIndexWith(e.unionByName(decoys), dirty, cents)
    Similarity.deleteFromIvfIndex(spark, dirty, (5000L until 5060L).toSeq)
    val fresh = java.nio.file.Files
      .createTempDirectory("graft-ivf-fresh").toString + "/idx"
    Similarity.buildIvfIndexWith(e, fresh, cents)
    val q = e.where(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      .localCheckpoint(true)
    assert(searchTriples(dirty, q) == searchTriples(fresh, q),
      "post-delete search diverged from a fresh build")
    // deleted ids are gone from the cell dirs, survivors intact
    val left = spark.read.parquet(s"$dirty/cells").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(!left.exists(_ >= 5000L) && left.size == e.count())
  }

  test("persisted IVF index heal: every interrupted delete swap state repairs on the next read") {
    assume(new java.io.File("/root/testdata/sf0.001/embeddings.parquet").exists())
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val cents = Similarity.strideCentroids(e, 50)
    val root = java.nio.file.Files
      .createTempDirectory("graft-ivf-heal").toString + "/idx"
    Similarity.buildIvfIndexWith(e, root, cents)
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      .localCheckpoint(true)
    val want = searchTriples(root, q)
    val cells = new java.io.File(s"$root/cells").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .sortBy(_.getName)
    val Array(c0, c1, c2, _*) = cells
    // crash state 1: tmp written but live never staged away — tmp may be
    // incomplete and must be DROPPED (live copy stays authoritative)
    val tmp0 = new java.io.File(c0.getParent,
      s".ivf_tmp_${c0.getName.stripPrefix("cell=")}")
    tmp0.mkdirs() // an empty (incomplete) rewrite attempt
    // crash state 2: live staged to old, tmp complete but unpublished —
    // tmp must be PUBLISHED (it is the post-delete truth). Simulate a
    // delete-nothing rewrite: the cell content itself stands in for tmp.
    val id1 = c1.getName.stripPrefix("cell=")
    val tmp1 = new java.io.File(c1.getParent, s".ivf_tmp_$id1")
    assert(c1.renameTo(tmp1))
    // crash state 3: published but old not yet dropped — old must go
    val id2 = c2.getName.stripPrefix("cell=")
    val old2 = new java.io.File(c2.getParent, s".ivf_old_$id2")
    old2.mkdirs()
    assert(searchTriples(root, q) == want, "heal-on-read changed results")
    assert(!tmp0.exists() && !tmp1.exists() && !old2.exists() && c1.exists(),
      "heal left swap debris behind")
  }

  test("applyIvfBatch: commit gate skips replayed ids; scrub-then-append repairs a crashed half-append") {
    assume(new java.io.File("/root/testdata/sf0.001/embeddings.parquet").exists())
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val cents = Similarity.strideCentroids(e, 50)
    val root = java.nio.file.Files
      .createTempDirectory("graft-ivf-batch").toString + "/idx"
    val b0 = e.where(col("vec_id") % 3 === 0)
    val b1 = e.where(col("vec_id") % 3 === 1)
    val b2 = e.where(col("vec_id") % 3 === 2)
    assert(Similarity.applyIvfBatch(spark, root, b0, 0L, cents))
    assert(Similarity.applyIvfBatch(spark, root, b1, 1L, cents))
    // checkpoint-replay re-delivery of a committed id: MUST be a no-op
    assert(!Similarity.applyIvfBatch(spark, root, b1, 1L, cents))
    // crashed half-append of batch 2: some rows landed, no marker. The
    // re-delivered apply must scrub them first — never duplicate.
    Similarity.appendToIvfIndex(b2.where(col("vec_id") < 100), root)
    assert(Similarity.applyIvfBatch(spark, root, b2, 2L, cents))
    val q = e.where(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
      .localCheckpoint(true)
    val fresh = java.nio.file.Files
      .createTempDirectory("graft-ivf-batch-f").toString + "/idx"
    Similarity.buildIvfIndexWith(e, fresh, cents)
    assert(searchTriples(root, q) == searchTriples(fresh, q),
      "batched maintenance diverged from the batch build")
    assert(spark.read.parquet(s"$root/cells").count() == e.count(),
      "half-append rows were duplicated")
  }

  test("auditIvfIndex: balanced gate fixture passes; a one-cell-degenerate corpus trips the rebuild trigger") {
    import spark.implicits._
    assume(new java.io.File("/root/testdata/sf0.001/embeddings.parquet").exists())
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-ivf-audit").toString + "/idx"
    Similarity.buildIvfIndex(e, root, stride = 50)
    // the untrained stride quantizer recalls ~72% @3 on this corpus —
    // under a policy that accepts that, the audit passes; under a
    // strict-recall policy it correctly demands a retrain
    val ok = Similarity.auditIvfIndex(spark, root, k = 3,
      minRecallBp = 6500L).head()
    assert(!ok.getBoolean(6),
      s"gate fixture should not demand a rebuild at its policy: $ok")
    assert(ok.getLong(5) >= 6500L, s"sampled recall collapsed: $ok")
    val strict = Similarity.auditIvfIndex(spark, root, k = 3,
      minRecallBp = 9900L).head()
    assert(strict.getBoolean(6), s"strict recall policy must trigger: $strict")
    // degenerate corpus: identical vectors ⇒ every assignment ties and
    // first-max sends ALL rows to cell 0 ⇒ max_cell_ppm trips the bound
    val hot = (0L until 120L).map(i => (i, Seq(1.0, 0.0, 0.0, 0.0)))
      .toDF("vec_id", "emb")
    val hotRoot = java.nio.file.Files
      .createTempDirectory("graft-ivf-hot").toString + "/idx"
    Similarity.buildIvfIndex(hot, hotRoot, stride = 50)
    val bad = Similarity.auditIvfIndex(spark, hotRoot, k = 3).head()
    assert(bad.getBoolean(6) && bad.getLong(3) > 500000L,
      s"hot-cell corpus must trip the rebuild trigger: $bad")
  }

  test("applyMvBatch prunes superseded MV versions past the retained horizon") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-mv-prune")
      .toString + "/mv"
    def apply(rows: Seq[(Long, String, Option[Long], Option[Long])], id: Long) =
      graft.operators.Mutations.applyMvBatch(spark, root,
        rows.toDF("k", "change_op", "before_cents", "after_cents"), id,
        pmod(col("k"), lit(4L)), col("before_cents"), col("after_cents"))
    apply(Seq((0L, "I", None, Some(10L))), 0L)
    apply(Seq((1L, "I", None, Some(20L))), 1L)
    apply(Seq((0L, "U", Some(10L), Some(15L))), 2L)
    apply(Seq((2L, "I", None, Some(5L))), 3L)
    val names = new java.io.File(root).listFiles().map(_.getName).toSet
    // keepVersions=2 (default): v=3 (live) + v=2 retained; 0 and 1 swept
    assert(names.contains("v=3") && names.contains("_commit_3"))
    assert(names.contains("v=2") && names.contains("_commit_2"))
    assert(!names.exists(n => n == "v=0" || n == "v=1" ||
      n == "_commit_0" || n == "_commit_1"), s"stale versions survive: $names")
    val out = graft.operators.Mutations.readMv(spark, root)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(0L -> (1L, 15L), 1L -> (1L, 20L), 2L -> (1L, 5L)),
      s"pruned MV lost state: $out")
  }

  test("kcenterGreedy: farthest-first picks spread the line, ties break to lower id") {
    import spark.implicits._
    // points on a line at 0, 1, 10, 11, 20 — seed id 0, then 20 (d²=400),
    // then 10 (min-d² 100), then the md=1 tie (ids 1 and 3) lower-id first
    val pts = Seq((0L, 0.0), (1L, 1.0), (2L, 10.0), (3L, 11.0), (4L, 20.0))
      .map { case (id, x) => (id, Seq(x, 0.0)) }.toDF("vec_id", "emb")
    val out = Similarity.kcenterGreedy(pts, k = 5)
      .orderBy("pick")
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 0L, 0.0), (2L, 4L, 400.0), (3L, 2L, 100.0),
      (4L, 1L, 1.0), (5L, 3L, 1.0)), s"got ${out.toSeq}")
  }

  test("ssspDistances: relax-and-min finds the cheaper 2-hop route within fixed rounds") {
    import spark.implicits._
    // 1→2 direct costs 10; 1→3→2 costs 2+3=5; 4 reachable only via 2
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 2L), (3L, 2L, 3L),
      (2L, 4L, 1L)).toDF("u", "v", "w")
    val seeds = Seq(Tuple1(1L)).toDF("v")
    val out = graft.operators.Graphs.ssspDistances(edges, seeds, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 5L, 3L -> 2L, 4L -> 6L), s"got $out")
    // round-bounded: 1 round can't see the 2-hop shortcut yet
    val r1 = graft.operators.Graphs.ssspDistances(edges, seeds, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1(2L) == 10L && r1(3L) == 2L && !r1.contains(4L), s"got $r1")
  }

  test("fuzzyTermLookup: deletion index covers equal/insert/delete/substitute, rejects distance 2") {
    import spark.implicits._
    val vocab = Seq("spark", "spar", "sparkle", "stark", "shard", "spork")
      .map(Tuple1(_)).toDF("term")
    val q = Seq(Tuple1("spark")).toDF("qtok")
    val out = graft.operators.Retrieval.fuzzyTermLookup(vocab, q)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    // spark=0, spar(del)=1, stark(sub)=1, spork(sub)=1; sparkle is
    // distance 2 (two inserts), shard distance 2 — both excluded
    assert(out == Map("spark" -> 0L, "spar" -> 1L, "stark" -> 1L,
      "spork" -> 1L), s"got $out")
  }

  test("tClosenessReport: matching class scores 0, skewed classes score exact TVD ppm") {
    import spark.implicits._
    // global: a=9, b=3 of N=12. class c1=(2a,2b) and c2=(4a) both sit at
    // TVD 0.25 from (0.75, 0.25); c3=(3a,1b) IS the global distribution.
    val rows = Seq.fill(2)(("c1", "a")) ++ Seq.fill(2)(("c1", "b")) ++
      Seq.fill(4)(("c2", "a")) ++
      Seq.fill(3)(("c3", "a")) ++ Seq(("c3", "b"))
    val rep = graft.operators.Pipeline
      .tClosenessReport(rows.toDF("cls", "sv"), Seq("cls"), "sv")
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(rep("c1") == (24L, 250000L), s"c1 got ${rep("c1")}")
    assert(rep("c2") == (24L, 250000L), s"c2 got ${rep("c2")}")
    assert(rep("c3") == (0L, 0L), s"c3 got ${rep("c3")}")
  }

  test("cdcSharedChunks array-side chunking ≡ the r15 word-explode window formulation") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // r16 rewrote chunk assembly onto array slices between boundary
    // positions (chunk-scale explode, no words-scale shuffle/window/
    // collect_list). This pins new ≡ old on real docs + edge shapes:
    // empty text, doc shorter than g, boundary-dense and boundary-free.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).where(col("doc_id") < 60)
      .unionByName(Seq(
        (9001L, ""), (9002L, "one two"), (9003L, "a b c d"),
        (9004L, (1 to 200).map(i => s"w${i % 7}").mkString(" ")))
        .toDF("doc_id", "text"))
    val got = graft.operators.Dedup.cdcSharedChunks(docs, minDocs = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // the r15 formulation, inlined as the reference
    val g = 4; val mask = 16
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("ws"),
      expr(s"graft_md5_ngrams(text, $g)").as("gh"))
    val flagged = base.select(col("doc_id"), posexplode(expr(
      s"""zip_with(ws, transform(ws, (x, i) ->
         |  CASE WHEN i >= $g AND pmod(element_at(gh, i - $g + 1), $mask) = 0
         |  THEN 1L ELSE 0L END), (w, f) -> struct(w, f))""".stripMargin))
      .as(Seq("pos", "wf")))
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, 0)
    val want = flagged
      .withColumn("chunk", sum(col("wf.f")).over(win))
      .groupBy(col("doc_id"), col("chunk"))
      .agg(expr("""cast(conv(substring(md5(cast(array_join(transform(
          |  array_sort(collect_list(struct(pos, wf.w as w))), s -> s.w),
          |  ' ') as binary)), 1, 15), 16, 10) as long)""".stripMargin)
          .as("h"),
        count(lit(1)).as("n_words"))
      .groupBy("h")
      .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_occ"),
        min("n_words").as("n_words"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == want,
      s"array-side CDC diverged: only-new=${got -- want}, only-old=${want -- got}")
  }

  test("winnowing: shared run >= w+n-1 words guarantees a shared fingerprint; partitioning-invariant") {
    import spark.implicits._
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    // 11-word run (w+n-1 = 8+4-1) spliced into otherwise-disjoint docs
    val d = Seq(
      (10L, s"one two three four five six seven $run eight nine ten eleven twelve"),
      (11L, s"$run uno dos tres cuatro cinco seis siete ocho nueve diez once"),
      (12L, "entirely unrelated filler text with nothing in common at all here now"))
      .toDF("doc_id", "text")
    val fps = graft.operators.Dedup.winnowFingerprints(d)
    val byDoc = fps.collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    assert((byDoc(10L) & byDoc(11L)).nonEmpty,
      "winnowing theorem: an 11-word shared run must share a fingerprint")
    assert((byDoc(10L) & byDoc(12L)).isEmpty)
    // fingerprint SET is a pure function of the text — not of layout
    val again = graft.operators.Dedup
      .winnowFingerprints(d.repartition(7)).collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    assert(again == byDoc)
  }

  test("heavyHitters == direct exact groupBy on EVERY gate corpus layout (pins text_heavy_hitters oracle)") {
    import spark.implicits._
    val d = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    def direct(dd: org.apache.spark.sql.DataFrame): Set[(String, Long)] = {
      val t = dd.select(explode(split(col("text"), " ")).as("tok"))
      val n = t.count()
      t.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") * 64 > n)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    }
    def mg(dd: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
      graft.operators.TextStats.heavyHitters(dd)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = direct(d)
    assert(want.nonEmpty)
    // MG candidates depend on layout; the OUTPUT must not
    assert(mg(d) == want)
    assert(mg(d.repartition(13)) == want)
    assert(mg(d.coalesce(1)) == want)
    // estimator-engagement pin (r15, the KMV k=16 lesson): the gate
    // corpus vocabulary is TINY (31 tokens at sf0.001 — measured), so the
    // runs above never leave the small-map path and MG's decrement lane
    // would be dead code if only gates exercised it. Engage it here:
    // 600 distinct tokens >> 16 counters, three planted heavies, output
    // ≡ direct exact groupBy across layouts (pigeonhole recall + exact
    // recount — the candidate set varies, the output must not).
    import spark.implicits._
    val hv = (0 until 600).flatMap(i => Seq.fill(2)(s"t$i")) ++
      (0 until 3).flatMap(h => Seq.fill(700)(s"heavy$h"))
    // total 3300; keep-threshold is cnt·5 > 3300 ⇒ only the 700s survive
    val synth = new scala.util.Random(7).shuffle(hv)
      .grouped(24).map(_.mkString(" ")).toSeq.toDF("text")
    val n = hv.size.toLong
    val wantS = Seq("heavy0", "heavy1", "heavy2")
      .map(t => (t, 700L)).toSet
    for (layout <- Seq(synth, synth.repartition(13), synth.coalesce(1))) {
      val got = graft.operators.TextStats
        .heavyHitters(layout, k = 5, counters = 16)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == wantS, s"evicting MG must recover exactly the " +
        s"planted heavies (cnt·5 > $n): $got")
    }
  }

  test("estimator lanes engage: HLL dense-mode fold≡direct; bloom false positives corrected by the exact confirm") {
    import spark.implicits._
    import graft.operators.HllRollup
    // HLL at lgK=12 leaves sparse mode well below 300k distincts — the
    // gate-SF events fixture never gets there (the hll rollup test above
    // runs exact-territory counts), so pin the DENSE estimator here:
    // fold over partials must estimate IDENTICALLY to direct (register-
    // wise max is lossless) and both within 5σ of truth (RSE ~1.04/64).
    val n = 300000L
    val ev = (0L until n).map(i => (i % 24, i)).toDF("part", "id")
    val partials = ev.groupBy("part")
      .agg(expr("hll_sketch_agg(id, 12)").as("sketch"))
    val folded = partials
      .agg(expr("hll_sketch_estimate(hll_union_agg(sketch, true))"))
      .head().getLong(0)
    val direct = ev.agg(expr("hll_sketch_estimate(hll_sketch_agg(id, 12))"))
      .head().getLong(0)
    assert(folded == direct,
      s"dense-mode fold $folded must equal direct $direct")
    val tol = (5 * (1.04 / 64) * n).toLong
    assert(math.abs(direct - n) <= tol, s"direct=$direct vs n=$n (±$tol)")
    // Bloom lane: at fpp=0.5 false positives are certain, so the
    // exact-confirm join is what keeps the result ≡ the broadcast lane —
    // the estimator path is exercised AND corrected, not bypassed
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .where(col("doc_id") < 120)
    val train = docs.where(col("doc_id") % 11 =!= 0)
    val bench = docs.where(col("doc_id") % 11 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val loose = rows(graft.operators.Pipeline.contaminationScoresBloom(
      train, bench, fpp = 0.5))
    val exact = rows(graft.operators.Pipeline.contaminationScores(
      train, bench))
    assert(loose == exact,
      "high-fpp bloom must still net the exact result via the confirm join")
  }

  test("sq8 codes are integers in [0,255]; max-value rows land on 255; self is top-1") {
    import spark.implicits._
    val e = Seq(
      (0L, Array(0.0f, 1.0f, -1.0f)),
      (1L, Array(1.0f, 0.5f, 0.0f)),
      (2L, Array(0.5f, 0.0f, 1.0f)),
      (3L, Array(0.0f, 1.0f, -1.0f))).toDF("vec_id", "embedding")
    val top = graft.operators.Similarity.sq8TopK(e, queryId = 0L, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // 0 and 3 are identical vectors → identical codes → tied dot, id asc
    assert(top.take(2).map(_._1).toSeq == Seq(0L, 3L), top.toSeq.toString)
    val dots = top.map(_._2)
    val dMax = 3L * 255L * 255L
    assert(dots.forall(v => v >= 0L && v <= dMax))
  }

  test("perceptron: round-1 weights are the full signed feature sums; trajectory is layout-invariant") {
    import spark.implicits._
    val d = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.operators.Pipeline.perceptron(d).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))))
    val byRound = out.toMap
    // w=0 in round 1 ⇒ every doc misclassified ⇒ w1 = Σ y·x, n_mis = n
    val n = d.count()
    assert(byRound(1)._5 == n)
    val again = graft.operators.Pipeline.perceptron(d.repartition(9))
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(again == byRound, "integer trajectory must not depend on layout")
  }

  test("paretoFront query shape: survivors undominated, excluded dominated (brute force)") {
    import spark.implicits._
    val rows = Seq((1L, 3, 10.0), (2L, 3, 7.0), (3L, 5, 9.0), (4L, 5, 9.0),
      (5L, 7, 12.0), (6L, 2, 6.0), (7L, 7, 11.0), (8L, 1, 6.0))
    val parts = rows.toDF("p_partkey", "p_size", "p_retailprice")
    val bySize = parts.groupBy("p_size").agg(min("p_retailprice").as("mn"))
    val run = bySize.withColumn("mn_gt",
      min("mn").over(org.apache.spark.sql.expressions.Window
        .orderBy(col("p_size").desc)
        .rowsBetween(Long.MinValue, -1)))
    val sky = parts.join(broadcast(run), Seq("p_size"))
      .where(col("p_retailprice") === col("mn") &&
        (col("mn_gt").isNull || col("mn_gt") > col("p_retailprice")))
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    def dominated(p: (Long, Int, Double)) = rows.exists(q => q._1 != p._1 &&
      q._2 >= p._2 && q._3 <= p._3 && (q._2 > p._2 || q._3 < p._3))
    val want = rows.filterNot(dominated).map(_._1).toSet
    assert(sky == want, s"got $sky want $want")
  }

  test("bm25 deleteFromIndex: post-delete search == fresh build; heal publishes an interrupted swap") {
    import spark.implicits._
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 60)
    val decoys = d.where(col("doc_id") < 10)
      .select((col("doc_id") + 500L).as("doc_id"), col("text"))
    val rootA = java.nio.file.Files
      .createTempDirectory("graft-bm25-del").toString + "/idx"
    val rootB = java.nio.file.Files
      .createTempDirectory("graft-bm25-fresh").toString + "/idx"
    graft.operators.Retrieval.buildIndex(d.unionByName(decoys), rootA)
    graft.operators.Retrieval.deleteFromIndex(spark, rootA,
      (500L until 510L).toDF("doc_id"))
    graft.operators.Retrieval.buildIndex(d, rootB)
    val q = d.where(col("doc_id") < 3)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    def search(root: String) = graft.operators.Retrieval
      .bm25TopKIndexed(spark, root, q, 5)
      .select("qid", "doc_id", "rnk", "score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(search(rootA) == search(rootB),
      "post-delete index must score identically to a fresh build")
    // postings content identical too, not just top-k
    def posts(root: String) = spark.read.parquet(s"$root/postings")
      .select("doc_id", "tok", "tf")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(posts(rootA) == posts(rootB))
    // interrupted swap: live staged away, tmp complete → heal publishes
    val fs = new org.apache.hadoop.fs.Path(rootA)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buckets = fs.listStatus(new org.apache.hadoop.fs.Path(
      s"$rootA/postings")).map(_.getPath).filter(_.getName.startsWith("bucket="))
    val victim = buckets.head
    val tag = victim.getName.stripPrefix("bucket=")
    assert(fs.rename(victim, new org.apache.hadoop.fs.Path(
      victim.getParent, s".bm25_tmp_$tag")))
    assert(search(rootA) == search(rootB),
      "search must heal-publish the staged bucket before reading")
  }

  test("bm25 doclens delete rewrites only touched buckets; heal completes a crashed delete") {
    import spark.implicits._
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 80)
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25-dl").toString + "/idx"
    graft.operators.Retrieval.buildIndex(d, root, nBuckets = 8)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dlFiles(): Map[String, Set[String]] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/doclens"))
        .filter(_.getPath.getName.startsWith("bucket=")).map { b =>
          b.getPath.getName -> fs.listStatus(b.getPath)
            .map(_.getPath.getName).toSet
        }.toMap
    val before = dlFiles()
    // the sidecar is distributed, not a coalesce(1) funnel: multiple
    // bucket dirs, each its own file set
    assert(before.size > 1, s"doclens should span buckets, got $before")
    val ids = Seq(3L, 7L)
    val touched = ids.map(id => "bucket=" + spark.range(1)
      .select(pmod(xxhash64(lit(id)), lit(8L))).head().getLong(0)).toSet
    graft.operators.Retrieval.deleteFromIndex(spark, root, ids.toDF("doc_id"))
    val after = dlFiles()
    // untouched buckets keep their exact files; touched ones rewrote
    before.foreach { case (b, fls) =>
      if (touched(b)) assert(after(b) != fls, s"$b should have rewritten")
      else assert(after(b) == fls, s"$b rewrote without containing a deleted id")
    }
    assert(spark.read.parquet(s"$root/doclens")
      .where(col("doc_id").isin(ids: _*)).count() == 0)
    // crashed delete: intent marker durable, NO swaps ran — healIndex
    // (every search runs it) must COMPLETE the delete on both trees
    val ids2 = Seq(11L, 12L)
    ids2.toDF("doc_id").write.parquet(s"$root/_bm25_pending_delete")
    graft.operators.Retrieval.healIndex(spark, root)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/_bm25_pending_delete")), "heal must clear the completed intent")
    assert(spark.read.parquet(s"$root/doclens")
      .where(col("doc_id").isin(ids2: _*)).count() == 0)
    assert(spark.read.parquet(s"$root/postings")
      .where(col("doc_id").isin(ids2: _*)).count() == 0)
    // and the healed index scores like a fresh build without those docs
    val q = d.where(col("doc_id") < 3)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    val fresh = java.nio.file.Files
      .createTempDirectory("graft-bm25-dl-fresh").toString + "/idx"
    graft.operators.Retrieval.buildIndex(
      d.where(!col("doc_id").isin((ids ++ ids2): _*)), fresh, nBuckets = 8)
    def search(r: String) = graft.operators.Retrieval
      .bm25TopKIndexed(spark, r, q, 5, nBuckets = 8)
      .collect().map(_.toSeq).toSet
    assert(search(root) == search(fresh))
  }

  test("bm25 stats sidecar ≡ doclens recount across build/append/delete/compact/rebuild; heal recovers crashed appends and legacy layouts") {
    import spark.implicits._
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 80)
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25-stats").toString + "/idx"
    def recount(r: String): (Long, Long) = {
      val row = spark.read.parquet(s"$r/doclens")
        .agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
      (row.getLong(0), row.getLong(1))
    }
    def pin(label: String, r: String = root): Unit =
      assert(graft.operators.Retrieval.corpusStats(spark, r) == recount(r),
        s"sidecar diverged from a direct recount after $label")
    graft.operators.Retrieval.buildIndex(
      d.where(col("doc_id") < 40), root, nBuckets = 8)
    pin("build")
    graft.operators.Retrieval.appendToIndex(
      d.where(col("doc_id") >= 40), root, nBuckets = 8)
    pin("append")
    graft.operators.Retrieval.deleteFromIndex(spark, root,
      Seq(3L, 7L, 11L, 999L).toDF("doc_id")) // 999 absent: delta must be 0 for it
    pin("delete")
    graft.operators.Retrieval.compactIndex(spark, root, maxFilesPerBucket = 1)
    pin("compact") // content-preserving: stats unchanged
    val v2 = java.nio.file.Files
      .createTempDirectory("graft-bm25-stats-v2").toString + "/idx"
    graft.operators.Retrieval.rebuildIndex(spark, root, v2, nBuckets = 16)
    pin("rebuild", v2)
    // crashed append: data landed, marker rotation didn't — the durable
    // append intent makes heal recount instead of trusting a stale marker
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stale = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath).filter(_.getName.startsWith("_bm25_stats_")).head
    fs.delete(stale, false)
    fs.create(new org.apache.hadoop.fs.Path(root, "_bm25_stats_99_1_1"),
      true).close() // wrong numbers, as a half-applied append would leave
    fs.create(new org.apache.hadoop.fs.Path(root,
      "_bm25_append_pending_crashspec"), true).close()
    pin("crashed append (pending intent + stale marker)")
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .exists(_.getPath.getName.startsWith("_bm25_append_pending_")),
      "heal must clear the resolved append intent")
    // legacy pre-sidecar index: no marker at all → heal self-migrates
    fs.listStatus(new org.apache.hadoop.fs.Path(root)).map(_.getPath)
      .filter(_.getName.startsWith("_bm25_stats_"))
      .foreach(p => fs.delete(p, false))
    pin("legacy self-migration")
  }

  test("ivf rebuild: retrained v2 index search == ad-hoc exact-Lloyd search") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .where(col("vec_id") < 200)
    val base = java.nio.file.Files
      .createTempDirectory("graft-ivf-rb-spec").toString
    graft.operators.Similarity.buildIvfIndex(
      e.where(col("vec_id") % 2 === 0), s"$base/v1", stride = 20)
    graft.operators.Similarity.appendToIvfIndex(
      e.where(col("vec_id") % 2 === 1), s"$base/v1")
    graft.operators.Similarity.rebuildIvfIndex(
      spark, s"$base/v1", s"$base/v2", stride = 20)
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    val rebuilt = graft.operators.Similarity
      .ivfIndexTopK(spark, s"$base/v2", q, 3, 2)
      .select("qid", "cid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // ad-hoc: the same exact-integer Lloyd recipe trained on the corpus
    // directly (index content == corpus, so the samples coincide)
    val adhoc = graft.operators.Similarity
      .ivfTopKWithCentroids(e,
        graft.operators.Similarity.kmeansCentroidsExact(e, 20, 2), 3, 2)
      .where(col("qid") < 10)
      .select("qid", "cid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rebuilt == adhoc,
      "rebuild from index content must equal the ad-hoc trained search")
  }

  test("index mutation CAS: of two mutators that planned on the same generation, one lands and one raises") {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .where(col("vec_id") < 150)
    val root = java.nio.file.Files
      .createTempDirectory("graft-cas").toString + "/idx"
    graft.operators.Similarity.buildIvfIndex(e, root, stride = 30)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // every mutation advances the generation (append did during build)
    val g0 = graft.operators.IndexGen.current(fs, root)
    assert(g0 > 0, "build's append must have published a generation")
    // mutator B enters and observes g0 (its CAS baseline); mutator A
    // then runs a COMPLETE delete — the interleave the r11 verdict
    // flagged, held at the deterministic point: B planned on state A is
    // about to invalidate
    val bBaseline = g0
    graft.operators.Similarity.deleteFromIvfIndex(spark, root, Seq(3L, 9L))
    assert(graft.operators.IndexGen.current(fs, root) == g0 + 1)
    // B reaches its publish gate with hidden stage output only — the
    // exact call deleteFromIvfIndexFrame/compactIvfIndex make before
    // their first destructive rename — and must raise, not last-wins
    val orphanStage = new java.io.File(s"$root/.ivf_stage/cell=0")
    orphanStage.mkdirs()
    intercept[graft.model.ConcurrentCommit] {
      graft.operators.IndexGen.advance(fs, root, bBaseline)
    }
    // the loser's pre-publish state heals away; the index reads whole:
    // exactly A's delete applied, nothing lost
    graft.operators.Similarity.healIvfIndex(spark, root)
    assert(!new java.io.File(s"$root/.ivf_stage").exists())
    val left = spark.read.parquet(s"$root/cells")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(left == (0L until 150L).toSet -- Set(3L, 9L))
    // an append that planned on the stale generation also raises BEFORE
    // writing any file (its CAS runs pre-write)
    val nFiles0 = spark.read.parquet(s"$root/cells").inputFiles.length
    intercept[graft.model.ConcurrentCommit] {
      graft.operators.IndexGen.advance(fs, root, bBaseline)
    }
    assert(spark.read.parquet(s"$root/cells").inputFiles.length == nFiles0)
    // same discipline on the BM25 root
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 40)
    val broot = java.nio.file.Files
      .createTempDirectory("graft-cas-bm25").toString + "/idx"
    graft.operators.Retrieval.buildIndex(d, broot, nBuckets = 4)
    val bfs = new org.apache.hadoop.fs.Path(broot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bg = graft.operators.IndexGen.current(bfs, broot)
    assert(bg > 0)
    graft.operators.Retrieval.deleteFromIndex(spark, broot,
      Seq(1L).toDF("doc_id"))
    intercept[graft.model.ConcurrentCommit] {
      graft.operators.IndexGen.advance(bfs, broot, bg)
    }
    val q = d.where(col("doc_id") === 0)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    assert(graft.operators.Retrieval
      .bm25TopKIndexed(spark, broot, q, 3, nBuckets = 4).count() > 0)
  }

  test("index mutation lease: a writer starting inside another's rename window raises; expired leases break; the winner's state is exact") {
    import spark.implicits._
    // the r12 residual, now a mechanism: writer A's IndexGen.advance
    // takes a lease that holds writer B out of the WHOLE publication
    // window (not just the CAS instant) — B raises ConcurrentCommit at
    // begin() with NOTHING written, and retries cleanly once A releases
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .where(col("vec_id") < 150)
    val root = java.nio.file.Files
      .createTempDirectory("graft-lease").toString + "/idx"
    graft.operators.Similarity.buildIvfIndex(e, root, stride = 30)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leases() = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("_idx_lease_")).toSeq
    assert(leases().isEmpty, "completed mutations must release their lease")
    // simulate A mid-publication: its CAS done, renames in flight —
    // exactly the on-disk state advance() leaves before release()
    val g = graft.operators.IndexGen.current(fs, root)
    val aLease = s"_idx_lease_${g + 1}_${System.currentTimeMillis() + 600000}"
    fs.create(new org.apache.hadoop.fs.Path(root, aLease), true).close()
    val before = spark.read.parquet(s"$root/cells")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    intercept[graft.model.ConcurrentCommit] {
      graft.operators.Similarity.deleteFromIvfIndex(spark, root, Seq(3L, 9L))
    }
    assert(spark.read.parquet(s"$root/cells")
      .select("vec_id").collect().map(_.getLong(0)).toSet == before,
      "the held-out writer must not have touched live state")
    // A finishes: release → B retries and lands exactly (token-precise:
    // release deletes exactly A's lease file, never a same-gen sibling)
    graft.operators.IndexGen.release(fs, root, aLease)
    graft.operators.Similarity.deleteFromIvfIndex(spark, root, Seq(3L, 9L))
    assert(spark.read.parquet(s"$root/cells")
      .select("vec_id").collect().map(_.getLong(0)).toSet ==
      before -- Set(3L, 9L), "retry after release must apply exactly once")
    assert(leases().isEmpty)
    // a crashed holder: expired lease breaks at begin() and the writer
    // proceeds (bounded unavailability, never deadlock)
    fs.create(new org.apache.hadoop.fs.Path(root,
      s"_idx_lease_99_${System.currentTimeMillis() - 1000}"), true).close()
    graft.operators.Similarity.deleteFromIvfIndex(spark, root, Seq(15L))
    assert(!leases().exists(_.startsWith("_idx_lease_99_")),
      "expired lease must have been broken")
    assert(spark.read.parquet(s"$root/cells")
      .select("vec_id").collect().map(_.getLong(0)).toSet ==
      before -- Set(3L, 9L, 15L))
    // same mechanism on a BM25 root
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 40)
    val broot = java.nio.file.Files
      .createTempDirectory("graft-lease-bm25").toString + "/idx"
    graft.operators.Retrieval.buildIndex(d, broot, nBuckets = 4)
    val bfs = new org.apache.hadoop.fs.Path(broot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bg = graft.operators.IndexGen.current(bfs, broot)
    val bLease = s"_idx_lease_${bg + 1}_${System.currentTimeMillis() + 600000}"
    bfs.create(new org.apache.hadoop.fs.Path(broot, bLease), true).close()
    intercept[graft.model.ConcurrentCommit] {
      graft.operators.Retrieval.deleteFromIndex(spark, broot,
        Seq(1L).toDF("doc_id"))
    }
    graft.operators.IndexGen.release(bfs, broot, bLease)
    graft.operators.Retrieval.deleteFromIndex(spark, broot,
      Seq(1L).toDF("doc_id"))
    assert(spark.read.parquet(s"$broot/postings")
      .where(col("doc_id") === 1L).count() == 0)
  }

  test("read-path heal is lease-aware: a search during a held-lease staged mutation serves the published state; the publication then lands intact") {
    import spark.implicits._
    val S = graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .where(col("vec_id") < 150)
    val root = java.nio.file.Files
      .createTempDirectory("graft-lease-read").toString + "/idx"
    S.buildIvfIndex(e, root, stride = 30)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    def search() = S.ivfIndexTopK(spark, root, q, 3, 2)
      .select("qid", "cid", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val published = search()
    // writer A mid-publication: a REAL staged rewrite of vec 9's home
    // cell (minus vec 9) sits in the stage tree, lease held — exactly
    // the on-disk state between advance() and publishStagedCells()
    val homeCell = spark.read.parquet(s"$root/cells")
      .where(col("vec_id") === 9L).select(col("cell").cast("long"))
      .head().getLong(0)
    spark.read.parquet(s"$root/cells")
      .where(col("cell").cast("long") === homeCell &&
        col("vec_id") =!= 9L)
      .select(col("vec_id"), col("emb"), col("norm"),
        col("cell").cast("long").as("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/.ivf_stage")
    val g = graft.operators.IndexGen.current(fs, root)
    val lease = s"_idx_lease_${g + 1}_${System.currentTimeMillis() + 600000}_t"
    fs.create(new org.apache.hadoop.fs.Path(root, lease), true).close()
    // a concurrent reader: completes against the OLD generation (vec 9
    // still served) and must NOT delete the live writer's stage tree —
    // pre-r14 the heal-on-read here destroyed the publication
    assert(search() == published,
      "reader under a live lease must serve the published generation")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/.ivf_stage")),
      "reader must not repair a leased root's stage tree")
    // writer A completes its publication (the publishStagedCells renames)
    val staged = new org.apache.hadoop.fs.Path(
      s"$root/.ivf_stage/cell=$homeCell")
    val live = new org.apache.hadoop.fs.Path(s"$root/cells/cell=$homeCell")
    val tmp = new org.apache.hadoop.fs.Path(s"$root/cells/.ivf_tmp_$homeCell")
    val old = new org.apache.hadoop.fs.Path(s"$root/cells/.ivf_old_$homeCell")
    assert(fs.rename(staged, tmp) && fs.rename(live, old) &&
      fs.rename(tmp, live))
    fs.delete(old, true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/.ivf_stage"), true)
    graft.operators.IndexGen.release(fs, root, lease)
    // publication landed intact: vec 9 gone, everything else served
    val after = search()
    assert(!spark.read.parquet(s"$root/cells")
      .select("vec_id").collect().map(_.getLong(0)).contains(9L))
    assert(after.nonEmpty && after.forall(_._2 != 9L))
    // same shape on a BM25 root: a durable pending delete + held lease —
    // the reader serves the doc and leaves the marker for the writer
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 40)
    val broot = java.nio.file.Files
      .createTempDirectory("graft-lease-read-bm25").toString + "/idx"
    graft.operators.Retrieval.buildIndex(d, broot, nBuckets = 4)
    val bfs = new org.apache.hadoop.fs.Path(broot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(0L).toDF("doc_id").write.parquet(s"$broot/_bm25_pending_delete")
    val bg = graft.operators.IndexGen.current(bfs, broot)
    val bLease = s"_idx_lease_${bg + 1}_${System.currentTimeMillis() + 600000}_t"
    bfs.create(new org.apache.hadoop.fs.Path(broot, bLease), true).close()
    val bq = d.where(col("doc_id") === 0)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    assert(graft.operators.Retrieval
      .bm25TopKIndexed(spark, broot, bq, 3, nBuckets = 4)
      .where(col("doc_id") === 0L).count() > 0,
      "reader under a live lease serves the pre-delete state")
    assert(bfs.exists(new org.apache.hadoop.fs.Path(
      broot, "_bm25_pending_delete")),
      "reader must not complete a leased root's pending delete")
    graft.operators.IndexGen.release(bfs, broot, bLease)
    // lease-free: the next reader's heal completes the delete
    assert(graft.operators.Retrieval
      .bm25TopKIndexed(spark, broot, bq, 3, nBuckets = 4)
      .where(col("doc_id") === 0L).count() == 0)
    assert(!bfs.exists(new org.apache.hadoop.fs.Path(
      broot, "_bm25_pending_delete")))
  }

  test("lease TTL fence: an expired-and-superseded holder finishing late raises; CAS losers clean their own lease") {
    import spark.implicits._
    val S = graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .where(col("vec_id") < 100)
    val root = java.nio.file.Files
      .createTempDirectory("graft-lease-fence").toString + "/idx"
    S.buildIvfIndex(e, root, stride = 25)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leases() = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("_idx_lease_")).toSeq
    // holder A advances with a 1 ms TTL and stalls (GC pause / slow FS)
    val gA = graft.operators.IndexGen.begin(fs, root)
    val tokenA = graft.operators.IndexGen.advance(fs, root, gA, ttlMs = 1L)
    Thread.sleep(10)
    // successor B arrives: begin breaks the expired lease, B publishes
    // a real mutation and releases
    S.deleteFromIvfIndex(spark, root, Seq(7L))
    val contentAfterB = spark.read.parquet(s"$root/cells")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!contentAfterB.contains(7L))
    // A wakes and would now run its publish renames over state B owns —
    // the fence (the exact call every staged lane makes immediately
    // before each rename) must raise instead
    intercept[graft.model.ConcurrentCommit] {
      graft.operators.IndexGen.checkLease(fs, root, tokenA)
    }
    // the index is exactly B's outcome, nothing half-renamed
    assert(spark.read.parquet(s"$root/cells")
      .select("vec_id").collect().map(_.getLong(0)).toSet == contentAfterB)
    // CAS loser hygiene (lease-first ordering, r14): a loser must not
    // leave its pre-CAS lease behind blocking writers for the TTL
    val gStale = graft.operators.IndexGen.current(fs, root) - 1
    intercept[graft.model.ConcurrentCommit] {
      graft.operators.IndexGen.advance(fs, root, gStale)
    }
    assert(leases().isEmpty,
      s"CAS loser left its lease behind: ${leases()}")
    // and the root stays writable right away
    S.deleteFromIvfIndex(spark, root, Seq(8L))
    assert(!spark.read.parquet(s"$root/cells")
      .select("vec_id").collect().map(_.getLong(0)).contains(8L))
  }

  test("index mutation CAS: a writer stalled across TWO full generations cannot re-win a pruned marker; release is token-precise") {
    import spark.implicits._
    val S = graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .where(col("vec_id") < 100)
    val root = java.nio.file.Files
      .createTempDirectory("graft-stale-gen").toString + "/idx"
    S.buildIvfIndex(e, root, stride = 25)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // writer A reads the generation and stalls between begin and advance
    val gA = graft.operators.IndexGen.begin(fs, root)
    // TWO full mutations land meanwhile: advance prunes superseded
    // markers, so only the newest `_idx_mut_` remains — the marker A's
    // CAS would target (gA+1) no longer exists and create-new would
    // "win" (the ADVICE r14 hole). advance must compare against the MAX
    // marker and refuse.
    S.deleteFromIvfIndex(spark, root, Seq(3L))
    S.deleteFromIvfIndex(spark, root, Seq(5L))
    assert(graft.operators.IndexGen.current(fs, root) == gA + 2)
    intercept[graft.model.ConcurrentCommit] {
      graft.operators.IndexGen.advance(fs, root, gA)
    }
    // the refusal left no lease behind (root immediately writable)
    def leases() = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("_idx_lease_")).toSeq
    assert(leases().isEmpty, s"stale-gen loser leaked a lease: ${leases()}")
    // token-precise release: two leases for the SAME numeric generation
    // (a late-waking former holder vs the live writer) — releasing one
    // token must not delete the other writer's lease
    val g = graft.operators.IndexGen.current(fs, root)
    val now = System.currentTimeMillis()
    val mine = s"_idx_lease_${g + 1}_${now + 600000}_aa"
    val theirs = s"_idx_lease_${g + 1}_${now + 600000}_bb"
    fs.create(new org.apache.hadoop.fs.Path(root, mine), true).close()
    fs.create(new org.apache.hadoop.fs.Path(root, theirs), true).close()
    graft.operators.IndexGen.release(fs, root, mine)
    assert(leases().toSet == Set(theirs),
      s"release must delete exactly its own token: ${leases()}")
    graft.operators.IndexGen.release(fs, root, theirs)
    assert(leases().isEmpty)
  }

  test("bm25 append onto a crashed delete's state heals first: no double subtraction, delete completes") {
    import spark.implicits._
    val R = graft.operators.Retrieval
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 80)
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25-crashapp").toString + "/idx"
    R.buildIndex(d.where(col("doc_id") < 60), root, nBuckets = 8)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a delete that crashed right after its commitment point:
    // durable pending marker + staged gen+1 stats marker (totals already
    // subtracted), NO bucket swaps done — runPendingDelete's exact state
    val victim = 3L
    val vdl = spark.read.parquet(s"$root/doclens")
      .where(col("doc_id") === victim).select("dl").head().getLong(0)
    Seq(victim).toDF("doc_id").write.parquet(s"$root/_bm25_pending_delete")
    val marker = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath).filter(_.getName.startsWith("_bm25_stats_")).head
    val p = marker.getName.stripPrefix("_bm25_stats_").split('_')
    fs.create(new org.apache.hadoop.fs.Path(root,
      s"_bm25_stats_${p(0).toLong + 1}_${p(1).toLong - 1}_${p(2).toLong - vdl}"),
      true).close()
    // the append (pre-r14 it skipped heal, delta-maintained on the
    // staged marker, and publishStats collapsed the two-marker protocol
    // — the later delete replay then subtracted AGAIN)
    R.appendToIndex(d.where(col("doc_id") >= 60), root, nBuckets = 8)
    val recount = {
      val r = spark.read.parquet(s"$root/doclens")
        .agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    assert(R.corpusStats(spark, root) == recount,
      "sidecar must equal a recount after append-onto-crashed-delete")
    assert(spark.read.parquet(s"$root/postings")
      .where(col("doc_id") === victim).count() == 0,
      "the crashed delete must have completed, not been lost")
    assert(recount._1 == 79L, s"79 docs expected, got $recount")
  }

  test("pre-dl postings layout self-migrates on heal: search scores exact, rebuild works") {
    import spark.implicits._
    val R = graft.operators.Retrieval
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 60)
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25-dlmig").toString + "/idx"
    R.buildIndex(d, root, nBuckets = 4)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // devolve to the pre-r13 layout: postings without the dl column,
    // no stats marker, no dl witness
    val legacy = spark.read.parquet(s"$root/postings")
      .select(col("doc_id"), col("tok"), col("tf"),
        col("bucket").cast("long").as("bucket"))
      .localCheckpoint(true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/postings"), true)
    legacy.write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$root/postings")
    fs.listStatus(new org.apache.hadoop.fs.Path(root)).map(_.getPath)
      .filter(n => n.getName.startsWith("_bm25_stats_") ||
        n.getName == "_bm25_dlv2")
      .foreach(p => fs.delete(p, false))
    // first read self-migrates: scores must equal the direct lane
    val q = d.where(col("doc_id") < 3)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    val direct = R.bm25TopK(d, q, 5)
      .select("qid", "doc_id", "score", "rnk")
      .collect().map(_.toSeq).toSet
    val indexed = R.bm25TopKIndexed(spark, root, q, 5, nBuckets = 4)
      .select("qid", "doc_id", "score", "rnk")
      .collect().map(_.toSeq).toSet
    assert(indexed == direct,
      "migrated legacy index must score exactly like the direct lane")
    assert(spark.read.parquet(s"$root/postings")
      .schema.fieldNames.contains("dl"), "postings must carry dl now")
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "_bm25_dlv2")))
    // rebuild from the migrated index (pre-r14 its dl projection threw)
    val v2 = java.nio.file.Files
      .createTempDirectory("graft-bm25-dlmig-v2").toString + "/idx"
    R.rebuildIndex(spark, root, v2, nBuckets = 8)
    assert(R.bm25TopKIndexed(spark, v2, q, 5, nBuckets = 8)
      .select("qid", "doc_id", "score", "rnk")
      .collect().map(_.toSeq).toSet == direct)
    // interrupted-migration heal states: old tree + no postings ⇒ the
    // complete stage publishes (never data loss)
    val post = new org.apache.hadoop.fs.Path(s"$root/postings")
    assert(fs.rename(post,
      new org.apache.hadoop.fs.Path(s"$root/.bm25_dlmig_old")))
    spark.read.parquet(s"$root/.bm25_dlmig_old")
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$root/.bm25_dlmig_stage")
    assert(R.bm25TopKIndexed(spark, root, q, 5, nBuckets = 4)
      .select("qid", "doc_id", "score", "rnk")
      .collect().map(_.toSeq).toSet == direct,
      "heal must publish the complete stage after a mid-swap crash")
  }

  test("non-positional overwrite clears a stale positions tree") {
    import spark.implicits._
    val R = graft.operators.Retrieval
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 40)
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25-posstale").toString + "/idx"
    R.buildIndex(d, root, nBuckets = 4, positional = true)
    val phrase = d.where(col("doc_id") === 0)
      .select(expr("slice(split(text, ' '), 3, 2)")).head()
      .getSeq[String](0)
    assert(R.phraseTopKIndexed(spark, root, phrase, 3, nBuckets = 4)
      .count() > 0)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // overwrite with a DIFFERENT corpus, non-positional: the old
    // positions tree must go — pre-r14 phrase search served stale
    // positions for docs no longer in the index
    R.buildIndex(d.where(col("doc_id") >= 20), root, nBuckets = 4)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/positions")),
      "stale positions tree must be deleted on non-positional overwrite")
    assert(R.phraseTopKIndexed(spark, root, phrase, 3, nBuckets = 4)
      .where(col("doc_id") === 0L).count() == 0)
  }

  test("versioned table: a crashed writer's empty commit record heals instead of wedging every retry") {
    import spark.implicits._
    import graft.operators.VersionedTable
    val work = java.nio.file.Files
      .createTempDirectory("graft-vt-wedge").toString + "/tbl"
    val base = (0L until 8L).map(k => (k, s"v$k")).toDF("k", "value")
    val pexpr = pmod(col("k"), lit(4L))
    VersionedTable.init(spark, work, base, pexpr)
    val fs = graft.core.DatapointStore.fsFor(work)
    // a foreign writer crashed between create(overwrite=false) and
    // close: a permanent zero-length record for the NEXT version —
    // commits() skips it, but the existence CAS would raise forever
    val stale = new org.apache.hadoop.fs.Path(
      s"$work/_log/${"%020d".format(1)}.json")
    fs.create(stale, true).close()
    // past the 15-min grace (r15: raised well above plausible clock skew
    // — heal compares the writer's mtime to the READER's clock)
    fs.setTimes(stale, System.currentTimeMillis() - 1200000L, -1L)
    assert(VersionedTable.latestVersion(work) == 0L)
    val ch = Seq((1L, "MINE", "U", 9L)).toDF("k", "value", "op", "version")
    val v = VersionedTable.mergeWithRetry(spark, work, ch, Seq("k"), pexpr)
    assert(v == 1L, s"wedge must clear: merge landed at $v")
    val latest = VersionedTable.readAt(spark, work, base.schema)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(latest(1L) == "MINE" && latest.size == 8)
    // a FRESH zero-length record (inside the grace window) is honored
    // as possibly in-flight: the CAS still raises
    val fresh = new org.apache.hadoop.fs.Path(
      s"$work/_log/${"%020d".format(2)}.json")
    fs.create(fresh, true).close()
    intercept[graft.model.ConcurrentCommit] {
      VersionedTable.merge(spark, work, ch, Seq("k"), pexpr)
    }
  }

  test("ivfpq compaction vs concurrent append: the CAS loser retries above the fold, no doubled codes") {
    import spark.implicits._
    val S = graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .where(col("vec_id") < 200)
    val root = java.nio.file.Files
      .createTempDirectory("graft-pq-race").toString + "/idx"
    S.writeIvfPqQuantizers(e, root, stride = 40, m = 16)
    S.appendToIvfPqIndex(e.where(col("vec_id") < 100), root)
    S.appendToIvfPqIndex(
      e.where(col("vec_id") >= 100 && col("vec_id") < 150), root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an append reads its CAS baseline, then a compaction runs to
    // completion before the append publishes — the horizon claim under
    // race: "future appends land above the fold's max label"
    val staleGen = graft.operators.IndexGen.begin(fs, root)
    S.compactIvfPqIndex(spark, root)
    def batchDirs(): Seq[Long] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/pqcells"))
        .map(_.getPath.getName).filter(_.startsWith("batch="))
        .map(_.stripPrefix("batch=").toLong).toSeq.sorted
    val folded = batchDirs()
    assert(folded.size == 1)
    // the stale append loses the CAS BEFORE any files land
    intercept[graft.model.ConcurrentCommit] {
      graft.operators.IndexGen.advance(fs, root, staleGen)
    }
    assert(batchDirs() == folded, "loser must not have created a dir")
    // the retry (fresh begin) lands ABOVE the folded label
    S.appendToIvfPqIndex(e.where(col("vec_id") >= 150), root)
    val after = batchDirs()
    assert(after.size == 2 && after.head == folded.head &&
      after(1) > folded.head,
      s"retry must land above the fold: $after")
    // no doubled codes anywhere
    val ids = spark.read.parquet(s"$root/pqcells").select("vec_id")
      .collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length && ids.length == 200,
      s"expected 200 unique codes, got ${ids.length}")
    // and search serves the full corpus
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    assert(S.ivfPqIndexTopK(spark, root, q, 3, 2).count() > 0)
  }

  test("positional index: phrase conjunction == direct adjacency; append/delete/compact maintain the positions tree") {
    import spark.implicits._
    val R = graft.operators.Retrieval
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 150)
    def direct(docs: org.apache.spark.sql.DataFrame, ph: Seq[String]) = {
      val conds = ph.zipWithIndex
        .map { case (t, i) => s"element_at(w, i + $i) = '$t'" }
        .mkString(" AND ")
      docs.select(col("doc_id"), split(col("text"), " ").as("w"))
        .withColumn("hits", expr(
          s"CAST(size(filter(sequence(1, size(w) - ${ph.size - 1}), " +
            s"i -> $conds)) AS BIGINT)"))
        .where(col("hits") > 0).select("doc_id", "hits")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    def indexed(root: String, ph: Seq[String]) =
      R.phraseTopKIndexed(spark, root, ph, 10000, nBuckets = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25-posspec").toString + "/idx"
    R.buildIndex(d.where(col("doc_id") < 80), root, nBuckets = 8,
      positional = true)
    // append auto-extends the positions tree on a positional index
    R.appendToIndex(d.where(col("doc_id") >= 80), root, nBuckets = 8)
    val ph2 = Seq("sort", "merge")
    assert(direct(d, ph2).nonEmpty, "fixture should contain the phrase")
    assert(indexed(root, ph2) == direct(d, ph2))
    // a 3-token phrase exercises the shifted-intersection chain
    val w3 = d.select(split(col("text"), " ").as("w"))
      .select(expr("slice(w, 3, 3)").as("p")).where(size(col("p")) === 3)
      .head().getSeq[String](0)
    assert(indexed(root, w3) == direct(d, w3),
      s"3-token phrase $w3 diverged")
    // delete purges positions; compact preserves them
    val victims = direct(d, ph2).map(_._1).take(2).toSeq
    R.deleteFromIndex(spark, root, victims.toDF("doc_id"))
    val surviving = d.where(!col("doc_id").isin(victims: _*))
    assert(indexed(root, ph2) == direct(surviving, ph2),
      "delete must purge the deleted docs' positions")
    R.compactIndex(spark, root, maxFilesPerBucket = 1)
    assert(indexed(root, ph2) == direct(surviving, ph2),
      "compaction must preserve the positions tree")
  }

  test("bm25f ≡ bm25 over the virtual doc with fields repeated by weight") {
    import spark.implicits._
    // the semantic identity that pins BM25F's integer-weight variant:
    // wtf/wdl/df of (title w=3, body w=1) equal plain BM25 statistics of
    // a document whose title text is repeated 3 times — so the two
    // lanes must score identically, ties included
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 80)
    val fdocs = d.select(col("doc_id"),
      expr("concat_ws(' ', slice(split(text, ' '), 1, 8))").as("title"),
      expr("concat_ws(' ', slice(split(text, ' '), 9, 1000000))").as("body"))
    val virtual = fdocs.select(col("doc_id"),
      concat_ws(" ", col("title"), col("title"), col("title"), col("body"))
        .as("text"))
    val q = d.where(col("doc_id") < 3)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    val f = graft.operators.Retrieval
      .bm25fTopK(fdocs, broadcast(q), 5, Seq("title" -> 3L, "body" -> 1L))
      .collect().map(_.toSeq).toSet
    val v = graft.operators.Retrieval.bm25TopK(virtual, broadcast(q), 5)
      .collect().map(_.toSeq).toSet
    assert(f == v)
  }

  test("bm25 applyIndexBatch: re-delivery repairs, never duplicates; horizon skips") {
    import spark.implicits._
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 60)
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25-apply").toString + "/idx"
    def posts() = spark.read.parquet(s"$root/postings")
      .select("doc_id", "tok", "tf")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(graft.operators.Retrieval.applyIndexBatch(spark, root,
      d.where(col("doc_id") < 30), 0))
    assert(graft.operators.Retrieval.applyIndexBatch(spark, root,
      d.where(col("doc_id") >= 30), 1))
    val whole = posts()
    // horizon: a checkpoint-replayed batch id skips outright
    assert(!graft.operators.Retrieval.applyIndexBatch(spark, root,
      d.where(col("doc_id") >= 30), 1))
    assert(posts() == whole)
    // crash window: the apply landed but its commit marker was lost
    // (crash between append and marker create) — the re-delivered batch
    // re-applies, and the scrub-then-append makes that a repair, not a
    // duplication
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$root/_bm25_commit_1"),
      false))
    assert(graft.operators.Retrieval.applyIndexBatch(spark, root,
      d.where(col("doc_id") >= 30), 1))
    assert(posts() == whole, "re-apply must repair by content")
    // and the streamed index scores like a fresh batch build
    val fresh = java.nio.file.Files
      .createTempDirectory("graft-bm25-apply-fresh").toString + "/idx"
    graft.operators.Retrieval.buildIndex(d, fresh)
    val q = d.where(col("doc_id") < 3)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    def search(r: String) = graft.operators.Retrieval
      .bm25TopKIndexed(spark, r, q, 5).collect().map(_.toSeq).toSet
    assert(search(root) == search(fresh))
  }

  test("bm25 index audit: perfect on a consistent index, detects a gutted bucket") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 100)
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25-audit-spec").toString + "/idx"
    // 2 buckets: gutting one loses ~half the vocabulary — an effect no
    // sampled audit can miss
    graft.operators.Retrieval.buildIndex(d, root, nBuckets = 2)
    def audit() = graft.operators.Retrieval
      .auditIndex(spark, root, d, k = 5, sampleBudget = 20, nBuckets = 2,
        minMrrBp = 9999)
      .head()
    val healthy = audit()
    assert(healthy.getLong(0) == healthy.getLong(1) &&
      healthy.getLong(2) == 10000L &&
      healthy.getAs[Long]("sidecar_n_diff") == 0L &&
      healthy.getAs[Long]("sidecar_dl_diff") == 0L &&
      !healthy.getAs[Boolean]("stale"),
      s"consistent index must audit perfect: $healthy")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // drifted sidecar: the marker's (N, sum_dl) disagree with a doclens
    // recount (a bug in some future delta-maintenance lane) — heal keeps
    // a lone marker as-is, so only the audit's recount twin can see it
    val marker = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath).filter(_.getName.startsWith("_bm25_stats_")).head
    val parts = marker.getName.stripPrefix("_bm25_stats_").split('_')
    fs.delete(marker, false)
    fs.create(new org.apache.hadoop.fs.Path(root,
      s"_bm25_stats_${parts(0)}_${parts(1).toLong + 7}_${parts(2).toLong + 13}"),
      true).close()
    val drifted = audit()
    assert(drifted.getAs[Long]("sidecar_n_diff") == 7L &&
      drifted.getAs[Long]("sidecar_dl_diff") == 13L &&
      drifted.getAs[Boolean]("stale"),
      s"drifted sidecar must surface in the audit row: $drifted")
    // restore: drop the bad marker; heal's markerless self-migration
    // recounts and the audit is perfect again
    fs.listStatus(new org.apache.hadoop.fs.Path(root)).map(_.getPath)
      .filter(_.getName.startsWith("_bm25_stats_"))
      .foreach(p => fs.delete(p, false))
    assert(!audit().getAs[Boolean]("stale"))
    // gut a bucket (lost postings no heal state can recover — the
    // failure indexStats' counts/bytes would report as merely 'smaller')
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(s"$root/postings/bucket=0"), true))
    val gutted = audit()
    assert(gutted.getLong(2) < 10000L && gutted.getAs[Boolean]("stale"),
      s"gutted bucket must surface as stale: $gutted")
  }

  test("IMA ADPCM: decode matches the hand-stepped recurrence; pad nibble never decodes; malformed bytes drop") {
    val M = graft.operators.Multimodal
    // hand-decoded: nibbles (7, 7) from (pred 0, idx 0):
    //   step=7,  n=7: diff = 0+7+3+1 = 11 → pred 11, idx 0+8 = 8
    //   step=16, n=7: diff = 2+16+8+4 = 30 → pred 41, idx 16
    val s2 = M.parseImaAdpcm(M.imaAdpcmWav(Array(7, 7), 8000)).get
      .samples.map(v => math.round(v * 32768f)).toSeq
    assert(s2 == Seq(0L, 11L, 41L), s"decode: $s2")
    // n=8 is sign-only with diff = step>>3 = 0 at idx 0 → stays 0; an
    // ODD nibble count leaves a pad nibble that samplesPerBlock bounds
    val s3 = M.parseImaAdpcm(M.imaAdpcmWav(Array(8, 8, 8), 8000)).get
      .samples.map(v => math.round(v * 32768f)).toSeq
    assert(s3 == Seq(0L, 0L, 0L, 0L), s"pad handling: $s3")
    // malformed inputs: a PCM wav is not ADPCM; garbage is not a RIFF
    assert(M.parseImaAdpcm(M.sawWav(257, 100, 8000)).isEmpty)
    assert(M.parseImaAdpcm(Array.fill(50)(3: Byte)).isEmpty)
  }

  test("G.711: published extremes decode exactly; every mu-law codeword is an encode fixed point; A-law matches the CCITT table shape") {
    val M = graft.operators.Multimodal
    // published mu-law extremes: code 0x00 → −32124, 0xFF → 0, 0x80 →
    // +32124, 0x7F → 0 (both silence codes decode to 0)
    assert(M.ulawToLinear(0x00) == -32124)
    assert(M.ulawToLinear(0xff) == 0)
    assert(M.ulawToLinear(0x80) == 32124)
    assert(M.ulawToLinear(0x7f) == 0)
    // codewords are fixed points of the codec — except negative zero:
    // 0x7F and 0xFF both decode to 0 and 0 re-encodes positive (0xFF),
    // the published g711.c behavior
    (0 until 256).filter(_ != 0x7f).foreach { u =>
      assert(M.linearToUlaw(M.ulawToLinear(u)) == u,
        s"mu-law codeword $u not a fixed point")
    }
    assert(M.linearToUlaw(M.ulawToLinear(0x7f)) == 0xff)
    // A-law extremes (CCITT): 0x2A (raw) → xor 0x55 = 0x7F → −4032? —
    // pin via the table shape instead: max magnitude is code 0xAA
    // (a = 0xFF → seg 7, mantissa 15 → (240+264)<<6 = 32256)
    assert(M.alawToLinear(0xaa) == 32256)
    assert(M.alawToLinear(0x2a) == -32256)
    assert(M.alawToLinear(0x55) == -8) // a = 0 → seg 0, t = 8, sign 0 ⇒ −8
    // A-law codewords are ALL fixed points (mid-rise quantizer, no ±0
    // collapse — unlike mu-law's 0x7F)
    (0 until 256).foreach { a =>
      assert(M.linearToAlaw(M.alawToLinear(a)) == a,
        s"A-law codeword $a not a fixed point")
    }
    // round trip through the container
    val codes = Array.tabulate(300)(i => (i * 7) % 256)
    val mu = M.parseG711(M.g711Wav(codes, 8000, aLaw = false)).get
    val al = M.parseG711(M.g711Wav(codes, 8000, aLaw = true)).get
    assert(mu.samples.length == 300 && al.samples.length == 300)
    assert(math.round(mu.samples(1) * 32768f) ==
      M.ulawToLinear(codes(1)).toLong)
    assert(math.round(al.samples(1) * 32768f) ==
      M.alawToLinear(codes(1)).toLong)
    // a PCM wav is not G.711; garbage is not a RIFF
    assert(M.parseG711(M.sawWav(257, 50, 8000)).isEmpty)
    assert(M.parseG711(Array.fill(30)(7: Byte)).isEmpty)
  }

  test("imagePairStats: identical pair reports sse 0 / NULL psnr; mismatched dims drop; known diff exact") {
    import spark.implicits._
    val M = graft.operators.Multimodal
    val a = M.grayscalePng(8, (x, y) => 10 + x + y)
    val b = M.grayscalePng(8, (x, y) => 10 + x + y + (if (x == 0) 2 else 0))
    val small = M.grayscalePng(4, (_, _) => 50)
    val pairs = Seq(
      (1L, a, a),     // identical
      (2L, a, b),     // known diff: 8 pixels off by 2 → sse 32
      (3L, a, small)  // dimension mismatch → no row
    ).toDF("media_id", "a", "b")
    val rows = M.imagePairStats(pairs).orderBy("media_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(0) == 1L && rows(0).getLong(2) == 0L &&
      rows(0).isNullAt(4), s"identical pair: ${rows(0)}")
    assert(rows(1).getLong(0) == 2L && rows(1).getLong(1) == 64L &&
      rows(1).getLong(2) == 32L && rows(1).getLong(3) == 2L,
      s"known diff: ${rows(1)}")
    // psnr floor: 10*log10(65025*64/32) = 10*log10(130050) ≈ 51.14 → 51
    assert(rows(1).getLong(4) == 51L, s"psnr: ${rows(1)}")
  }

  test("LM Dirichlet indexed == direct on a fresh index; query term multiplicity weights the score") {
    import spark.implicits._
    val R = graft.operators.Retrieval
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 80)
    val root = java.nio.file.Files
      .createTempDirectory("graft-lm-idx").toString + "/idx"
    R.buildIndex(d, root, nBuckets = 8)
    val q = d.where(col("doc_id") < 4)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    val direct = R.lmDirichletTopK(d, q, 5)
      .collect().map(_.toSeq).toSet
    val indexed = R.lmDirichletTopKIndexed(spark, root, q, 5, nBuckets = 8)
      .collect().map(_.toSeq).toSet
    assert(direct == indexed,
      "indexed LM must score exactly like the direct lane")
    assert(direct.nonEmpty)
    // multiplicity: a doubled query term outranks the same term once on
    // a doc containing it (qtf weights the matched-term sum)
    val qq = Seq((1L, "alpha alpha"), (2L, "alpha")).toDF("qid", "qtext")
    val corpus = Seq((10L, "alpha beta gamma"), (11L, "beta gamma delta"))
      .toDF("doc_id", "text")
    val sc = R.lmDirichletTopK(corpus, qq, 2)
      .where(col("doc_id") === 10L)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(sc(1L) != sc(2L),
      s"doubled term must change the matched-term weight: $sc")
  }

  test("PCM resampler: exact integer interpolation both directions (up and down)") {
    import spark.implicits._
    // hand-checkable ramp: samples 0, 1000, 2000, 3000 (Int16 units) at
    // 4 kHz. Downsample 1/2 keeps every other sample; upsample 2/1
    // inserts exact midpoints — all integer arithmetic, no fp anywhere.
    val bb = java.nio.ByteBuffer.allocate(44 + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 8)
      .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
      .putInt(16).putShort(1).putShort(1).putInt(4000).putInt(8000)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(8)
      .putShort(0).putShort(1000).putShort(2000).putShort(3000)
    val media = Seq((1L, bb.array())).toDF("media_id", "content")
    // offset-binary units: u = s + 32768
    val down = graft.operators.Multimodal.resamplePcmStats(media, 1, 2)
      .head()
    // kept samples: u(0), u(2) = 32768, 34768
    assert((down.getLong(1), down.getLong(2), down.getLong(3),
      down.getLong(4)) == (2L, 32768L + 34768L, 32768L, 34768L))
    val up = graft.operators.Multimodal.resamplePcmStats(media, 2, 1)
      .head()
    // out positions j/2: 0, .5, 1, 1.5, 2, 2.5, 3 -> 7 samples, exact
    // midpoints 33268, 34268, 35268; sum = 4*ramp + 3 midpoints
    val expectUp = Seq(32768L, 33268L, 33768L, 34268L, 34768L, 35268L,
      35768L)
    assert((up.getLong(1), up.getLong(2), up.getLong(3), up.getLong(4))
      == (7L, expectUp.sum, expectUp.min, expectUp.max))
  }

  test("maintained IVF family: drift audit trips automatic rebuild + generation flip") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .where(col("vec_id") < 200)
    val base = java.nio.file.Files
      .createTempDirectory("graft-ivf-fam").toString + "/fam"
    // 5 centroids all sampled from one corner — appends drift immediately
    val biased = graft.operators.Similarity
      .strideCentroids(e.where(col("vec_id") < 20), 4)
    graft.operators.Similarity.maintainIvfBatch(spark, base,
      e.where(col("vec_id") % 2 === 0), 0, biased,
      auditEvery = 2, k = 3, nprobe = 2, rebuildStride = 20)
    assert(graft.operators.Similarity.ivfCurrentRoot(spark, base)
      == s"$base/gen=0", "no audit yet -> bootstrap generation")
    // crashed-rebuild orphan: a half-built unmarked gen=1 must be
    // cleared by the retry, not doubled into
    val orphan = new java.io.File(s"$base/gen=1/cells")
    orphan.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/gen=1/junk.txt"), "stale")
    graft.operators.Similarity.maintainIvfBatch(spark, base,
      e.where(col("vec_id") % 2 === 1), 1, biased,
      auditEvery = 2, k = 3, nprobe = 2, rebuildStride = 20)
    val cur = graft.operators.Similarity.ivfCurrentRoot(spark, base)
    assert(cur == s"$base/gen=1", "drift audit must flip the generation")
    assert(!new java.io.File(s"$base/gen=1/junk.txt").exists(),
      "retry must clear the crashed orphan before rebuilding")
    // the retrained generation measurably improves on the biased one it
    // replaced (gen=0 still holds the full content under the biased
    // quantizer — audit both with identical params). An absolute
    // "healthy" bar would be wrong here: a well-trained IVF at
    // nprobe=2-of-10 legitimately sits below the 8000bp default, which
    // is tuned for the gate's 5-cell probes — minRecallBp is a per-
    // deployment dial, the pinned invariant is the IMPROVEMENT.
    val a0 = graft.operators.Similarity
      .auditIvfIndex(spark, s"$base/gen=0", 3, 2).head()
    val a1 = graft.operators.Similarity
      .auditIvfIndex(spark, cur, 3, 2).head()
    assert(a1.getLong(5) > a0.getLong(5),
      s"retrained recall must beat the biased quantizer: $a0 -> $a1")
    // ...and searches exactly like the ad-hoc exact-Lloyd lane
    // (content == corpus at rebuild time)
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    val got = graft.operators.Similarity.ivfIndexTopK(spark, cur, q, 3, 2)
      .select("qid", "cid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val adhoc = graft.operators.Similarity
      .ivfTopKWithCentroids(e,
        graft.operators.Similarity.kmeansCentroidsExact(e, 20, 2), 3, 2)
      .where(col("qid") < 10)
      .select("qid", "cid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == adhoc)
    // a re-delivered pre-flip batch skips (horizon carried across the flip)
    assert(!graft.operators.Similarity.maintainIvfBatch(spark, base,
      e.where(col("vec_id") % 2 === 1), 1, biased,
      auditEvery = 2, k = 3, nprobe = 2, rebuildStride = 20))
  }

  test("incremental connected components == from-scratch on random graphs, any batch split") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 4) {
      val n = 40
      val edges = (0 until 60).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      val df = edges.toDF("doc_a", "doc_b").localCheckpoint(true)
      val full = graft.operators.Dedup.connectedComponents(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val cut = trial % 3 // vary the split rule across trials
      val h1 = df.where((col("doc_a") + col("doc_b")) % 3 === cut)
      val h2 = df.where((col("doc_a") + col("doc_b")) % 3 =!= cut)
      val incr = graft.operators.Dedup.connectedComponentsIncremental(
          graft.operators.Dedup.connectedComponents(h1), h2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(incr == full, s"trial $trial: incremental != from-scratch")
    }
  }

  test("index compaction: file counts collapse, content and searches unchanged (ivf + bm25)") {
    import spark.implicits._
    def files(dir: java.io.File): Int = Option(dir.listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    // --- IVF: 4 appends -> multi-file cells -> compact to 1 file/cell
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .where(col("vec_id") < 200)
    val iroot = java.nio.file.Files
      .createTempDirectory("graft-ivf-cpt-spec").toString + "/idx"
    val cents = graft.operators.Similarity.strideCentroids(e, 40)
    graft.operators.Similarity.buildIvfIndexWith(
      e.where(col("vec_id") % 4 === 0), iroot, cents)
    (1 to 3).foreach(i => graft.operators.Similarity.appendToIvfIndex(
      e.where(col("vec_id") % 4 === i), iroot))
    val cellDirs = new java.io.File(s"$iroot/cells").listFiles()
      .filter(_.getName.startsWith("cell="))
    assert(cellDirs.exists(files(_) > 1), "appends should leave multi-file cells")
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    def isearch() = graft.operators.Similarity
      .ivfIndexTopK(spark, iroot, q, 3, 2).select("qid", "cid", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val before = isearch()
    graft.operators.Similarity.compactIvfIndex(spark, iroot, maxFilesPerCell = 1)
    assert(cellDirs.forall(d => !d.exists() || files(d) <= 1),
      "compaction must leave at most one file per cell")
    assert(isearch() == before, "compaction must not change search results")
    // --- BM25: 3 appends -> compact -> identical postings
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 60)
    val broot = java.nio.file.Files
      .createTempDirectory("graft-bm25-cpt-spec").toString + "/idx"
    graft.operators.Retrieval.buildIndex(d.where(col("doc_id") % 3 === 0), broot)
    (1 to 2).foreach(i => graft.operators.Retrieval.appendToIndex(
      d.where(col("doc_id") % 3 === i), broot))
    def posts() = spark.read.parquet(s"$broot/postings")
      .select("doc_id", "tok", "tf")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val pBefore = posts()
    graft.operators.Retrieval.compactIndex(spark, broot, maxFilesPerBucket = 1)
    val bucketDirs = new java.io.File(s"$broot/postings").listFiles()
      .filter(_.getName.startsWith("bucket="))
    assert(bucketDirs.forall(files(_) <= 1),
      "compaction must leave at most one file per bucket")
    assert(posts() == pBefore, "compaction must not change postings")
  }

  test("ivfpq delete: post-delete search == fresh index on survivors; heal publishes an interrupted swap and rolls back a pre-publish stage") {
    import spark.implicits._
    val S = graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .where(col("vec_id") < 200)
    // decoys: disjoint ids, same vectors — quantizers train on the REAL
    // corpus only (production split), so both roots share assignment
    val decoys = e.where(col("vec_id") < 30)
      .select((col("vec_id") + 100000L).as("vec_id"), col("emb"))
    val rootA = java.nio.file.Files
      .createTempDirectory("graft-pq-del").toString + "/idx"
    val rootB = java.nio.file.Files
      .createTempDirectory("graft-pq-del-fresh").toString + "/idx"
    S.writeIvfPqQuantizers(e, rootA, stride = 40, m = 16)
    S.appendToIvfPqIndex(e.unionByName(decoys), rootA)
    S.deleteFromIvfPqIndex(spark, rootA,
      (0L until 30L).map(_ + 100000L))
    S.writeIvfPqQuantizers(e, rootB, stride = 40, m = 16)
    S.appendToIvfPqIndex(e, rootB)
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    def search(root: String) = S.ivfPqIndexTopK(spark, root, q, 3, 2)
      .select("qid", "cid", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(search(rootA) == search(rootB),
      "post-delete PQ search must equal a fresh index on the survivors")
    assert(spark.read.parquet(s"$rootA/pqcells")
      .where(col("vec_id") >= 100000L).count() == 0,
      "deleted codes must be purged from every (batch, cell) dir")
    // interrupted swap: a cell staged away with its tmp complete — the
    // next search must heal-publish it
    val fs = new org.apache.hadoop.fs.Path(rootA)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bdir = fs.listStatus(new org.apache.hadoop.fs.Path(s"$rootA/pqcells"))
      .map(_.getPath).filter(_.getName.startsWith("batch=")).head
    val victim = fs.listStatus(bdir).map(_.getPath)
      .filter(_.getName.startsWith("cell=")).head
    val tag = victim.getName.stripPrefix("cell=")
    assert(fs.rename(victim,
      new org.apache.hadoop.fs.Path(bdir, s".ivfpq_tmp_$tag")))
    assert(search(rootA) == search(rootB),
      "search must heal-publish the staged PQ cell before reading")
    // pre-publish stage tree (no marker): heal must roll it back
    spark.range(1).select(lit(999999L).as("vec_id"),
        typedLit(Seq.fill(16)(0)).as("codes"), lit(0L).as("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$rootA/.ivfpq_stage")
    S.healIvfPqIndex(spark, rootA)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$rootA/.ivfpq_stage")))
    assert(search(rootA) == search(rootB))
  }

  test("ivfpq compact: batch dirs fold to the max label, search unchanged; the marker heals into completion, a bare stage into rollback") {
    import spark.implicits._
    val S = graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .where(col("vec_id") < 200)
    val root = java.nio.file.Files
      .createTempDirectory("graft-pq-cpt").toString + "/idx"
    S.writeIvfPqQuantizers(e, root, stride = 40, m = 16)
    (0 to 2).foreach(i =>
      S.appendToIvfPqIndex(e.where(col("vec_id") % 3 === i), root))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def batchDirs(): Seq[Long] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/pqcells"))
        .map(_.getPath.getName).filter(_.startsWith("batch="))
        .map(_.stripPrefix("batch=").toLong).toSeq.sorted
    assert(batchDirs().size == 3, s"expected 3 append dirs, got ${batchDirs()}")
    val maxLabel = batchDirs().max
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    def search() = S.ivfPqIndexTopK(spark, root, q, 3, 2)
      .select("qid", "cid", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def codes() = spark.read.parquet(s"$root/pqcells")
      .select("vec_id", "codes")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
    val (s0, c0) = (search(), codes())
    S.compactIvfPqIndex(spark, root)
    assert(batchDirs() == Seq(maxLabel),
      s"compaction must fold into the max label, got ${batchDirs()}")
    assert(search() == s0 && codes() == c0,
      "compaction must preserve content and searches")
    // crash AFTER the durable marker: stage complete + marker on disk,
    // swap never ran — heal must COMPLETE. Re-split the content first
    // (move the odd ids into a second batch dir) so the fold has work.
    val half = spark.read.parquet(s"$root/pqcells")
      .select(col("vec_id"), col("codes"), col("cell").cast("long").as("cell"))
      .where(col("vec_id") % 2 === 1).localCheckpoint(true)
    S.deleteFromIvfPqIndexFrame(spark, root, half.select("vec_id"))
    half.write.mode("append").partitionBy("cell")
      .parquet(s"$root/pqcells/batch=${maxLabel + 5}")
    val preHeal = codes()
    spark.read.parquet(s"$root/pqcells")
      .select(col("vec_id"), col("codes"), col("cell").cast("long").as("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/.ivfpq_cstage")
    fs.create(new org.apache.hadoop.fs.Path(root,
      s"_ivfpq_compact_${maxLabel + 5}"), true).close()
    S.healIvfPqIndex(spark, root)
    assert(batchDirs() == Seq(maxLabel + 5),
      "heal must complete a marked compaction")
    assert(codes() == preHeal, "completed compaction must preserve content")
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .exists(_.getPath.getName.startsWith("_ivfpq_compact_")))
    // crash BEFORE the marker: a bare stage tree rolls back wholesale
    spark.range(1).select(lit(888888L).as("vec_id"),
        typedLit(Seq.fill(16)(0)).as("codes"), lit(0L).as("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/.ivfpq_cstage")
    S.healIvfPqIndex(spark, root)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/.ivfpq_cstage")))
    assert(codes() == preHeal, "a pre-publish stage must roll back")
  }

  test("ivfpq maintained family: audit-triggered re-encode flips the generation, carries the horizon, equals a fresh trained index") {
    import spark.implicits._
    val S = graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .where(col("vec_id") < 300)
    val base = java.nio.file.Files
      .createTempDirectory("graft-pq-mnt").toString + "/fam"
    // biased bootstrap quantizers: one corner of the corpus
    S.writeIvfPqQuantizers(e.where(col("vec_id") < 30), s"$base/gen=0",
      stride = 8, m = 16, pqStride = 2)
    def slice(i: Long) = e.where(col("vec_id") % 3 === i)
    (0L to 2L).foreach { i =>
      assert(S.maintainIvfPqBatch(spark, base, slice(i), i, e,
        compactEvery = 2, auditEvery = 3, rebuildStride = 40,
        minRecallBp = 9999)) // force-fire on the audit batch
    }
    assert(S.ivfPqCurrentRoot(spark, base) == s"$base/gen=1",
      "the tripped audit must have flipped the generation")
    // horizon carried: a re-delivered pre-flip batch id must skip
    assert(!graft.operators.Similarity.applyIvfPqBatch(spark,
      s"$base/gen=1", slice(1L), 1L),
      "pre-flip batch ids must stay below the carried commit horizon")
    // the re-encoded family equals a fresh index trained the same way
    val fresh = java.nio.file.Files
      .createTempDirectory("graft-pq-mnt-fresh").toString + "/idx"
    S.writeIvfPqQuantizers(e, fresh, stride = 40, m = 16)
    S.appendToIvfPqIndex(e, fresh)
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    def search(root: String) = S.ivfPqIndexTopK(spark, root, q, 3, 2)
      .select("qid", "cid", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(search(S.ivfPqCurrentRoot(spark, base)) == search(fresh))
  }

  test("ivfpq stats + audit: balanced index reports sane recall; a gutted batch dir trips the rebuild flag") {
    val S = graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .where(col("vec_id") < 200)
    val root = java.nio.file.Files
      .createTempDirectory("graft-pq-audit").toString + "/idx"
    S.writeIvfPqQuantizers(e, root, stride = 40, m = 16)
    (0 to 1).foreach(i =>
      S.appendToIvfPqIndex(e.where(col("vec_id") % 2 === i), root))
    val n = e.count()
    val stats = S.ivfPqIndexStats(spark, root).collect()
    assert(stats.map(_.getLong(1)).sum == n,
      "per-cell n_codes must sum to the corpus")
    assert(stats.forall(_.getLong(3) > 0L), "bytes must come from the FS")
    assert(stats.map(_.getLong(2)).max == 2L,
      "two appends should show as two batch dirs somewhere")
    def audit() = S.auditIvfPqIndex(spark, root, e, k = 3, nprobe = 2,
      sampleBudget = 20, minRecallBp = 3000).head()
    val a0 = audit()
    assert(a0.getLong(1) == n, s"audit n_codes: ${a0.getLong(1)} != $n")
    assert(a0.getLong(5) >= 3000L,
      s"consistent-index ADC recall_bp ${a0.getLong(5)} below floor")
    assert(!a0.getBoolean(6), "consistent index must not trip rebuild")
    // gut one batch dir — lost codes must surface as recall decay
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bd = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/pqcells"))
      .map(_.getPath).filter(_.getName.startsWith("batch=")).head
    fs.delete(bd, true)
    val a1 = audit()
    assert(a1.getLong(1) < n, "gutted dir must drop n_codes")
    assert(a1.getLong(5) < a0.getLong(5),
      s"gutted recall ${a1.getLong(5)} should fall below ${a0.getLong(5)}")
  }

  test("winnow contamination verified: planted verbatim run confirms, edited text does not, winnow columns stay consistent") {
    import spark.implicits._
    val run = (1 to 11).map(i => s"copied$i").mkString(" ") // 11 words
    def filler(seed: Int, n: Int) =
      (0 until n).map(i => s"w${(seed * 131 + i * 17) % 997}").mkString(" ")
    val evalDoc = (100L, s"${filler(1, 30)} $run ${filler(2, 30)}")
    // doc 0: contains the verbatim 11-word run → must verify
    val hit = (0L, s"${filler(3, 25)} $run ${filler(4, 25)}")
    // doc 1: the run with its middle word EDITED — every 11-window
    // differs, but long shared 4-gram stretches remain (both run halves)
    // → fingerprint candidate with NO verified span
    val edited = run.split(" ").updated(5, "EDITED").mkString(" ")
    val miss = (1L, s"${filler(5, 25)} $edited ${filler(6, 25)}")
    val noise = (2 until 40).map(i => (i.toLong, filler(i + 10, 60)))
    val docs = (Seq(hit, miss) ++ noise).toDF("doc_id", "text")
    val evalDf = Seq(evalDoc).toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .winnowContaminationVerified(docs, evalDf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.contains(0L) && out(0L)._3 >= 1,
      s"verbatim 11-word run must verify: $out")
    assert(out.contains(1L) && out(1L)._3 == 0,
      s"edited run must stay a fingerprint-only candidate (n_spans=0): $out")
    // the winnow columns are the winnow lane's verbatim
    val winnow = graft.operators.Dedup.winnowContamination(docs, evalDf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.view.mapValues(v => (v._1, v._2)).toMap == winnow,
      "verified lane must not change the candidate set or its counts")
  }

  test("ivf tombstone MoR: no cell rewrite, every lane masked, fold ≡ COW delete, rebuild never resurrects") {
    import spark.implicits._
    val S = graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .where(col("vec_id") < 150)
    val cents = S.strideCentroids(e, 30)
    val root = java.nio.file.Files
      .createTempDirectory("graft-ivf-mor-spec").toString + "/idx"
    S.buildIvfIndexWith(e, root, cents)
    val filesBefore = spark.read.parquet(s"$root/cells").inputFiles.toSet
    S.deleteFromIvfIndexMor(spark, root, Seq(3L, 9L, 15L).toDF("vec_id"))
    assert(spark.read.parquet(s"$root/cells").inputFiles.toSet == filesBefore,
      "a merge-on-read delete must not rewrite any cell file")
    val q = e.where(col("vec_id") < 30)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "cid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // reference: the COW delete on a sibling index
    val cowRoot = java.nio.file.Files
      .createTempDirectory("graft-ivf-mor-cow").toString + "/idx"
    S.buildIvfIndexWith(e, cowRoot, cents)
    S.deleteFromIvfIndex(spark, cowRoot, Seq(3L, 9L, 15L))
    val want = rows(S.ivfIndexTopK(spark, cowRoot, q, 3, nprobe = 2))
    assert(rows(S.ivfIndexTopK(spark, root, q, 3, nprobe = 2)) == want,
      "masked nprobe search must equal the COW-deleted index")
    assert(rows(S.ivfIndexTopKExact(spark, root, q, 3)) ==
      rows(S.ivfIndexTopKExact(spark, cowRoot, q, 3)),
      "masked exact search must equal the COW-deleted index")
    // the fold: staged COW over touched cells only, sidecar cleared,
    // results unchanged
    S.compactIvfTombstones(spark, root)
    val fs = graft.core.DatapointStore.fsFor(root)
    // file-precise clear (r16): the folded data files are gone (hidden
    // debris like _SUCCESS may remain — readers ignore it)
    def pendingFiles(dir: String) = {
      val pp = new org.apache.hadoop.fs.Path(dir)
      if (!fs.exists(pp)) Array.empty[String]
      else fs.listStatus(pp).filter(st => st.isFile && {
        val n = st.getPath.getName
        !n.startsWith(".") && !n.startsWith("_")
      }).map(_.getPath.getName)
    }
    assert(pendingFiles(s"$root/tombstones").isEmpty,
      "fold must clear the folded sidecar files")
    assert(rows(S.ivfIndexTopK(spark, root, q, 3, nprobe = 2)) == want)
    assert(spark.read.parquet(s"$root/cells")
      .where(col("vec_id").isin(3L, 9L, 15L)).count() == 0,
      "fold must have physically removed the tombstoned rows")
    // rebuild from a root with PENDING tombstones must not resurrect
    S.deleteFromIvfIndexMor(spark, root, Seq(21L).toDF("vec_id"))
    val root2 = java.nio.file.Files
      .createTempDirectory("graft-ivf-mor-rb").toString + "/idx"
    S.rebuildIvfIndex(spark, root, root2, stride = 30)
    assert(spark.read.parquet(s"$root2/cells")
      .where(col("vec_id") === 21L).count() == 0,
      "rebuild is a fold: pending tombstones must not resurrect")
  }

  test("bm25 tombstone MoR: no bucket rewrite, bm25/lm/phrase lanes masked, fold ≡ COW delete, rebuild folds") {
    import spark.implicits._
    val R = graft.operators.Retrieval
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 60)
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25-mor-spec").toString + "/idx"
    R.buildIndex(d, root, nBuckets = 4, positional = true)
    val filesBefore = spark.read.parquet(s"$root/postings").inputFiles.toSet
    R.deleteFromIndexMor(spark, root, Seq(1L, 7L).toDF("doc_id"))
    assert(spark.read.parquet(s"$root/postings").inputFiles.toSet ==
      filesBefore, "MoR delete must not rewrite any postings bucket")
    val q = d.where(col("doc_id").isin(1L, 2L))
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    def ids(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val masked = R.bm25TopKIndexed(spark, root, q, 5, nBuckets = 4)
    assert(ids(masked).intersect(Set(1L, 7L)).isEmpty,
      "tombstoned docs must not serve (incl. qid=1's own doc)")
    assert(ids(R.lmDirichletTopKIndexed(spark, root, q, 5, nBuckets = 4))
      .intersect(Set(1L, 7L)).isEmpty, "LM lane must mask too")
    val phrase = d.where(col("doc_id") === 1L).head().getString(1)
      .split(" ").filter(_.nonEmpty).take(3).toSeq
    assert(!R.phraseTopKIndexed(spark, root, phrase, 10, nBuckets = 4)
      .collect().map(_.getLong(0)).contains(1L), "phrase lane must mask")
    // fold ≡ COW: scores equal the COW-deleted index AFTER the fold
    // (stats refresh there — before it they are deliberately physical)
    R.compactIndexTombstones(spark, root)
    val fs = graft.core.DatapointStore.fsFor(root)
    def pendingFiles(dir: String) = {
      val pp = new org.apache.hadoop.fs.Path(dir)
      if (!fs.exists(pp)) Array.empty[String]
      else fs.listStatus(pp).filter(st => st.isFile && {
        val n = st.getPath.getName
        !n.startsWith(".") && !n.startsWith("_")
      }).map(_.getPath.getName)
    }
    assert(pendingFiles(s"$root/tombstones").isEmpty,
      "fold must clear the folded sidecar files")
    val cowRoot = java.nio.file.Files
      .createTempDirectory("graft-bm25-mor-cow").toString + "/idx"
    R.buildIndex(d, cowRoot, nBuckets = 4, positional = true)
    R.deleteFromIndex(spark, cowRoot, Seq(1L, 7L).toDF("doc_id"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "doc_id", "score", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(rows(R.bm25TopKIndexed(spark, root, q, 5, nBuckets = 4)) ==
      rows(R.bm25TopKIndexed(spark, cowRoot, q, 5, nBuckets = 4)),
      "post-fold index must equal the COW-deleted index exactly")
    // rebuild folds pending tombstones (never resurrects)
    R.deleteFromIndexMor(spark, root, Seq(2L).toDF("doc_id"))
    val root2 = java.nio.file.Files
      .createTempDirectory("graft-bm25-mor-rb").toString + "/idx"
    R.rebuildIndex(spark, root, root2, nBuckets = 4)
    assert(spark.read.parquet(s"$root2/postings")
      .where(col("doc_id") === 2L).count() == 0,
      "rebuild is a fold: pending tombstones must not resurrect")
    assert(spark.read.parquet(s"$root2/doclens")
      .where(col("doc_id") === 2L).count() == 0)
  }

  test("tombstone fold is file-precise: a mid-fold MoR append survives the clear (both index families)") {
    import spark.implicits._
    // r16 (ADVICE): the r15 fold cleared the WHOLE sidecar dir against a
    // pre-fold ids snapshot — a CAS-legal concurrent MoR delete landing
    // between snapshot and clear was wiped UNFOLDED and the taken-down
    // id resurrected with no ConcurrentCommit. Now the fold snapshots
    // the sidecar's file list, folds exactly those files, deletes
    // exactly those files: the late append's file survives to the next
    // fold. The seam injects the append at the exact race point.
    val S = graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .where(col("vec_id") < 100)
    val root = java.nio.file.Files
      .createTempDirectory("graft-ivf-foldrace").toString + "/idx"
    S.buildIvfIndexWith(e, root, S.strideCentroids(e, 25))
    S.deleteFromIvfIndexMor(spark, root, Seq(3L).toDF("vec_id"))
    S.tombstoneFoldHook =
      () => S.deleteFromIvfIndexMor(spark, root, Seq(7L).toDF("vec_id"))
    try S.compactIvfTombstones(spark, root)
    finally S.tombstoneFoldHook = () => ()
    // the folded id is physically gone; the mid-fold id's tombstone
    // file survived the clear and still masks
    assert(spark.read.parquet(s"$root/cells")
      .where(col("vec_id") === 3L).count() == 0, "folded id must be gone")
    assert(spark.read.parquet(s"$root/tombstones")
      .collect().map(_.getLong(0)).toSet == Set(7L),
      "mid-fold tombstone must survive the file-precise clear")
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    assert(!S.ivfIndexTopKExact(spark, root, q, 200)
      .select("cid").collect().map(_.getLong(0)).contains(7L),
      "the surviving tombstone must still mask serving")
    // and the NEXT fold retires it physically
    S.compactIvfTombstones(spark, root)
    assert(spark.read.parquet(s"$root/cells")
      .where(col("vec_id") === 7L).count() == 0)

    val R = graft.operators.Retrieval
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 40)
    val broot = java.nio.file.Files
      .createTempDirectory("graft-bm25-foldrace").toString + "/idx"
    R.buildIndex(d, broot, nBuckets = 4)
    R.deleteFromIndexMor(spark, broot, Seq(1L).toDF("doc_id"))
    R.tombstoneFoldHook =
      () => R.deleteFromIndexMor(spark, broot, Seq(5L).toDF("doc_id"))
    try R.compactIndexTombstones(spark, broot)
    finally R.tombstoneFoldHook = () => ()
    assert(spark.read.parquet(s"$broot/postings")
      .where(col("doc_id") === 1L).count() == 0, "folded id must be gone")
    assert(spark.read.parquet(s"$broot/tombstones")
      .collect().map(_.getLong(0)).toSet == Set(5L),
      "mid-fold tombstone must survive the file-precise clear")
    R.compactIndexTombstones(spark, broot)
    assert(spark.read.parquet(s"$broot/postings")
      .where(col("doc_id") === 5L).count() == 0)
  }

  test("ivfpq filtered search: allowed-set semi-join ≡ searching an index of only the allowed vectors") {
    import spark.implicits._
    val S = graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .where(col("vec_id") < 200)
    // one quantizer+codebook root; codes are per-vector, so filtering
    // candidates ≡ indexing only the allowed vectors under the same
    // frozen quantizers
    val root = java.nio.file.Files
      .createTempDirectory("graft-pq-filt").toString + "/idx"
    S.buildIvfPqIndex(e, root, stride = 40, m = 16)
    val root2 = java.nio.file.Files
      .createTempDirectory("graft-pq-filt2").toString + "/idx"
    val fs = graft.core.DatapointStore.fsFor(root)
    // clone the trained sidecars (centroids + codebooks), re-encode only
    // the allowed vectors into the clone
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$root/centroids"), fs,
      new org.apache.hadoop.fs.Path(s"$root2/centroids"), false,
      spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$root/codebooks"), fs,
      new org.apache.hadoop.fs.Path(s"$root2/codebooks"), false,
      spark.sparkContext.hadoopConfiguration)
    S.appendToIvfPqIndex(e.where(col("vec_id") % 4 === 1), root2)
    val q = e.where(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "cid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val filtered = rows(S.ivfPqIndexTopKFiltered(spark, root, q, k = 3,
      broadcast(e.where(col("vec_id") % 4 === 1).select("vec_id")),
      nprobe = 2))
    assert(filtered.nonEmpty && filtered.forall(_._2 % 4 == 1))
    val only = rows(S.ivfPqIndexTopK(spark, root2, q, k = 3, nprobe = 2))
    assert(filtered == only,
      "filtered PQ search must equal the allowed-only index search")
  }

  test("merge-on-read delete: DV-masked reads ≡ COW result, CDC sees the delete, merge folds, compaction preserves, heal/vacuum reclaim") {
    import spark.implicits._
    import graft.operators.VersionedTable
    val work = java.nio.file.Files
      .createTempDirectory("graft-mor").toString + "/tbl"
    val base = (0L until 64L).map(k => (k, s"v$k")).toDF("k", "value")
    val schema = base.schema
    val pexpr = pmod(col("k"), lit(8L))
    VersionedTable.init(spark, work, base, pexpr) // v0
    def keysAt(v: Long): Set[Long] =
      VersionedTable.readAt(spark, work, schema, v)
        .select("k").collect().map(_.getLong(0)).toSet
    // v1: MoR delete of 3 keys — NO bucket rewrite, only the DV sidecar
    val v1 = VersionedTable.deleteMergeOnRead(spark, work,
      Seq(3L, 11L, 20L).toDF("k"), pexpr)
    assert(v1 == 1L)
    val fs = graft.core.DatapointStore.fsFor(work)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$work/data/v=1")),
      "a merge-on-read delete must not rewrite any bucket")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$work/dv/v=1")))
    assert(keysAt(1L) == (0L until 64L).toSet -- Set(3L, 11L, 20L))
    assert(keysAt(0L) == (0L until 64L).toSet, "time travel below the DV")
    // CDC: the MoR delete is visible as 'D' rows
    val cdc = VersionedTable.changes(spark, work, schema, Seq("k"), 0L, 1L)
      .select("k", "change_op").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(cdc == Set(3L -> "D", 11L -> "D", 20L -> "D"))
    // v2: second DV on overlapping buckets; v3: a merge rewriting the
    // bucket of k=3/11 (k%8==3) must FOLD its DVs — and not resurrect
    val v2 = VersionedTable.deleteMergeOnRead(spark, work,
      Seq(35L).toDF("k"), pexpr) // bucket 3
    assert(v2 == 2L)
    val up = Seq((19L, "UP", "U", 3L)).toDF("k", "value", "op", "version")
    val v3 = VersionedTable.merge(spark, work, up, Seq("k"), pexpr) // bucket 3
    assert(v3 == 3L)
    assert(keysAt(3L) ==
      (0L until 64L).toSet -- Set(3L, 11L, 20L, 35L))
    assert(VersionedTable.readAt(spark, work, schema, 3L)
      .where(col("k") === 19L).head().getString(1) == "UP")
    // the fold retired bucket 3's DVs: reading v3 must consult no DV dir
    // for bucket 3 (k=3 stays deleted because the REWRITE dropped it)
    // v4: threshold compaction folds the remaining DVs (bucket 4's k=20)
    val v4 = VersionedTable.compactDeletes(spark, work, schema, pexpr,
      minDvPerBucket = 1)
    assert(v4 == 4L)
    assert(keysAt(4L) == keysAt(3L), "compaction is content-preserving")
    assert(keysAt(2L) == (0L until 64L).toSet -- Set(3L, 11L, 20L, 35L),
      "time travel through the DV stack stays exact")
    // heal: an orphaned dv dir (crash between DV write and record) goes
    Seq(99L).toDF("k").withColumn("bucket", pexpr)
      .write.partitionBy("bucket").parquet(s"$work/dv/v=9")
    VersionedTable.heal(work)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$work/dv/v=9")),
      "orphan DV dir must heal away")
    assert(keysAt(4L) == keysAt(3L))
    // vacuum past the folds reclaims the retired DV dirs
    VersionedTable.vacuum(work, keep = 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$work/dv/v=1")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$work/dv/v=2")),
      "folded DVs below the horizon must vacuum away")
    assert(keysAt(4L) == (0L until 64L).toSet -- Set(3L, 11L, 20L, 35L))
  }

  test("ivf filtered search: pre-filter ≡ filtered-corpus index; post-filter converges under a covering oversample; attrs survive delete+compact+rebuild") {
    import spark.implicits._
    val S = graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .where(col("vec_id") < 200)
    val tagged = e.withColumn("src", col("vec_id") % 4)
    val cents = S.strideCentroids(e, 25)
    val root = java.nio.file.Files
      .createTempDirectory("graft-ivf-filt").toString + "/idx"
    S.buildIvfIndexWith(tagged, root, cents)
    val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "cid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pre = S.ivfIndexTopKFiltered(spark, root, q, k = 3,
      pred = col("src") === 1, nprobe = 2)
    val preRows = rows(pre)
    assert(preRows.nonEmpty && preRows.forall(_._2 % 4 == 1),
      "every candidate must satisfy the predicate")
    // cell assignment is per-vector against FROZEN centroids, so
    // pre-filtering the candidate side ≡ searching an index built from
    // ONLY the matching vectors under the same quantizer
    val filtRoot = java.nio.file.Files
      .createTempDirectory("graft-ivf-filt-only").toString + "/idx"
    S.buildIvfIndexWith(e.where(col("vec_id") % 4 === 1), filtRoot, cents)
    val expected = rows(
      S.ivfIndexTopK(spark, filtRoot, q, k = 3, nprobe = 2))
    assert(preRows == expected,
      "pre-filter must equal the filtered-corpus index search exactly")
    // post-filter with an oversample window covering EVERY candidate in
    // the probed cells (200 vectors total, so k·oversample = 300 > all)
    // is provably ≡ pre-filter — the recall loss only exists when the
    // window clips
    val post = rows(S.ivfIndexTopKFiltered(spark, root, q, k = 3,
      pred = col("src") === 1, nprobe = 2, oversample = 100))
    assert(post == preRows, "covering post-filter must equal pre-filter")
    // attributes survive the COW delete, compaction, and a rebuild
    S.deleteFromIvfIndex(spark, root, Seq(1L, 5L))
    val afterDel = rows(S.ivfIndexTopKFiltered(spark, root, q, k = 3,
      pred = col("src") === 1, nprobe = 2))
    assert(afterDel.forall(r => r._2 != 1L && r._2 != 5L) &&
      afterDel.forall(_._2 % 4 == 1))
    S.compactIvfIndex(spark, root, maxFilesPerCell = 0)
    assert(rows(S.ivfIndexTopKFiltered(spark, root, q, k = 3,
      pred = col("src") === 1, nprobe = 2)) == afterDel,
      "compaction is content-preserving incl. attribute columns")
    val root2 = java.nio.file.Files
      .createTempDirectory("graft-ivf-filt-rb").toString + "/idx"
    S.rebuildIvfIndex(spark, root, root2, stride = 25)
    val rb = rows(S.ivfIndexTopKFiltered(spark, root2, q, k = 3,
      pred = col("src") === 1, nprobe = 2))
    assert(rb.nonEmpty && rb.forall(_._2 % 4 == 1),
      "rebuild must carry attribute columns into the new root")
  }

  test("Percentiles null contract: exactDiscrete/weightedMedian ignore null values like exactInterpolated (r16 ADVICE alignment)") {
    import spark.implicits._
    // a null value must neither count toward n nor become a NULLS FIRST
    // CDF entry shifting every rank; an all-null group disappears (the
    // documented left-join caller contract). r17 aligned the three
    // lanes — this pins the contract with nulls actually present.
    val rows = Seq[(String, java.lang.Long, java.lang.Long)](
      ("g1", 10L, 1L), ("g1", null, 7L), ("g1", 30L, 1L), ("g1", 20L, 1L),
      ("g1", null, 9L), ("g1", 40L, 1L),
      ("g2", 5L, 2L), ("g2", null, 3L),
      ("g3", null, 4L), ("g3", null, 1L)) // all-null group
      .toDF("g", "v", "w")
    val disc = graft.operators.Percentiles.exactDiscrete(
      rows, "g", "v", Seq((1, 2, "p50")), checkpoint = false)
      .orderBy("g").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2)))
    // g1: non-null values (10,20,30,40), n=4, rank ceil(4/2)=2 -> 20;
    // g2: (5), n=1 -> 5; g3 vanishes (all null)
    assert(disc.toSeq == Seq(("g1", 4L, 20L), ("g2", 1L, 5L)),
      s"discrete lane mishandled nulls: ${disc.toSeq}")
    val wmed = graft.operators.Percentiles.weightedMedian(
      rows, "g", "v", "w", checkpoint = false)
      .orderBy("g").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // g1: weights all 1 over (10,20,30,40): totw=4, lo=20, hi=30
    // (null rows' weights 7/9 must NOT join the cumulative sums)
    assert(wmed.toSeq == Seq(("g1", 4L, 20L, 30L), ("g2", 2L, 5L, 5L)),
      s"weighted lane mishandled nulls: ${wmed.toSeq}")
  }

  test("text_heaps_fit / text_zipf_fit: growing vocabulary fits beta > 0, every fit value sign-canonical") {
    import spark.implicits._
    // the gate corpus saturates its vocabulary, so beta is ±ulp noise that
    // round(4) turns into a signed zero; the fits add 0.0 after rounding
    // on both engines. Pin both regimes: a vocabulary that grows (one new
    // token per document, beta well above 0, checked against a direct OLS
    // of the ten checkpoints) and one that saturates (beta exactly +0.0)
    def negZero(x: Double) =
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(-0.0)
    def corpus(grow: Boolean) = (0 until 100).map { i =>
      val fresh = if (grow) s" new$i" else ""
      (i.toLong, s"a b c d ${"x" * (1 + i % 3)}$fresh")
    }
    for (grow <- Seq(true, false)) {
      val docs = corpus(grow)
      val dir = java.nio.file.Files.createTempDirectory("graft-heaps").toString
      docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      val heaps = SparkEntry.queries("text_heaps_fit")(spark, dir).collect()
      val zipf = SparkEntry.queries("text_zipf_fit")(spark, dir).collect()
      assert(heaps.length == 1 && zipf.length == 1)
      val (beta, hIcpt) = (heaps.head.getDouble(1), heaps.head.getDouble(2))
      val (slope, zIcpt) = (zipf.head.getDouble(1), zipf.head.getDouble(2))
      Seq(beta, hIcpt, slope, zIcpt).foreach(x =>
        assert(!negZero(x), s"grow=$grow: a fit emitted -0.0 ($beta $hIcpt $slope $zIcpt)"))
      // direct OLS over the same checkpoints: V_j = tokens first seen
      // before cut_j, n_j = token mass before cut_j
      val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }
      val pts = (1 to 10).map { j =>
        val cut = docs.size * j / 10
        val before = toks.filter(_._1 < cut)
        (math.log(before.map(_._2.size).sum.toDouble),
          math.log(before.flatMap(_._2).distinct.size.toDouble))
      }
      val n = pts.size
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxy = pts.map(p => p._1 * p._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val expected = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      if (grow) assert(beta > 0.1 && math.abs(beta - expected) < 1e-4,
        s"growing vocabulary: beta $beta, direct OLS $expected")
      else assert(beta == 0.0 && math.abs(expected) < 1e-9,
        s"saturated vocabulary: beta $beta, direct OLS $expected")
    }
  }

  test("pipe_curriculum builds and runs on an empty corpus (null-safe doc_id range width)") {
    import spark.implicits._
    // max(doc_id) over no documents is null; the tie-range width must
    // coalesce instead of throwing while the query is built
    val dir = java.nio.file.Files.createTempDirectory("graft-curr").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    assert(SparkEntry.queries("pipe_curriculum")(spark, dir).count() == 0L)
  }

  override def afterAll(): Unit = spark.stop()
}
