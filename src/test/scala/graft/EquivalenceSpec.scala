package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.model.Granularity
import graft.operators.{Derive, Downsample}

/** Seeded-random equivalence properties over the Spark operators
  * (SURVEY §5.3): partial+final fold ≡ single pass, ladder composition,
  * derive ops vs a pure-Scala oracle. Integer-valued doubles keep float
  * sums exact so equality is bit-level.
  */
class EquivalenceSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.obs.GraftSession.local(4)

  val base = 1704067200L // 2024-01-01 UTC

  def randomPoints(seed: Int, n: Int, spanSec: Long): Seq[(String, Timestamp, Double)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      (s"s${rnd.nextInt(3)}",
        new Timestamp((base + (rnd.nextLong().abs % spanSec)) * 1000L),
        rnd.nextInt(1000).toDouble)
    }
  }

  val aggCols = Seq("stream_id", "t", "c", "s", "q", "l", "u", "t_first", "t_last")

  test("fold from partials == direct aggregation, any ladder pair (5 seeds)") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val df = randomPoints(seed, 300, 7L * 86400).toDF("stream_id", "t", "v")
      for ((fine, coarse) <- Seq(
          (Granularity.Minutes, Granularity.Hours),
          (Granularity.Seconds10, Granularity.Minutes10),
          (Granularity.Hours, Granularity.Days))) {
        val direct = Downsample.toGranularity(df, coarse)
          .select(aggCols.head, aggCols.tail: _*).collect().map(_.toSeq).toSet
        val folded = Downsample.foldToCoarser(
            Downsample.toGranularity(df, fine), coarse)
          .select(aggCols.head, aggCols.tail: _*).collect().map(_.toSeq).toSet
        assert(folded == direct, s"seed=$seed $fine->$coarse")
      }
    }
  }

  test("ladder composition: fold f->m->c == fold f->c (3 seeds)") {
    import spark.implicits._
    for (seed <- 10 to 12) {
      val df = randomPoints(seed, 300, 7L * 86400).toDF("stream_id", "t", "v")
      val fine = Downsample.toGranularity(df, Granularity.Minutes)
      val twoStep = Downsample.foldToCoarser(
          Downsample.foldToCoarser(fine, Granularity.Hours), Granularity.Days)
        .select(aggCols.head, aggCols.tail: _*).collect().map(_.toSeq).toSet
      val oneStep = Downsample.foldToCoarser(fine, Granularity.Days)
        .select(aggCols.head, aggCols.tail: _*).collect().map(_.toSeq).toSet
      assert(twoStep == oneStep, s"seed=$seed")
    }
  }

  test("one-pass ladder kernel == level-by-level chain (random multi-day ladders, 3 seeds)") {
    // RollupLadder folds every level of a downsampleStreams run in one
    // job; the reference is the per-level chain it replaced, built from
    // the Downsample operators: level g folds level g-1's disk partials
    // plus this run's new g-1 buckets, every input past the stream's
    // threshold at g, completed buckets only. Run 1 materializes every
    // level to mid-day (until inside open buckets); run 2 folds on top of
    // those partials across UTC day boundaries, with one stream skipping a
    // level (active-set pruning) and until again inside an open bucket.
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import graft.core.DatapointStore
    import graft.operators.RollupLadder
    import RollupLadder.{Skip, StreamPlan}
    val ladder = Granularity.ladder
    // int: integer values (bit-exact); frac: fractional values; mins: a
    // stream whose highest granularity is minutes; nom: a nominal stream
    // (count-only lane). Every null value has a non-null twin in the same
    // second, so no fold bucket has a zero count.
    val hgOf = Map("int" -> 0, "frac" -> 0, "mins" -> 2, "nom" -> 0)
    val numeric = Map("int" -> true, "frac" -> true, "mins" -> true, "nom" -> false)
    val span = 3L * 86400 + 8 * 3600
    def raw(seed: Int): DataFrame = {
      val rnd = new scala.util.Random(seed)
      val rows = hgOf.keys.toSeq.sorted.flatMap { id =>
        // a sparse spread over the span plus a dense burst in one hour
        val secs = Seq.fill(700)(rnd.nextLong().abs % span) ++
          Seq.fill(300)(86400L + 5 * 3600 + rnd.nextInt(3600))
        secs.flatMap { sec =>
          val t = new Timestamp((base + sec) * 1000L + rnd.nextInt(1000))
          def value(): (Option[Double], Option[String]) =
            if (id == "nom") (None, Some(s"""{"k":${rnd.nextInt(9)}}"""))
            else if (id == "int") (Some(rnd.nextInt(1000).toDouble), None)
            else (Some(rnd.nextDouble() * 1000 - 500), None)
          val (v, j) = value()
          val nulled = rnd.nextInt(10) == 0
          val main = (id, t, if (nulled) None else v, if (nulled) None else j)
          // a null row gets a non-null partner in the same second
          if (nulled) { val (v2, j2) = value(); Seq(main, (id, t, v2, j2)) }
          else Seq(main)
        }
      }
      DatapointStore.normalize(rows.toDF("stream_id", "t", "v_num", "v_json")
        .withColumn("granularity",
          element_at(typedLit(hgOf.map { case (k, v) => k -> ladder(v).name }),
            col("stream_id"))))
    }
    val cols = Seq("stream_id", "granularity", "t", "c", "s", "q", "l", "u",
      "m", "d", "t_first", "t_last", "t_mean")

    def chain(store: DataFrame, plans: Map[String, StreamPlan],
        untilSec: Long): DataFrame = {
      val until = Some(new Timestamp(untilSec * 1000L))
      var mem: Option[DataFrame] = None
      val out = (1 until ladder.size).flatMap { k =>
        val (g, prev) = (ladder(k), ladder(k - 1))
        val need = plans.filter(_._2.threshold(k) != Skip)
        val thr = need.map { case (id, p) => (id, p.threshold(k)) }.toSeq
          .toDF("stream_id", "thr")
        def newBuckets(df: DataFrame) = df.join(thr, "stream_id")
          .where(unix_timestamp(col("t")) >= col("thr")).drop("thr")
        def at(ids: Iterable[String], gran: String) = store
          .where(col("granularity") === gran && col("stream_id").isin(ids.toSeq: _*))
        def fine(ids: Iterable[String], cs: Seq[String]) = {
          val disk = at(ids, prev.name).select(cs.map(col): _*)
          mem.fold(disk)(m => disk.unionByName(
            m.where(col("stream_id").isin(ids.toSeq: _*)).select(cs.map(col): _*)))
        }
        def done(df: DataFrame) =
          df.where(unix_timestamp(col("t")) + g.seconds <= untilSec)
        val (fromRaw, fromParts) = need.keys.partition(id => hgOf(id) == k - 1)
        def when(ids: Iterable[String])(f: Iterable[String] => DataFrame) =
          if (ids.isEmpty) None else Some(f(ids))
        val parts = Seq(
          when(fromRaw.filter(numeric))(ids => Downsample.toGranularity(
            newBuckets(at(ids, prev.name)
              .select(col("stream_id"), col("t"), col("v_num").as("v"))), g, until)),
          when(fromRaw.filterNot(numeric))(ids => Downsample.countOnlyToGranularity(
            newBuckets(at(ids, prev.name).select("stream_id", "t", "v_json")), g, until)),
          when(fromParts.filter(numeric))(ids => done(Downsample.foldToCoarser(
            newBuckets(fine(ids, Seq("stream_id", "t", "c", "s", "q", "l", "u",
              "t_first", "t_last", "t_mean"))), g))),
          when(fromParts.filterNot(numeric))(ids => done(Downsample.countOnlyFold(
            newBuckets(fine(ids, Seq("stream_id", "t", "c", "t_first", "t_last",
              "t_mean"))), g)))
        ).flatten
        mem = parts.reduceOption(_.unionByName(_, allowMissingColumns = true))
          .map(_.localCheckpoint(true))
        mem
      }
      DatapointStore.normalize(out.reduce(_.unionByName(_, allowMissingColumns = true)))
    }

    def keyed(df: DataFrame) = df.select(cols.map(col): _*).collect()
      .map(r => (r.getString(0), r.getString(1), r.getTimestamp(2)) -> r).toMap
    def close(a: Any, b: Any, scale: Double): Boolean = (a, b) match {
      case (x: Double, y: Double) =>
        x == y || math.abs(x - y) <= 1e-9 * math.max(scale, math.max(x.abs, y.abs))
      case _ => a == b
    }
    def same(what: String, got: DataFrame, ref: DataFrame): Unit = {
      val (g, r) = (keyed(got), keyed(ref))
      assert(g.keySet == r.keySet, s"$what: bucket sets differ by " +
        s"${(g.keySet diff r.keySet).take(3)} / ${(r.keySet diff g.keySet).take(3)}")
      assert(g.keys.map(_._2).toSet.size >= 5, s"$what: too few levels")
      g.foreach { case (key, x) =>
        val y = r(key)
        def at(c: String) = (x.get(x.fieldIndex(c)), y.get(y.fieldIndex(c)))
        Seq("c", "l", "u", "t_first", "t_last", "t_mean").foreach { c =>
          assert(at(c)._1 == at(c)._2, s"$what $key: $c ${at(c)}")
        }
        if (key._1 == "int") Seq("s", "q", "m", "d").foreach { c =>
          assert(at(c)._1 == at(c)._2, s"$what $key: $c not bit-exact ${at(c)}")
        }
        // s, q, m: float addition order; d compared through d² against
        // the bucket's second moment (cancellation in q/c − m²)
        Seq("s", "q", "m").foreach { c =>
          assert(close(at(c)._1, at(c)._2, 0.0), s"$what $key: $c ${at(c)}")
        }
        (at("d"), at("q"), at("c")) match {
          case ((dx: Double, dy: Double), (q: Double, _), (n: Long, _)) =>
            assert(close(dx * dx, dy * dy, q / n), s"$what $key: d $dx vs $dy")
          case (d, _, _) => assert(d._1 == d._2, s"$what $key: d $d")
        }
      }
    }

    for (seed <- 40 to 42) {
      val rawAll = raw(seed).localCheckpoint(true)
      val until1 = base + 86400 + 13 * 3600 + 27 * 60 + 13
      val until2 = base + 3 * 86400 + 7 * 3600 + 13 * 60 + 7
      // run 1: empty ladder, raw points up to until1, every level
      val plans1 = hgOf.map { case (id, hg) =>
        id -> StreamPlan(numeric(id), hg,
          Array.tabulate(ladder.size)(k => if (k > hg) Long.MinValue else Skip))
      }
      val store1 = rawAll.where(unix_timestamp(col("t")) < until1)
      val ref1 = chain(store1, plans1, until1).localCheckpoint(true)
      val fold1 = RollupLadder.fold(store1, plans1, until1, 3, byStream = false)
      same(s"seed $seed run 1", fold1.rows, ref1)
      // run 2: every raw point plus run 1's partials on disk; thresholds
      // from the per-level high-water marks, which run 1's fold reported;
      // frac skips minutes10
      val hwm = ref1.groupBy("stream_id", "granularity").agg(max("t"))
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          r.getTimestamp(2).getTime / 1000L).toMap
      assert(fold1.marks.value.toSeq.flatMap { case (id, m) => m.indices.collect {
          case k if m(k) != RollupLadder.NoMark => (id, ladder(k).name) -> m(k) } }.toMap == hwm,
        s"seed $seed: run 1's marks")
      val plans2 = hgOf.map { case (id, hg) =>
        id -> StreamPlan(numeric(id), hg, Array.tabulate(ladder.size) { k =>
          if (k <= hg || (id == "frac" && ladder(k) == Granularity.Minutes10)) Skip
          else hwm.get((id, ladder(k).name)).fold(Long.MinValue)(_ + ladder(k).seconds)
        })
      }
      val store2 = rawAll.unionByName(ref1)
      // exchanged by (stream_id, day), as for a root partitioned by stream
      same(s"seed $seed run 2",
        RollupLadder.fold(store2, plans2, until2, 3, byStream = true).rows,
        chain(store2, plans2, until2))
    }
  }

  test("one-pass ladder kernel: a bucket whose values are all null folds to c = 0 and a null t_mean") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.core.DatapointStore
    import graft.operators.RollupLadder
    // raw level: c = 0, s/q/l/u/m null, d 0.0, t_mean over the rows; the
    // fold's count-weighted t_mean has no weight left, so it is null (the
    // Spark expression floor(Σ((t_mean − bucket)·c) / Σc) divides by zero)
    val store = DatapointStore.normalize(Seq(
        ("z", new Timestamp((base + 5) * 1000L)),
        ("z", new Timestamp((base + 15) * 1000L)))
      .toDF("stream_id", "t").withColumn("v_num", lit(null).cast("double"))
      .withColumn("granularity", lit("seconds")))
    val thr = Array.tabulate(Granularity.ladder.size)(k =>
      if (k == 1 || k == 2) Long.MinValue else RollupLadder.Skip)
    val rows = RollupLadder.fold(store,
        Map("z" -> RollupLadder.StreamPlan(numeric = true, hg = 0, thr)),
        base + 86400, 2, byStream = false).rows
      .orderBy("granularity", "t").collect()
    assert(rows.map(_.getString(12)).toSeq == Seq("minutes", "seconds10", "seconds10"))
    rows.foreach { r =>
      assert(r.getLong(2) == 0L && (3 to 7).forall(r.isNullAt) && r.getDouble(8) == 0.0)
    }
    assert(rows(0).isNullAt(11), "minutes t_mean")
    assert(rows.tail.map(_.getTimestamp(11).getTime / 1000L).toSeq == Seq(base + 5, base + 15))
  }

  test("Downsample folds: an all-null seconds10 bucket folds to c = 0 and a null t_mean (foldToCoarser, countOnlyFold)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // two seconds10 buckets of one minute, every value null: Σc = 0, so
    // the count-weighted t_mean has no weight (ANSI would raise
    // DIVIDE_BY_ZERO on the division)
    val raw = Seq(("z", new Timestamp((base + 5) * 1000L)),
        ("z", new Timestamp((base + 15) * 1000L))).toDF("stream_id", "t")
    val num = Downsample.toGranularity(
      raw.withColumn("v", lit(null).cast("double")), Granularity.Seconds10)
    val nom = Downsample.countOnlyToGranularity(
      raw.withColumn("v_json", lit(null).cast("string")), Granularity.Seconds10)
    for ((name, folded) <- Seq(
        "foldToCoarser" -> Downsample.foldToCoarser(num, Granularity.Minutes),
        "countOnlyFold" -> Downsample.countOnlyFold(nom, Granularity.Minutes))) {
      val rows = folded.select("c", "t_mean").collect()
      assert(rows.length == 1 && rows(0).getLong(0) == 0L && rows(0).isNullAt(1),
        s"$name: ${rows.toSeq}")
    }
  }

  test("derive ops match a pure-Scala oracle on random counters (5 seeds)") {
    import spark.implicits._
    for (seed <- 20 to 24) {
      val rnd = new scala.util.Random(seed)
      var ctr = 0.0
      val pts = (0 until 200).map { i =>
        ctr = (ctr + rnd.nextInt(50)) % 1000.0
        ("c0", new Timestamp((base + i * 10L + rnd.nextInt(5)) * 1000L), ctr)
      }.distinctBy(_._2).sortBy(_._2.getTime)
      val df = pts.toDF("stream_id", "t", "v")

      // pure-Scala oracles over the sorted sequence
      val pairs = pts.sliding(2).filter(_.size == 2).toSeq
      val oracleDeriv = pairs.collect { case Seq((_, t1, v1), (_, t2, v2))
          if t2.getTime != t1.getTime =>
        (t2, (v2 - v1) / ((t2.getTime - t1.getTime) / 1000L)) }
      val oracleResets = pairs.collect { case Seq((_, _, v1), (_, t2, v2))
          if v2 < v1 => (t2, 1.0) }
      val oracleCd = pairs.collect { case Seq((_, t1, v1), (_, t2, v2))
          if t2.getTime != t1.getTime =>
        val d = if (v2 >= v1) v2 - v1 else 1000.0 - v1 + v2
        (t2, d / ((t2.getTime - t1.getTime) / 1000L)) }

      def got(r: org.apache.spark.sql.DataFrame) = r.orderBy("t").collect()
        .map(x => (x.getTimestamp(1), x.getDouble(2))).toSeq
      assert(got(Derive.derivative(df)) == oracleDeriv, s"seed=$seed derivative")
      assert(got(Derive.counterReset(df)) == oracleResets, s"seed=$seed reset")
      assert(got(Derive.counterDerivative(df, Some(1000.0))) == oracleCd,
        s"seed=$seed counter_derivative")
    }
  }

  test("set-wise keyed derive variants == per-stream originals (5 seeds)") {
    // the wave-batched cascade routes MANY derived streams through ONE
    // call of these keyed variants; pin them bit-equal to the
    // single-stream operators they replace, including null max_value
    // (no-wrap semantics) and reset suppression
    import spark.implicits._
    import org.apache.spark.sql.functions._
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val outs = Seq("o1", "o2", "o3")
      val series = outs.map { o =>
        o -> (0 until 60).map { i =>
          (o, new Timestamp((base + i * 37 + rnd.nextInt(5)) * 1000L),
            rnd.nextInt(256).toDouble)
        }
      }.toMap
      val maxOf: Map[String, Option[Double]] =
        Map("o1" -> Some(256.0), "o2" -> None, "o3" -> Some(1000.0))
      val resets = outs.map { o =>
        o -> (0 until 4).map(_ =>
          (o, new Timestamp((base + rnd.nextInt(60 * 37)) * 1000L)))
      }.toMap

      // V4: per-stream broadcast bounds vs literal-bound originals
      val allSrc = series.values.flatten.toSeq.toDF("stream_id", "t", "v")
      val allReset = resets.values.flatten.toSeq.toDF("stream_id", "t")
      val maxDf = outs.map(o =>
        (o, maxOf(o).map(Double.box).orNull.asInstanceOf[java.lang.Double]))
        .toDF("stream_id", "max_value")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r =>
          (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSet
      val batched = rows(Derive.counterDerivativePerStream(
        allSrc, maxDf, Some(allReset)))
      val single = outs.flatMap { o =>
        rows(Derive.counterDerivative(
          series(o).toDF("stream_id", "t", "v"), maxOf(o),
          Some(resets(o).toDF("stream_id", "t"))))
      }.toSet
      assert(batched == single, s"seed $seed: V4 keyed != per-stream")

      // V1: keyed multi-granularity sum vs per-stream streamSum
      val gOf = Map("o1" -> Granularity.Seconds, "o2" -> Granularity.Minutes,
        "o3" -> Granularity.Hours)
      val tagged = allSrc.join(
        outs.map(o => (o, gOf(o).seconds)).toDF("stream_id", "gsec"),
        "stream_id")
      val sumBatched = rows(Derive.streamSumKeyed(tagged))
      val sumSingle = outs.flatMap { o =>
        rows(Derive.streamSum(
          series(o).toDF("stream_id", "t", "v"), gOf(o), o))
      }.toSet
      assert(sumBatched == sumSingle, s"seed $seed: V1 keyed != per-stream")
    }
  }

  test("ewma matches a pure-Scala sequential fold, bit-exact (5 seeds)") {
    import spark.implicits._
    for (seed <- 30 to 34) {
      val pts = randomPoints(seed, 250, 7L * 86400)
        .distinctBy(p => (p._1, p._2)) // ewma assumes a total per-stream order
      val df = pts.toDF("stream_id", "t", "v")
      val oracle = pts.groupBy(_._1).flatMap { case (sid, ps) =>
        var acc = 0.0; var first = true
        ps.sortBy(_._2.getTime).map { case (_, t, v) =>
          acc = if (first) { first = false; v } else 0.3 * v + 0.7 * acc
          (sid, t, acc)
        }
      }.toSet
      val got = Derive.ewma(df, alpha = 0.3).collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSet
      assert(got == oracle, s"seed=$seed")
    }
  }

  override def afterAll(): Unit = spark.stop()
}
