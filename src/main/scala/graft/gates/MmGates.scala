package graft
package gates

import org.apache.spark.sql.functions._

import Fixtures._

/** Multimodal gates (`mm_*`): audio codecs and frames, image transforms
  * and perceptual hashes over the stub media codec.
  */
object MmGates {

  def gates: Seq[Gate] = Seq(

    Gate("mm_pipeline", { (s, dir) =>
      // multimodal plumbing — binary + metadata → decode stub → features →
      // per-kind stats (real schema/partitioning; md5-derived stub codec,
      // so the aggregates hash-verify against the SQL oracle)
      import s.implicits._
      val media = graft.operators.Multimodal.mediaFromDocuments(
        tbl(s, dir, "documents"))
      val dec = graft.operators.Multimodal.decodeImages(media, partitions = 8)
      val feats = graft.operators.Multimodal.extractFeatures(media, dim = 16)
      media.toDF.select(col("media_id"), col("meta.kind").as("kind"))
        .join(dec.toDF.select(col("media_id"), col("meanLuma")), "media_id")
        .join(feats.toDF.select(col("media_id"),
          expr("aggregate(feature, 0D, (a, x) -> a + CAST(x AS DOUBLE))").as("feat_sum")),
          "media_id")
        .groupBy("kind")
        .agg(count(lit(1)).as("n"), avg("meanLuma").as("avg_luma"),
          avg("feat_sum").as("avg_feat_sum"))
        .orderBy("kind")
    },
      // the stub codec is md5-derived on purpose (Multimodal.decodeBytes /
      // fakeFeature): meanLuma = md5 byte 0 / 255, feature[i] = float of
      // (md5(text || '#0') byte i) / 127.5 - 1 for dim=16 — recomputable
      // here byte-for-byte. feat_sum folds elements in array order on
      // both sides.
      """WITH m AS (SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |    ('0x' || substring(md5(text), 1, 2))::INT / 255.0 AS luma,
        |    list_sum(list_transform(range(0, 16), i ->
        |      CAST(CAST(('0x' || substring(md5(text || '#0'), i*2 + 1, 2))::INT
        |           / 127.5 - 1 AS FLOAT) AS DOUBLE))) AS feat_sum
        |  FROM documents)
        |SELECT kind, count(*) AS n, avg(luma) AS avg_luma,
        |  avg(feat_sum) AS avg_feat_sum
        |FROM m GROUP BY kind ORDER BY kind""".stripMargin),

    Gate("mm_equalize", { (s, dir) =>
      // histogram equalization under the exact gate: per doc, a 24×24
      // grayscale with the SKEWED closed-form distribution
      // v_i = (doc_id·3 + (i·i) mod 97) mod 200 round-trips the
      // lossless PNG lane and remaps through the integer CDF formula;
      // the oracle rebuilds the per-doc CDF in SQL (window running
      // count over the distinct values) and re-derives every remapped
      // pixel from doc_id arithmetic.
      import s.implicits._
      val ids = tbl(s, dir, "documents").where(col("doc_id") < 64)
        .select(col("doc_id").cast("long"))
      val media = ids.as[Long].mapPartitions(_.map { id =>
          (id, graft.operators.Multimodal.grayscalePng(24,
            (x, y) => {
              val i = (y * 24 + x).toLong
              ((id * 3 + (i * i) % 97) % 200).toInt
            }))
        }).toDF("media_id", "content")
      graft.operators.Multimodal.equalizeStats(media)
        .select(col("media_id").as("doc_id"), col("n_px"),
          col("sum_eq"), col("min_eq"), col("max_eq"))
        .orderBy("doc_id")
    },
      // per-doc CDF from the closed-form pixel values; remap =
      // (cdf(v) − cdf_min)·255 // (n − cdf_min), all non-negative
      // integer division
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id
        |  FROM documents WHERE doc_id < 64),
        |px AS (SELECT doc_id, unnest(range(0, 576)) AS i FROM ids),
        |pv AS (SELECT doc_id, i,
        |    (doc_id * 3 + (i * i) % 97) % 200 AS v FROM px),
        |grp AS (SELECT doc_id, v, CAST(count(*) AS BIGINT) AS cnt
        |  FROM pv GROUP BY doc_id, v),
        |cdf AS (SELECT doc_id, v, cnt, sum(cnt) OVER (PARTITION BY doc_id
        |    ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS cum FROM grp),
        |cm AS (SELECT doc_id, arg_min(cnt, v) AS cdf_min FROM cdf
        |  GROUP BY doc_id),
        |re AS (SELECT pv.doc_id, (cdf.cum - cm.cdf_min) * 255
        |    // (576 - cm.cdf_min) AS nv
        |  FROM pv JOIN cdf ON cdf.doc_id = pv.doc_id AND cdf.v = pv.v
        |  JOIN cm ON cm.doc_id = pv.doc_id)
        |SELECT doc_id, CAST(576 AS BIGINT) AS n_px,
        |  CAST(sum(nv) AS BIGINT) AS sum_eq,
        |  CAST(min(nv) AS BIGINT) AS min_eq,
        |  CAST(max(nv) AS BIGINT) AS max_eq
        |FROM re GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Gate("mm_stft_frames", { (s, dir) =>
      // the STFT skeleton under the exact gate: analytic sawtooth WAVs
      // (sample i = (i·step) mod 65536 in offset-binary units) frame at
      // 256/hop-128 (overlapping frames — the hop arithmetic is the
      // point) and each frame's pure-integer Σu² energy is recomputed
      // closed-form by the oracle. Container parse, exact Int16
      // recovery, frame bounds and the reduction must all agree.
      import s.implicits._
      val ids = tbl(s, dir, "documents").where(col("doc_id") < 48)
        .select(col("doc_id").cast("long"))
      val media = ids.as[Long].mapPartitions(_.map { id =>
          (id, graft.operators.Multimodal
            .sawWav(257L + (id % 7) * 31L, 1000, 8000))
        }).toDF("media_id", "content")
      graft.operators.Multimodal.frameEnergyStats(media, 256, 128)
        .select(col("media_id").as("doc_id"), col("frame_idx"),
          col("n"), col("energy"))
        .orderBy("doc_id", "frame_idx")
    },
      // (1000 − 256) div 128 + 1 = 6 full frames per doc; frame f's
      // energy = Σ_{k<256} (((f·128 + k)·step) mod 65536)²
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    257 + (CAST(doc_id AS BIGINT) % 7) * 31 AS step
        |  FROM documents WHERE doc_id < 48),
        |fr AS (SELECT doc_id, step, unnest(range(0, 6)) AS frame_idx
        |  FROM ids),
        |px AS (SELECT doc_id, step, frame_idx,
        |    unnest(range(0, 256)) AS k FROM fr),
        |s AS (SELECT doc_id, frame_idx,
        |    ((frame_idx * 128 + k) * step) % 65536 AS u FROM px)
        |SELECT doc_id, frame_idx, CAST(256 AS BIGINT) AS n,
        |  CAST(sum(u * u) AS BIGINT) AS energy
        |FROM s GROUP BY doc_id, frame_idx
        |ORDER BY doc_id, frame_idx""".stripMargin),

    Gate("mm_g711_roundtrip", { (s, dir) =>
      // the ENCODER under the gate: sawtooth Int16 PCM compresses
      // through linearToUlaw and expands back, and the exact integer
      // quantization-error profile must match an oracle that replays
      // BOTH halves closed-form — the segment search is
      // seg = max(0, floor(log2(pcm + bias)) − 7) (log2 is exact at the
      // power-of-two segment boundaries on both engines), mantissa and
      // companding are pure integer shifts.
      import s.implicits._
      val ids = tbl(s, dir, "documents").where(col("doc_id") < 64)
        .select(col("doc_id").cast("long"))
      val media = ids.as[Long].mapPartitions(_.map { id =>
          (id, graft.operators.Multimodal
            .sawWav(257L + (id % 7) * 31L, 600, 8000))
        }).toDF("media_id", "content")
      graft.operators.Multimodal.g711RoundTripStats(media)
        .select(col("media_id").as("doc_id"), col("n_samples"),
          col("sum_err"), col("max_abs_err"), col("sse"))
        .orderBy("doc_id")
    },
      // encode: pcm = least(32767, sign-folded s + bias), seg =
      // greatest(0, floor(log2(pcm)) − 7), mantissa by shift, xor sign
      // mask; decode: the mm_g711 μ-law expand; integer error stats
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    257 + (CAST(doc_id AS BIGINT) % 7) * 31 AS step
        |  FROM documents WHERE doc_id < 64),
        |px AS (SELECT doc_id, step, unnest(range(0, 600)) AS i FROM ids),
        |sv AS (SELECT doc_id, (i * step) % 65536 - 32768 AS s FROM px),
        |enc AS (SELECT doc_id, s,
        |    least(32767, CASE WHEN s < 0 THEN 132 - s ELSE s + 132 END)
        |      AS pcm,
        |    CASE WHEN s < 0 THEN 127 ELSE 255 END AS mask
        |  FROM sv),
        |sg AS (SELECT doc_id, s, pcm, mask,
        |    greatest(0, CAST(floor(log2(CAST(pcm AS DOUBLE))) AS BIGINT)
        |      - 7) AS seg
        |  FROM enc),
        |cd AS (SELECT doc_id, s,
        |    xor(seg * 16 + (pcm // (1 << (seg + 3))) % 16, mask) AS code
        |  FROM sg),
        |dc AS (SELECT doc_id, s, 255 - code AS u FROM cd),
        |er AS (SELECT doc_id,
        |    (CASE WHEN u >= 128
        |      THEN 132 - (((u % 16) * 8 + 132) << ((u // 16) % 8))
        |      ELSE (((u % 16) * 8 + 132) << ((u // 16) % 8)) - 132 END)
        |      - s AS e
        |  FROM dc)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(e) AS BIGINT) AS sum_err,
        |  CAST(max(abs(e)) AS BIGINT) AS max_abs_err,
        |  CAST(sum(e * e) AS BIGINT) AS sse
        |FROM er GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Gate("mm_g711", { (s, dir) =>
      // the telephony companding codecs under the exact gate: per doc,
      // the SAME closed-form byte stream b_i = (doc_id·7 + i·11) % 256
      // rides a μ-law (tag 7) container for even docs and an A-law
      // (tag 6) container for odd docs; the decoder expands through the
      // CCITT formulas and reports exact integer stats. The oracle is a
      // pure per-sample expression (no recursion — companding is
      // memoryless), CASEd on the doc's lane.
      import s.implicits._
      val ids = tbl(s, dir, "documents").where(col("doc_id") < 64)
        .select(col("doc_id").cast("long"))
      val media = ids.as[Long].mapPartitions(_.map { id =>
          val codes = Array.tabulate(600)(i => ((id * 7 + i * 11) % 256).toInt)
          (id, graft.operators.Multimodal.g711Wav(codes, 8000,
            aLaw = id % 2 == 1))
        }).toDF("media_id", "content")
      graft.operators.Multimodal.g711Stats(media)
        .select(col("media_id").as("doc_id"), col("n_samples"),
          col("sum_s"), col("min_s"), col("max_s"))
        .orderBy("doc_id")
    },
      // companding is memoryless: each decoded sample is one closed-
      // form expression of its code byte (CCITT g711 expand formulas),
      // CASEd on the doc's μ-law / A-law lane
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id
        |  FROM documents WHERE doc_id < 64),
        |px AS (SELECT doc_id, unnest(range(0, 600)) AS i FROM ids),
        |cb AS (SELECT doc_id, (doc_id * 7 + i * 11) % 256 AS b FROM px),
        |dec AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN
        |      CASE WHEN (255 - b) >= 128
        |        THEN 132 - ((((255 - b) % 16) * 8 + 132)
        |          << (((255 - b) // 16) % 8))
        |        ELSE ((((255 - b) % 16) * 8 + 132)
        |          << (((255 - b) // 16) % 8)) - 132 END
        |    ELSE
        |      CASE WHEN xor(b, 85) >= 128 THEN
        |        CASE WHEN ((xor(b, 85) // 16) % 8) = 0
        |          THEN (xor(b, 85) % 16) * 16 + 8
        |          ELSE ((xor(b, 85) % 16) * 16 + 264)
        |            << (((xor(b, 85) // 16) % 8) - 1) END
        |      ELSE
        |        -(CASE WHEN ((xor(b, 85) // 16) % 8) = 0
        |          THEN (xor(b, 85) % 16) * 16 + 8
        |          ELSE ((xor(b, 85) % 16) * 16 + 264)
        |            << (((xor(b, 85) // 16) % 8) - 1) END)
        |      END
        |    END AS v
        |  FROM cb)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(v) AS BIGINT) AS sum_s, CAST(min(v) AS BIGINT) AS min_s,
        |  CAST(max(v) AS BIGINT) AS max_s
        |FROM dec GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Gate("mm_adpcm", { (s, dir) =>
      // a REAL compressed-audio codec under the exact gate: per doc, an
      // IMA-ADPCM (WAV tag 0x11) container packs 800 closed-form 4-bit
      // codes n_i = (doc_id·5 + i·3) % 16, round-trips through the
      // RIFF block walk + table-driven decoder, and reports exact
      // integer sample stats. The oracle REPLAYS the entire decode
      // recurrence (step/index tables as list literals, clamps,
      // floor-shifts) as a recursive CTE — the row only matches if the
      // container layout, nibble order, and every table lookup agree.
      import s.implicits._
      val ids = tbl(s, dir, "documents").where(col("doc_id") < 64)
        .select(col("doc_id").cast("long"))
      val media = ids.as[Long].mapPartitions(_.map { id =>
          val nib = Array.tabulate(800)(i => ((id * 5 + i * 3) % 16).toInt)
          (id, graft.operators.Multimodal.imaAdpcmWav(nib, 8000))
        }).toDF("media_id", "content")
      graft.operators.Multimodal.adpcmStats(media)
        .select(col("media_id").as("doc_id"), col("n_samples"),
          col("sum_s"), col("min_s"), col("max_s"))
        .orderBy("doc_id")
    },
      // the IMA decode recurrence replayed verbatim: published step /
      // index tables as list literals, diff = step//8 (+step if b2)
      // (+step//2 if b1) (+step//4 if b0), sign b3, Int16 clamp, index
      // clamp to [0, 88]; seed sample 0 counts in the stats
      """WITH RECURSIVE ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id
        |  FROM documents WHERE doc_id < 64),
        |st AS (SELECT [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,
        |    34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,
        |    157,173,190,209,230,253,279,307,337,371,408,449,494,544,
        |    598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,
        |    1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,
        |    5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,
        |    15289,16818,18500,20350,22385,24623,27086,29794,32767] AS tab,
        |  [-1,-1,-1,-1,2,4,6,8,-1,-1,-1,-1,2,4,6,8] AS itab),
        |rec AS (
        |  SELECT doc_id, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS pred,
        |    CAST(0 AS BIGINT) AS idx, CAST(0 AS BIGINT) AS ssum,
        |    CAST(0 AS BIGINT) AS smin, CAST(0 AS BIGINT) AS smax
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, i + 1, npred, nidx, ssum + npred,
        |    least(smin, npred), greatest(smax, npred)
        |  FROM (
        |    SELECT doc_id, i, ssum, smin, smax,
        |      CASE WHEN (n & 8) != 0
        |        THEN greatest(-32768, least(32767, pred - diff))
        |        ELSE greatest(-32768, least(32767, pred + diff)) END
        |        AS npred,
        |      greatest(0, least(88, idx + itab[n + 1])) AS nidx
        |    FROM (
        |      SELECT doc_id, i, pred, idx, ssum, smin, smax, itab, n,
        |        step // 8
        |          + CASE WHEN (n & 4) != 0 THEN step ELSE 0 END
        |          + CASE WHEN (n & 2) != 0 THEN step // 2 ELSE 0 END
        |          + CASE WHEN (n & 1) != 0 THEN step // 4 ELSE 0 END
        |          AS diff
        |      FROM (
        |        SELECT rec.*, stt.tab, stt.itab,
        |          ((rec.doc_id * 5 + rec.i * 3) % 16) AS n,
        |          stt.tab[rec.idx + 1] AS step
        |        FROM rec, st stt WHERE rec.i < 800))))
        |SELECT doc_id, CAST(801 AS BIGINT) AS n_samples, ssum AS sum_s,
        |  smin AS min_s, smax AS max_s
        |FROM rec WHERE i = 800 ORDER BY doc_id""".stripMargin),

    Gate("mm_psnr", { (s, dir) =>
      // full-reference image-quality audit under the exact gate: per
      // doc, a 24×24 grayscale ramp A (values in [4, 243] — headroom so
      // the perturbed pair never clips) and B = A + ((doc_id + i) % 7)
      // − 3 round-trip through the lossless PNG lane, then integer
      // SSE / max-abs-err / floor-dB PSNR. The oracle recomputes every
      // residual from doc_id arithmetic — the row only matches if both
      // encodes, both decodes, pixel alignment and the PSNR fold agree.
      import s.implicits._
      val ids = tbl(s, dir, "documents").where(col("doc_id") < 120)
        .select(col("doc_id").cast("long"))
      val pairs = ids.as[Long].mapPartitions(_.map { id =>
          def base(i: Int): Int = (4 + ((id * 13 + 7L * i) % 240)).toInt
          val a = graft.operators.Multimodal.grayscalePng(24,
            (x, y) => base(y * 24 + x))
          val b = graft.operators.Multimodal.grayscalePng(24,
            (x, y) => {
              val i = y * 24 + x
              base(i) + (((id + i) % 7) - 3).toInt
            })
          (id, a, b)
        }).toDF("media_id", "a", "b")
      graft.operators.Multimodal.imagePairStats(pairs)
        .select(col("media_id").as("doc_id"), col("n_px"), col("sse"),
          col("max_abs_err"), col("psnr_db_floor"))
        .orderBy("doc_id")
    },
      // every residual is closed-form doc_id arithmetic: diff at pixel
      // i = ((doc_id + i) % 7) − 3, never clipped by construction
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id
        |  FROM documents WHERE doc_id < 120),
        |px AS (SELECT doc_id, unnest(range(0, 576)) AS i FROM ids),
        |dd AS (SELECT doc_id, ((doc_id + i) % 7) - 3 AS dv FROM px),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_px,
        |    CAST(sum(dv * dv) AS BIGINT) AS sse,
        |    CAST(max(abs(dv)) AS BIGINT) AS max_abs_err
        |  FROM dd GROUP BY doc_id)
        |SELECT doc_id, n_px, sse, max_abs_err,
        |  CASE WHEN sse > 0 THEN CAST(floor(10.0 *
        |    log10((65025.0 * n_px) / sse)) AS BIGINT) END AS psnr_db_floor
        |FROM agg ORDER BY doc_id""".stripMargin),

    Gate("mm_resample", { (s, dir) =>
      // rational-ratio PCM resampling (8 kHz → 3 kHz, factor 3/8) under
      // the exact gate: per-doc integer SAWTOOTH WAVs (every sample a
      // closed form of doc_id — the analytic-synthesis move) round-trip
      // through the RIFF container + parseWav, then linear-interpolate
      // on offset-binary Int16 units with floor division only. The
      // oracle recomputes every output sample from doc_id arithmetic —
      // the row matches only if container write, parse, exact sample
      // recovery, and interpolation all agree.
      import s.implicits._
      val ids = tbl(s, dir, "documents")
        .where(col("doc_id") < 200).select(col("doc_id").cast("long"))
      val media = ids.as[Long].mapPartitions(_.map { id =>
          (id, graft.operators.Multimodal
            .sawWav(257L + (id % 7) * 31L, 2000, 8000))
        }).toDF("media_id", "content")
      graft.operators.Multimodal.resamplePcmStats(media, l = 3, m = 8)
        .select(col("media_id").as("doc_id"), col("n_out"),
          col("sum_amp"), col("min_amp"), col("max_amp"))
        .orderBy("doc_id")
    },
      // closed-form resample: u_k = (k·step) mod 65536 (the sawtooth synth
      // in offset-binary units), amp = (u_k·(3−r) + u_{k+1}·r) // 3 at
      // k = (j·8)//3, r = (j·8)%3 — all non-negative, // ≡ Spark div
      """WITH d AS (SELECT doc_id, 257 + (doc_id % 7) * 31 AS st
        |  FROM documents WHERE doc_id < 200),
        |j AS (SELECT doc_id, st,
        |    unnest(range(0, ((2000 - 1) * 3) // 8 + 1)) AS jj FROM d),
        |a AS (SELECT doc_id, CAST(CASE WHEN (jj * 8) % 3 = 0
        |      THEN (((jj * 8) // 3) * st) % 65536
        |      ELSE (((((jj * 8) // 3) * st) % 65536) * (3 - (jj * 8) % 3)
        |        + ((((jj * 8) // 3 + 1) * st) % 65536) * ((jj * 8) % 3)) // 3
        |      END AS BIGINT) AS amp
        |  FROM j)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_out,
        |  CAST(sum(amp) AS BIGINT) AS sum_amp,
        |  min(amp) AS min_amp, max(amp) AS max_amp
        |FROM a GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Gate("mm_frames", { (s, dir) =>
      // frame-sampling + resize plumbing over the media table — per-video
      // frame counts and sampled byte volume after a metadata resize
      // (md5-free byte-slicing stub, real flatMap shape; oracled in SQL
      // from the same closed-form slice arithmetic)
      import s.implicits._
      val media = graft.operators.Multimodal.mediaFromDocuments(
        tbl(s, dir, "documents").where(col("doc_id") < 200))
      val resized = graft.operators.Multimodal.resize(media, 640, 360)
      graft.operators.Multimodal.sampleFrames(resized, everyMs = 2000)
        .toDF.groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"),
          sum(length(col("content"))).as("sampled_bytes"))
        .orderBy("media_id")
    },
      // closed-form mirror of Multimodal.sampleFrames' stub slicing:
      // n = min(durationMs/2000, 32) frames per video (doc_id % 3 = 2),
      // frame i starts at min(i * max(len/max(n,1), 1), max(len-1, 0))
      // and takes min(16, len - start) bytes of the utf-8 content
      """WITH v AS (SELECT doc_id AS media_id,
        |    octet_length(encode(text)) AS len,
        |    least((n_chars * 10) // 2000, 32) AS n
        |  FROM documents WHERE doc_id < 200 AND doc_id % 3 = 2),
        |f AS (SELECT media_id, n,
        |    list_sum(list_transform(range(0, n), i ->
        |      least(least(i * greatest(len // greatest(n, 1), 1),
        |                  greatest(len - 1, 0)) + 16, len)
        |      - least(i * greatest(len // greatest(n, 1), 1),
        |              greatest(len - 1, 0)))) AS sampled_bytes
        |  FROM v WHERE n >= 1)
        |SELECT media_id, CAST(n AS BIGINT) AS n_frames,
        |  CAST(sampled_bytes AS BIGINT) AS sampled_bytes
        |FROM f ORDER BY media_id""".stripMargin),

    Gate("mm_tone_detect", { (s, dir) =>
      // END-TO-END REAL audio DSP under the exact gate: synthesize a
      // per-doc sine WAV (frequency = 300 + (doc_id % 8)·200 Hz, real
      // RIFF bytes), round-trip it through the production parseWav, and
      // detect the dominant tone with Goertzel over the 8 candidates.
      // The oracle predicts the tone ANALYTICALLY from doc_id — the row
      // only matches if synthesis + container parse + detector all work.
      import s.implicits._
      val ids = tbl(s, dir, "documents")
        .where(col("doc_id") < 200).select(col("doc_id").cast("long"))
      val media = ids.as[Long].mapPartitions(_.map { id =>
          (id, graft.operators.Multimodal
            .sineWav(300.0 + (id % 8) * 200.0, 2000, 8000))
        }).toDF("media_id", "content")
      graft.operators.Multimodal
        .dominantTone(media, (0 to 7).map(i => 300.0 + i * 200.0))
        .select(col("media_id").as("doc_id"),
          col("dom_freq").cast("long").as("dom_freq"))
        .orderBy("doc_id")
    },
      // the analytic prediction of the synth recipe — pure doc_id
      // arithmetic, no audio on the oracle side by construction
      """SELECT doc_id, CAST(300 + (doc_id % 8) * 200 AS BIGINT)
        |  AS dom_freq
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin),

    Gate("mm_vad_segments", { (s, dir) =>
      // VOICE-ACTIVITY segmentation under the exact gate: per doc,
      // synthesize a 6-segment WAV whose segment k is SILENT iff bit k
      // of doc_id is set (freq 0 = flat zeros; else a 500 Hz tone), run
      // the production parse → windowed integer-energy VAD (200-sample
      // windows = 4 per segment), and report voiced runs. The oracle
      // predicts everything ANALYTICALLY from doc_id's 6-bit mask — a
      // green row needs synthesis, RIFF parse, exact Int16 recovery,
      // and the run-length logic all correct.
      import s.implicits._
      val ids = tbl(s, dir, "documents")
        .where(col("doc_id") < 150).select(col("doc_id").cast("long"))
      val media = ids.as[Long].mapPartitions(_.map { id =>
          val freqs = (0 until 6).map(k =>
            if (((id >> k) & 1L) == 1L) 0.0 else 500.0)
          (id, graft.operators.Multimodal.toneSequenceWav(freqs, 800, 8000))
        }).toDF("media_id", "content")
      graft.operators.Multimodal
        .vadSegments(media, windowSamples = 200, meanSqThreshold = 1000000L)
        .select(col("media_id").as("doc_id"), col("n_segments"),
          col("n_voiced"), col("first_voiced"))
        .orderBy("doc_id")
    },
      // pure doc_id arithmetic: segment k is silent iff bit k is set;
      // each 800-sample segment is exactly 4 VAD windows
      """WITH b AS (SELECT doc_id,
        |    (doc_id >> 0) & 1 AS b0, (doc_id >> 1) & 1 AS b1,
        |    (doc_id >> 2) & 1 AS b2, (doc_id >> 3) & 1 AS b3,
        |    (doc_id >> 4) & 1 AS b4, (doc_id >> 5) & 1 AS b5
        |  FROM documents WHERE doc_id < 150)
        |SELECT doc_id,
        |  CAST((CASE WHEN b0 = 0 THEN 1 ELSE 0 END) +
        |    (CASE WHEN b1 = 0 AND b0 = 1 THEN 1 ELSE 0 END) +
        |    (CASE WHEN b2 = 0 AND b1 = 1 THEN 1 ELSE 0 END) +
        |    (CASE WHEN b3 = 0 AND b2 = 1 THEN 1 ELSE 0 END) +
        |    (CASE WHEN b4 = 0 AND b3 = 1 THEN 1 ELSE 0 END) +
        |    (CASE WHEN b5 = 0 AND b4 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_segments,
        |  CAST(4 * (6 - b0 - b1 - b2 - b3 - b4 - b5) AS BIGINT) AS n_voiced,
        |  CAST(CASE WHEN b0 = 0 THEN 0 WHEN b1 = 0 THEN 4
        |    WHEN b2 = 0 THEN 8 WHEN b3 = 0 THEN 12 WHEN b4 = 0 THEN 16
        |    WHEN b5 = 0 THEN 20 ELSE -1 END AS BIGINT) AS first_voiced
        |FROM b ORDER BY doc_id""".stripMargin),

    Gate("mm_patch_grid", { (s, dir) =>
      // REAL image patch extraction under the exact gate: synthesize a
      // 32×32 gradient PNG per doc (pixel(x,y) = (doc_id + 7x + 13y) %
      // 256, lossless RGB), decode through the production ImageIO path,
      // and emit the 4×4 patch grid's integer mean-luma tensor. The
      // oracle recomputes every patch mean from the gradient formula —
      // a green row needs encode, decode, patch indexing, and the
      // integer-luma arithmetic all exact.
      import s.implicits._
      val ids = tbl(s, dir, "documents")
        .where(col("doc_id") < 100).select(col("doc_id").cast("long"))
      val meta = graft.operators.Multimodal
        .MediaMeta("image", 32, 32, 0, 0L, "png")
      val media = ids.as[Long].map { id =>
        graft.operators.Multimodal.MediaRow(id,
          graft.operators.Multimodal.grayscalePng(32,
            (x, y) => ((id + 7L * x + 13L * y) % 256L).toInt), meta)
      }
      graft.operators.Multimodal.patchLumaGrid(media, grid = 4)
        .select(col("media_id").as("doc_id"), col("px"), col("py"),
          col("luma_pm"))
        .orderBy("doc_id", "py", "px")
    },
      // each 8x8 patch mean recomputed from the gradient formula;
      // grayscale pixels contribute 299+587+114 = 1000 x v to the luma
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
        |px AS (SELECT doc_id, unnest(range(0, 4)) AS px FROM ids),
        |pxy AS (SELECT doc_id, px, unnest(range(0, 4)) AS py FROM px),
        |cells AS (SELECT doc_id, px, py,
        |    unnest(range(8 * px, 8 * px + 8)) AS x FROM pxy),
        |pix AS (SELECT doc_id, px, py, x,
        |    unnest(range(8 * py, 8 * py + 8)) AS y FROM cells)
        |SELECT doc_id, CAST(px AS INT) AS px, CAST(py AS INT) AS py,
        |  CAST(sum(1000 * ((doc_id + 7 * x + 13 * y) % 256)) // 64
        |    AS BIGINT) AS luma_pm
        |FROM pix GROUP BY doc_id, px, py
        |ORDER BY doc_id, py, px""".stripMargin),

    Gate("mm_resize_img", { (s, dir) =>
      // REAL resize under the exact gate: the mm_patch_grid gradient
      // corpus, NN-resized 32→16 through the production decode →
      // integer-index resize → lossless re-encode path, then the
      // production 4×4 patch grid on the RESIZED rows. NN at 2:1 maps
      // output (x,y) to source (2x,2y), so every patch mean recomputes
      // analytically from the gradient at doubled coordinates — a green
      // row needs both codec trips and the index arithmetic exact.
      import s.implicits._
      val ids = tbl(s, dir, "documents")
        .where(col("doc_id") < 100).select(col("doc_id").cast("long"))
      val meta = graft.operators.Multimodal
        .MediaMeta("image", 32, 32, 0, 0L, "png")
      val media = ids.as[Long].map { id =>
        graft.operators.Multimodal.MediaRow(id,
          graft.operators.Multimodal.grayscalePng(32,
            (x, y) => ((id + 7L * x + 13L * y) % 256L).toInt), meta)
      }
      val resized = graft.operators.Multimodal.resizeNN(media, 16, 16)
      graft.operators.Multimodal.patchLumaGrid(resized, grid = 4)
        .select(col("media_id").as("doc_id"), col("px"), col("py"),
          col("luma_pm"))
        .orderBy("doc_id", "py", "px")
    },
      // NN 2:1 maps output (x,y) to source (2x,2y): the 16×16 image is
      // the gradient at doubled coordinates; 4×4 patches of 4×4 px
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
        |px AS (SELECT doc_id, unnest(range(0, 4)) AS px FROM ids),
        |pxy AS (SELECT doc_id, px, unnest(range(0, 4)) AS py FROM px),
        |cells AS (SELECT doc_id, px, py,
        |    unnest(range(4 * px, 4 * px + 4)) AS x FROM pxy),
        |pix AS (SELECT doc_id, px, py, x,
        |    unnest(range(4 * py, 4 * py + 4)) AS y FROM cells)
        |SELECT doc_id, CAST(px AS INT) AS px, CAST(py AS INT) AS py,
        |  CAST(sum(1000 * ((doc_id + 14 * x + 26 * y) % 256)) // 16
        |    AS BIGINT) AS luma_pm
        |FROM pix GROUP BY doc_id, px, py
        |ORDER BY doc_id, py, px""".stripMargin),

    Gate("mm_augment", { (s, dir) =>
      // REAL augmentation under the exact gate: identity + rot90 +
      // flipH of the gradient corpus (doc_id < 50), each re-encoded
      // losslessly and pushed through the production patch grid; the
      // oracle recomputes every patch from the permuted gradient
      // formulas (rot90: in(y, 31−x); flipH: in(31−x, y)). Variant ids
      // pack as doc_id·10 + k.
      import s.implicits._
      val ids = tbl(s, dir, "documents")
        .where(col("doc_id") < 50).select(col("doc_id").cast("long"))
      val meta = graft.operators.Multimodal
        .MediaMeta("image", 32, 32, 0, 0L, "png")
      val media = ids.as[Long].map { id =>
        graft.operators.Multimodal.MediaRow(id,
          graft.operators.Multimodal.grayscalePng(32,
            (x, y) => ((id + 7L * x + 13L * y) % 256L).toInt), meta)
      }
      val aug = graft.operators.Multimodal.augmentGeom(media)
      graft.operators.Multimodal.patchLumaGrid(aug, grid = 4)
        .select(col("media_id").as("variant_id"), col("px"), col("py"),
          col("luma_pm"))
        .orderBy("variant_id", "py", "px")
    },
      // permuted gradient per variant k: identity (d+7x+13y), rot90
      // (d+403+7y−13x — in(y,31−x)), flipH (d+217−7x+13y — in(31−x,y));
      // all operands non-negative so % is safe on both engines
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
        |vk AS (SELECT doc_id, unnest(range(0, 3)) AS k FROM ids),
        |px AS (SELECT doc_id, k, unnest(range(0, 4)) AS px FROM vk),
        |pxy AS (SELECT doc_id, k, px, unnest(range(0, 4)) AS py FROM px),
        |cells AS (SELECT doc_id, k, px, py,
        |    unnest(range(8 * px, 8 * px + 8)) AS x FROM pxy),
        |pix AS (SELECT doc_id, k, px, py, x,
        |    unnest(range(8 * py, 8 * py + 8)) AS y FROM cells),
        |v AS (SELECT doc_id * 10 + k AS variant_id, px, py,
        |    CASE k
        |      WHEN 0 THEN (doc_id + 7 * x + 13 * y) % 256
        |      WHEN 1 THEN (doc_id + 403 + 7 * y - 13 * x) % 256
        |      ELSE (doc_id + 217 - 7 * x + 13 * y) % 256
        |    END AS pv
        |  FROM pix)
        |SELECT variant_id, CAST(px AS INT) AS px, CAST(py AS INT) AS py,
        |  CAST(sum(1000 * pv) // 64 AS BIGINT) AS luma_pm
        |FROM v GROUP BY variant_id, px, py
        |ORDER BY variant_id, py, px""".stripMargin),

    Gate("mm_img_hist", { (s, dir) =>
      // REAL image exposure histogram under the exact gate: the same
      // 32×32 gradient PNGs as mm_patch_grid, decoded through the
      // production ImageIO path, binned into 8 equal luma cells (bin =
      // luma_pm·8 div 256000 ≡ v div 32 on grayscale — pure integer).
      // The oracle recomputes every pixel from the gradient formula, so
      // a green row needs encode, decode, the luma lane, and the bin
      // arithmetic all exact. The curation use: all-dark / blown-out /
      // low-dynamic-range frame filtering.
      import s.implicits._
      val ids = tbl(s, dir, "documents")
        .where(col("doc_id") < 100).select(col("doc_id").cast("long"))
      val meta = graft.operators.Multimodal
        .MediaMeta("image", 32, 32, 0, 0L, "png")
      val media = ids.as[Long].map { id =>
        graft.operators.Multimodal.MediaRow(id,
          graft.operators.Multimodal.grayscalePng(32,
            (x, y) => ((id + 7L * x + 13L * y) % 256L).toInt), meta)
      }
      graft.operators.Multimodal.lumaHistogram(media, bins = 8)
        .select(col("media_id").as("doc_id"), col("bin"), col("n_px"))
        .orderBy("doc_id", "bin")
    },
      // every pixel recomputed from the gradient formula; grayscale
      // luma_pm = 1000·v so bin = (1000·v·8) // 256000 = v // 32 exactly
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
        |xs AS (SELECT doc_id, unnest(range(0, 32)) AS x FROM ids),
        |pix AS (SELECT doc_id, x, unnest(range(0, 32)) AS y FROM xs)
        |SELECT doc_id,
        |  CAST(((doc_id + 7 * x + 13 * y) % 256) // 32 AS INT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_px
        |FROM pix GROUP BY 1, 2
        |ORDER BY doc_id, bin""".stripMargin),

    Gate("mm_audio_fingerprint", { (s, dir) =>
      // END-TO-END AUDIO WATERMARK under the exact gate: per doc,
      // synthesize a 4-segment tone sequence encoding doc_id's base-8
      // digits (segment k's frequency = 300 + digit_k·200 Hz, real RIFF
      // bytes), then run the production parse → mono → frame-wise
      // Goertzel fingerprint. The packed base-8 fingerprint literally
      // DECODES the id: it equals doc_id % 4096, which is the oracle's
      // pure-arithmetic prediction — a green row needs synthesis,
      // container parse, segmentation, and all four per-frame detections
      // right (one flipped digit shifts the fingerprint).
      import s.implicits._
      val ids = tbl(s, dir, "documents")
        .where(col("doc_id") < 150).select(col("doc_id").cast("long"))
      val media = ids.as[Long].mapPartitions(_.map { id =>
          val freqs = (0 until 4).map(k =>
            300.0 + ((id >> (3 * k)) & 7L) * 200.0)
          (id, graft.operators.Multimodal
            .toneSequenceWav(freqs, 1000, 8000))
        }).toDF("media_id", "content")
      graft.operators.Multimodal
        .toneFingerprint(media, (0 to 7).map(i => 300.0 + i * 200.0), 4)
        .select(col("media_id").as("doc_id"), col("fingerprint"))
        .orderBy("doc_id")
    },
      // the watermark round-trip's analytic prediction: 4 base-8 digits
      // recovered from audio ≡ doc_id mod 8⁴
      """SELECT doc_id, CAST(doc_id % 4096 AS BIGINT) AS fingerprint
        |FROM documents WHERE doc_id < 150 ORDER BY doc_id""".stripMargin),

    Gate("mm_scene_cut", { (s, dir) =>
      // END-TO-END REAL video under the exact gate: per doc, mux 8 real
      // JPEG frames into an MJPEG-in-AVI container with ONE hard cut at
      // frame p = 1 + doc_id % 7 (gray 64 before, 192 after), then run
      // the production parse → decode → luma → cut detector. The oracle
      // predicts the cut index ANALYTICALLY from doc_id — a green row
      // needs muxer, chunk walker, JPEG decode, and detector all right.
      import s.implicits._
      import graft.operators.Multimodal
      val ids = tbl(s, dir, "documents").where(col("doc_id") < 120)
        .select(col("doc_id").cast("long")).as[Long]
      val media = ids.mapPartitions(_.map { id =>
        val p = 1 + (id % 7).toInt
        val frames = (0 until 8)
          .map(j => Multimodal.solidJpeg(if (j < p) 64 else 192))
        Multimodal.MediaRow(id, Multimodal.muxMjpegAvi(frames),
          Multimodal.MediaMeta("video", 16, 16, 0, 8000L, "mjpeg"))
      })
      Multimodal.sceneCuts(media, threshold = 64).toDF
        .select(col("media_id").as("doc_id"),
          col("cut_idx").cast("long").as("cut_idx"))
        .orderBy("doc_id")
    },
      // the analytic prediction of the synth recipe: exactly one cut,
      // at 1 + doc_id % 7 — no video on the oracle side by construction
      """SELECT doc_id, CAST(1 + doc_id % 7 AS BIGINT) AS cut_idx
        |FROM documents WHERE doc_id < 120 ORDER BY doc_id""".stripMargin),

    Gate("mm_phash_dedup", { (s, dir) =>
      // perceptual image near-dup: 64-bit average-hash over decoded
      // pixels, 4×16-bit banded equi-join + exact hamming (pigeonhole-
      // total recall at maxHamming 3). Real raster bytes hash the true
      // 8×8 luma grid (spec-pinned on BMP fixtures); the gate's
      // text-derived bytes take the md5-chain stub lane the oracle
      // recomputes in SQL.
      // identical-byte clones of the first 10 docs at +4000000: stub
      // md5 hashes collide only on identical content, so these pin the
      // hamming-0 path (organic md5 near-collisions don't exist)
      val base = tbl(s, dir, "documents").where(col("doc_id") < 300)
      val clones = base.where(col("doc_id") < 10)
        .withColumn("doc_id", col("doc_id") + 4000000)
      val media = graft.operators.Multimodal.mediaFromDocuments(
        base.unionByName(clones))
      graft.operators.Multimodal.phashNearDuplicates(media, maxHamming = 3)
        .orderBy("media_a", "media_b")
    },
      // stub-lane aHash recomputed from the md5 feature-byte chain:
      // byte i = md5(text || '#' || i//16) hex pair i%16; bit i set iff
      // 64*b_i > sum(b); halves packed little-endian into two 32-bit
      // BIGINTs; hamming = bit_count(xor) on each half
      """WITH m AS (SELECT doc_id AS media_id, text FROM documents
        |    WHERE doc_id < 300
        |  UNION ALL
        |  SELECT doc_id + 4000000, text FROM documents WHERE doc_id < 10),
        |b AS (SELECT media_id, sub.i,
        |    ('0x' || substring(md5(text || '#' || CAST(sub.i // 16 AS VARCHAR)),
        |      (sub.i % 16) * 2 + 1, 2))::BIGINT AS v
        |  FROM m CROSS JOIN (SELECT unnest(range(0, 64)) AS i) sub),
        |s AS (SELECT media_id, CAST(sum(v) AS BIGINT) AS tot
        |  FROM b GROUP BY media_id),
        |bits AS (SELECT b.media_id, b.i,
        |    CASE WHEN 64 * b.v > s.tot THEN 1 ELSE 0 END AS bit
        |  FROM b JOIN s USING (media_id)),
        |h AS (SELECT media_id,
        |    CAST(sum(CASE WHEN i < 32 THEN bit * (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS h1,
        |    CAST(sum(CASE WHEN i >= 32 THEN bit * (1::BIGINT << (i - 32)) ELSE 0 END) AS BIGINT) AS h2
        |  FROM bits GROUP BY media_id)
        |SELECT a.media_id AS media_a, b2.media_id AS media_b,
        |  CAST(bit_count(xor(a.h1, b2.h1)) + bit_count(xor(a.h2, b2.h2)) AS BIGINT) AS hamming
        |FROM h a JOIN h b2 ON a.media_id < b2.media_id
        |WHERE bit_count(xor(a.h1, b2.h1)) + bit_count(xor(a.h2, b2.h2)) <= 3
        |ORDER BY media_a, media_b""".stripMargin))
}
