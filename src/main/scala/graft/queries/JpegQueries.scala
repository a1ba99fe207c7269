package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.multimodal.{Avi, Jpeg, MultimodalOps, Png, Ppm, Wav}

/** LOSSY media tier (r11 verdict #1) + mixed-format front door (r11
  * verdict #6). JPEG changes the ORACLE POSTURE: decoded pixels are not
  * bit-equal to what was encoded (DCT quantization, chroma
  * subsampling), so a hash oracle over pixel values is impossible by
  * construction. The gates here are therefore:
  *
  *  - `media_jpeg_tolerance_check`: the `recall_check_planted` pattern
  *    — an EXPECTED-EMPTY violation query asserting per-pixel-stat
  *    error bounds, dHash stability across the lossy round-trip, and
  *    planted near-dup separation, with vacuous-truth guards so the
  *    gate cannot pass by measuring nothing. Tolerances are set from a
  *    2 000-doc calibration sweep ([[graft.tools.JpegProbe]]): worst
  *    mean luminance error 3.14 (bound 8), worst max 18 (bound 48),
  *    worst round-trip dHash Hamming 0 (bound 6), worst planted-pair
  *    Hamming 0 (bound 6) against a minimum UNRELATED-pair distance of
  *    17 — the bands sit mid-gap, far from both the measured behavior
  *    and the failure regime.
  *  - `media_quarantine_jpeg`: hash-green FULL oracle — container
  *    geometry (SOF frame header) survives a lossy codec exactly even
  *    though samples don't, and the planted-corruption taxonomy
  *    (bad_magic / corrupt_header / truncated_data) is pure doc-id
  *    closed form. The ≡9 tail plant cuts to 60% of the payload —
  *    ImageIO DECODES a JPEG missing merely its last 10 bytes (probe:
  *    `tail-10: DECODED`), so the lossless legs' 10-byte cut would be
  *    a vacuous plant here.
  *  - `media_mixed_ingest`: heterogeneous bytes through ONE query —
  *    per-row magic dispatch ([[MultimodalOps.sniffBytes]]) routes
  *    PNG / WAV / AVI / JPEG payloads to their codec legs and
  *    unknown-magic rows (plus a flipped-magic plant) to quarantine,
  *    under a closed-form oracle keyed by the per-doc format rule.
  *
  * The closed-form corpus is built FOR lossy robustness: each image is
  * a 9×8-block grayscale pattern whose dHash grid samples are a
  * per-(doc, row) PERMUTATION of 9 luminance levels 26 gray apart —
  * adjacent samples always differ by ≥ 26 gray (≫ the measured ≤ 18
  * round-trip noise), so every gradient sign, hence every dHash bit,
  * has guaranteed margin. Grayscale content sidesteps 4:2:0 chroma
  * subsampling, the dominant JPEG error source on colored synthetics.
  *
  * 100 TB posture: every query is one scan, embarrassingly parallel
  * per row (encode/decode inside mapPartitions, the driver never sees
  * a pixel); the tolerance check's only post-scan work is bounded
  * violation filters and two count aggregates.
  */
object JpegQueries {

  val ImgW = 16
  val ImgH = 16
  val Quality = 0.9f

  /** Violation bounds (see calibration table in the object scaladoc). */
  val TolMeanLum = 8.0
  val TolMaxLum = 48.0
  val TolHashRound = 6
  val TolHashPair = 6

  /** Planted near-dup rule, the image tier's grammar: doc_id ≡ 3
    * (mod 10), d ≥ 10, renders doc (d − 3)'s image with sparse +2
    * jitter.
    */
  val JpegPlantMod = 10L
  val JpegPlantRes = 3L
  val JpegPlantDelta = 3L

  /** Per-(doc, grid-row) permutation of the 9 dHash grid columns — a
    * seeded Fisher–Yates over an LCG stream, pure function of (d, gy).
    */
  private[graft] def perm(d: Long, gy: Int): Array[Int] = {
    val p = Array.tabulate(9)(identity)
    var s = d * 8 + gy + 0x9e3779b9L
    var i = 8
    while (i > 0) {
      s = s * 6364136223846793005L + 1442695040888963407L
      val j = ((s >>> 33) % (i + 1)).toInt
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }

  /** Nearest dHash sample column for each pixel x (sample grid
    * sx = gx·W/9): every pixel takes its cell's level, so the sampled
    * positions sit inside flat blocks, not on edges.
    */
  private val nearGx: Array[Int] = {
    val sx = Array.tabulate(9)(gx => gx * ImgW / 9)
    Array.tabulate(ImgW)(x =>
      sx.indices.minBy(g => math.abs(sx(g) - x)))
  }

  private[graft] def gray(d: Long, x: Int, y: Int): Int = {
    val gy = y * Ppm.DHashH / ImgH
    10 + 26 * perm(d, gy)(nearGx(x))
  }

  /** The corpus render: planted docs carry their SOURCE's image with
    * sparse +2 gray jitter (sub-noise — the near-dup must survive both
    * the jitter and the lossy round-trip).
    */
  private[queries] def renderGray(d: Long, x: Int, y: Int): Int =
    if (d % JpegPlantMod == JpegPlantRes && d >= JpegPlantMod) {
      val v = gray(d - JpegPlantDelta, x, y)
      if ((7 * x + 11 * y + d) % 41 == 0) math.min(255, v + 2) else v
    } else gray(d, x, y)

  /** One render per image: the closed form (whose per-pixel cost is a
    * seeded Fisher–Yates) is evaluated exactly once per pixel into the
    * pixel array, and the SAME image feeds both the error comparison
    * and the encoder — shared with JpegSpec/JpegProbe so the
    * calibration, the spec pins, and the gate cannot drift onto
    * different renders.
    */
  private def imageOf(g: (Int, Int) => Int): Ppm.Image = {
    val rgb = new Array[Int](ImgW * ImgH * 3)
    var y = 0
    while (y < ImgH) {
      var x = 0
      while (x < ImgW) {
        val v = g(x, y)
        val i = (y * ImgW + x) * 3
        rgb(i) = v; rgb(i + 1) = v; rgb(i + 2) = v
        x += 1
      }
      y += 1
    }
    Ppm.Image(ImgW, ImgH, rgb)
  }

  /** The corpus image for doc d (planted docs render their jittered
    * source; see [[renderGray]]).
    */
  private[graft] def renderImage(d: Long): Ppm.Image =
    imageOf(renderGray(d, _, _))

  /** The UN-jittered image for doc d — the pair leg's source side. */
  private[graft] def cleanImage(d: Long): Ppm.Image =
    imageOf(gray(d, _, _))

  private[graft] def encodeImage(img: Ppm.Image): Array[Byte] =
    Jpeg.encode(img.width, img.height, Quality,
      (x, y) => (img(x, y, 0), img(x, y, 1), img(x, y, 2)))

  /** (mean, max) absolute Rec.601 luminance error per pixel between two
    * equal-geometry images — the one measure the tolerance bands bound,
    * defined once for the gate, the spec, and the probe.
    */
  private[graft] def lumErr(a: Ppm.Image, b: Ppm.Image): (Double, Long) = {
    var sumE = 0L
    var maxE = 0L
    var y = 0
    while (y < a.height) {
      var x = 0
      while (x < a.width) {
        def lum(im: Ppm.Image) = 299L * im(x, y, 0) +
          587L * im(x, y, 1) + 114L * im(x, y, 2)
        val e = math.abs(lum(a) - lum(b)) / 1000
        sumE += e
        if (e > maxE) maxE = e
        x += 1
      }
      y += 1
    }
    (sumE.toDouble / (a.width * a.height), maxE)
  }

  private def docs(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables.fanout(
      Tables.load(s, dir, "documents").select(col("doc_id")).as[Long])
  }

  // ---------------------------------------------------------------------
  // media_jpeg_tolerance_check: expected-empty violation gate

  def mediaJpegToleranceCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // one row per doc: decoded geometry, luminance error stats, dHash
    // round-trip distance, and (planted docs only) the pair distance to
    // the jpeg-round-tripped SOURCE image; all computed executor-side
    val stats = docs(s, dir)
      .mapPartitions(_.map { d =>
        val orig = renderImage(d)
        val dec = Jpeg.decode(encodeImage(orig))
        val (meanE, maxE) =
          if (dec.width == ImgW && dec.height == ImgH) lumErr(orig, dec)
          else (0.0, 0L)
        val hdRound = Ppm.dHashDistance(Ppm.dHashBandsOf(orig),
          Ppm.dHashBandsOf(dec))
        val hdPair =
          if (d % JpegPlantMod == JpegPlantRes && d >= JpegPlantMod) {
            val srcDec = Jpeg.decode(encodeImage(
              cleanImage(d - JpegPlantDelta)))
            Ppm.dHashDistance(Ppm.dHashBandsOf(dec),
              Ppm.dHashBandsOf(srcDec)).toLong
          } else -1L
        (d, dec.width.toLong, dec.height.toLong, meanE, maxE,
          hdRound.toLong, hdPair)
      })
      .toDF("doc_id", "width", "height", "mean_err", "max_err",
        "hd_round", "hd_pair")
      .localCheckpoint(true) // one pass; reused by every violation leg
    def viol(name: String, cond: org.apache.spark.sql.Column,
        value: org.apache.spark.sql.Column, bound: Double): DataFrame =
      stats.filter(cond).select(lit(name).as("check"), col("doc_id"),
        value.cast("double").as("value"), lit(bound).as("bound"))
    val geometry = viol("geometry",
      col("width") =!= ImgW || col("height") =!= ImgH,
      col("width") * 1000 + col("height"), ImgW * 1000.0 + ImgH)
    val meanBand = viol("pixel_mean_lum", col("mean_err") > TolMeanLum,
      col("mean_err"), TolMeanLum)
    val maxBand = viol("pixel_max_lum", col("max_err") > TolMaxLum,
      col("max_err"), TolMaxLum)
    val hashRound = viol("dhash_roundtrip", col("hd_round") > TolHashRound,
      col("hd_round"), TolHashRound)
    val hashPair = viol("neardup_pair",
      col("hd_pair") >= 0 && col("hd_pair") > TolHashPair,
      col("hd_pair"), TolHashPair)
    // vacuous-truth guards: a gate that measured nothing must FAIL the
    // expected-empty contract, not pass it
    def vacuous(name: String, measured: DataFrame): DataFrame =
      measured.agg(count(lit(1)).as("n")).filter(col("n") === 0)
        .select(lit(name).as("check"), lit(-1L).as("doc_id"),
          col("n").cast("double").as("value"), lit(1.0).as("bound"))
    val vacDocs = vacuous("vacuous_docs", stats)
    val vacPlanted = vacuous("vacuous_planted",
      stats.filter(col("hd_pair") >= 0))
    geometry.unionByName(meanBand).unionByName(maxBand)
      .unionByName(hashRound).unionByName(hashPair)
      .unionByName(vacDocs).unionByName(vacPlanted)
      .orderBy("check", "doc_id")
  }

  /** Typed zero-row oracle: expected-empty IS the contract. */
  val mediaJpegToleranceCheckSql: String =
    """SELECT CAST(NULL AS VARCHAR) AS check,
      |  CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS DOUBLE) AS value,
      |  CAST(NULL AS DOUBLE) AS bound
      |WHERE false""".stripMargin

  // ---------------------------------------------------------------------
  // media_quarantine_jpeg: exact-metadata oracle over planted corruption

  /** JPEG quarantine leg: ≡4 magic flip, ≡7 truncated at byte 20 (mid
    * marker stream), ≡9 cut to 60% (mid entropy-coded scan). `stat` for
    * healthy rows is SOF geometry cross-checked against the actual
    * decode — exact under a lossy codec.
    */
  def mediaQuarantineJpeg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .mapPartitions(_.map { d =>
        val clean = encodeImage(renderImage(d))
        QuarantineGate.row(d, clean, truncAt = 20,
          magicOk = Jpeg.hasSignature, headerBytes = 64,
          stat = { b =>
            val frame = Jpeg.sof(b)
            val img = Jpeg.decode(b)
            require(img.width == frame.width &&
              img.height == frame.height, "jpeg: SOF/decode mismatch")
            frame.width.toLong * 1000 + frame.height
          },
          tailKeep = _ * 3 / 5)
      })
      .toDF("doc_id", "status", "reason", "geom")
      .orderBy("doc_id")
  }

  val mediaQuarantineJpegSql: String =
    s"""SELECT doc_id,
       |  CASE WHEN doc_id % 10 IN (4, 7, 9) THEN 'quarantined'
       |       ELSE 'ok' END AS status,
       |  CASE WHEN doc_id % 10 = 4 THEN 'bad_magic'
       |       WHEN doc_id % 10 = 7 THEN 'corrupt_header'
       |       WHEN doc_id % 10 = 9 THEN 'truncated_data' END AS reason,
       |  CASE WHEN doc_id % 10 NOT IN (4, 7, 9)
       |       THEN CAST(${ImgW * 1000 + ImgH} AS BIGINT) END AS geom
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // media_mixed_ingest: magic dispatch over a heterogeneous corpus

  /** Per-doc format rule (what a real ingest cannot know up front and
    * the sniff must recover): d mod 5 → png / wav / avi / jpeg /
    * unknown bytes; d ≡ 6 (mod 7) additionally flips the first byte, so
    * every format contributes bad_magic rows. Each recognized payload
    * routes to ITS codec's header/decode leg and emits a format-specific
    * exact statistic; unknown magic quarantines.
    */
  /** One arriving payload through the dispatcher — the per-row body
    * shared by the batch query and the streaming front door (one
    * implementation, so the routing/stat/taxonomy rules cannot drift
    * between the two surfaces).
    */
  private def mixedRow(d: Long)
      : (Long, String, String, Option[String], Option[Long]) = {
    val clean: Array[Byte] = (d % 5) match {
      case 0 => Png.encode(MediaQueries.ImgW, MediaQueries.ImgH,
        (x, y) => MediaQueries.synthPixel(d, x, y))
      case 1 => Wav.encode(AudioQueries.SampleRate,
        Array.tabulate(AudioQueries.nSamplesOf(d))(i =>
          AudioQueries.synthSample(d, i)))
      case 2 => Avi.encode(VideoQueries.VidW, VideoQueries.VidH,
        VideoQueries.nFramesOf(d), VideoQueries.UsPerFrame,
        (f, x, y) => VideoQueries.framePixel(d, f, x, y))
      case 3 => encodeImage(renderImage(d))
      case _ => s"no-media-$d".getBytes("UTF-8")
    }
    val bytes =
      if (d % 7 == 6) { val b = clean.clone(); b(0) = 0; b }
      else clean
    val fmt = MultimodalOps.sniffBytes(bytes)
    try fmt match {
      case "png" =>
        val img = Png.decode(bytes)
        var sr = 0L
        var i = 0
        while (i < img.rgb.length) { sr += img.rgb(i); i += 3 }
        (d, fmt, "ok", Option.empty[String], Some(sr))
      case "wav" =>
        (d, fmt, "ok", Option.empty[String],
          Some(Wav.header(bytes).nSamples.toLong))
      case "avi" =>
        val h = Avi.header(bytes)
        (d, fmt, "ok", Option.empty[String],
          Some(h.nFrames.toLong * 100000 + h.width * 100 + h.height))
      case "jpeg" =>
        val frame = Jpeg.sof(bytes)
        (d, fmt, "ok", Option.empty[String],
          Some(frame.width.toLong * 1000 + frame.height))
      case _ =>
        (d, "unknown", "quarantined", Some("bad_magic"),
          Option.empty[Long])
    } catch {
      // a recognized-format payload that fails its codec leg still
      // becomes data, never job death (no such plant here — the
      // oracle proves the branch is unreached on this corpus)
      case _: IllegalArgumentException =>
        (d, fmt, "quarantined", Some("corrupt"), Option.empty[Long])
    }
  }

  def mediaMixedIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .mapPartitions(_.map(mixedRow))
      .toDF("doc_id", "format", "status", "reason", "stat")
      .orderBy("doc_id")
  }

  /** The mixed-format dispatcher as a STREAMING front door: new
    * documents (split bucket ≥ IncrSplit, the text/media tiers' 90/10
    * convention) arrive as heterogeneous payloads, and every trigger
    * sniffs, routes, and quarantines them IN-STREAM — the dispatcher
    * is a stateless narrow pass, so the per-trigger cost is exactly
    * the batch query's per-row cost on the delta. Gated by the batch
    * oracle restricted to the streamed slice.
    */
  def mediaMixedIngestStreamBounded(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    val schema = Tables.load(s, dir, "documents").schema
    graft.streaming.StreamGate("mixed_ingest_bounded", s"$dir/documents.parquet",
      (gs, drop) => {
        val bucket = conv(substring(md5(col("doc_id").cast(StringType)),
          1, 6), 16, 10).cast(LongType) % 100
        gs.readStream.schema(schema).parquet(drop)
          .filter(bucket >= TextQueries.IncrSplit)
          .select(col("doc_id")).as[Long]
          .mapPartitions(_.map(mixedRow))
          .toDF("doc_id", "format", "status", "reason", "stat")
      },
      d => d.rows.orderBy("doc_id")).run(s)
  }

  /** The 0-99 split bucket of a given doc-id column expression — the
    * SAME definition as TextQueries.SplitBucketSql / the Scala
    * deterministicSplit, alias-qualified so it can sit in scopes where
    * bare `doc_id` is ambiguous.
    */
  private def bucketPredSql(idCol: String): String =
    s"('0x' || substr(md5(CAST($idCol AS VARCHAR)), 1, 6))::BIGINT " +
      s"% 100 >= ${TextQueries.IncrSplit}"

  /** The mixed-dispatch oracle, optionally restricted to the streamed
    * (split bucket ≥ IncrSplit) slice — ONE query body for the batch
    * and streaming gates.
    */
  private def mixedIngestSqlFor(streamSlice: Boolean): String = {
    val pxPred =
      if (streamSlice) s" AND ${bucketPredSql("doc_id")}" else ""
    val outerPred =
      if (streamSlice) s"WHERE ${bucketPredSql("d.doc_id")}\n" else ""
    s"""WITH px AS (
       |  SELECT d.doc_id,
       |    (31 * d.doc_id + 16 * y.y + 7 * x.x) % 256 AS r
       |  FROM (SELECT doc_id FROM documents
       |        WHERE doc_id % 5 = 0$pxPred) d,
       |    (SELECT unnest(generate_series(0, ${MediaQueries.ImgW - 1}))
       |       AS x) x,
       |    (SELECT unnest(generate_series(0, ${MediaQueries.ImgH - 1}))
       |       AS y) y),
       |pngsum AS (SELECT doc_id, CAST(sum(r) AS BIGINT) AS sum_r
       |  FROM px GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CASE WHEN d.doc_id % 7 = 6 OR d.doc_id % 5 = 4 THEN 'unknown'
       |       WHEN d.doc_id % 5 = 0 THEN 'png'
       |       WHEN d.doc_id % 5 = 1 THEN 'wav'
       |       WHEN d.doc_id % 5 = 2 THEN 'avi'
       |       ELSE 'jpeg' END AS format,
       |  CASE WHEN d.doc_id % 7 = 6 OR d.doc_id % 5 = 4
       |       THEN 'quarantined' ELSE 'ok' END AS status,
       |  CASE WHEN d.doc_id % 7 = 6 OR d.doc_id % 5 = 4
       |       THEN 'bad_magic' END AS reason,
       |  CASE WHEN d.doc_id % 7 = 6 OR d.doc_id % 5 = 4
       |         THEN CAST(NULL AS BIGINT)
       |       WHEN d.doc_id % 5 = 0 THEN p.sum_r
       |       WHEN d.doc_id % 5 = 1
       |         THEN ${AudioQueries.FpSamples} + 8 * (d.doc_id % 7)
       |       WHEN d.doc_id % 5 = 2
       |         THEN (8 + d.doc_id % 5) * 100000
       |           + ${VideoQueries.VidW} * 100 + ${VideoQueries.VidH}
       |       ELSE ${ImgW * 1000 + ImgH} END AS stat
       |FROM documents d LEFT JOIN pngsum p ON d.doc_id = p.doc_id
       |${outerPred}ORDER BY d.doc_id""".stripMargin
  }

  val mediaMixedIngestSql: String = mixedIngestSqlFor(streamSlice = false)
  val mediaMixedIngestStreamSql: String =
    mixedIngestSqlFor(streamSlice = true)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "media_jpeg_tolerance_check" -> (mediaJpegToleranceCheck _),
    "media_quarantine_jpeg" -> (mediaQuarantineJpeg _),
    "media_mixed_ingest" -> (mediaMixedIngest _),
    "stream_mixed_ingest_bounded" -> (mediaMixedIngestStreamBounded _),
  )

  val oracles: Map[String, String] = Map(
    "media_jpeg_tolerance_check" -> mediaJpegToleranceCheckSql,
    "media_quarantine_jpeg" -> mediaQuarantineJpegSql,
    "media_mixed_ingest" -> mediaMixedIngestSql,
    "stream_mixed_ingest_bounded" -> mediaMixedIngestStreamSql,
  )
}
