package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.multimodal.{MultimodalOps, Png, Ppm}

/** Multimodal surface. Two tiers:
  *
  *  - `media_meta_documents`: the documents' text payloads stand in for
  *    opaque media bytes, exercising the binary-column path (byte
  *    length, content hash, container sniffing).
  *  - `media_features_documents`: REAL image decode. Each document gets
  *    a deterministic 16×16 PPM image whose pixel values are a closed
  *    form of (doc_id, x, y); the query encodes it, decodes it back
  *    with the hand-rolled [[Ppm]] parser partition-parallel, and
  *    emits integer pixel statistics. The DuckDB oracle computes the
  *    SAME statistics from the closed form directly — so a hash match
  *    proves the decoder reproduced every pixel, end to end.
  */
object MediaQueries {

  private def media(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), col("text").cast("binary").as("media"))

  def mediaMeta(s: SparkSession, dir: String): DataFrame =
    MultimodalOps.withMediaMeta(media(s, dir), "media")
      .select(col("doc_id"), col("n_bytes"), col("sha256"), col("format"))
      .orderBy("doc_id")

  /** The oracle mirrors the PRINTABLE magics (text-derived payloads can
    * legitimately start with "P6" or "RIFF"; the png/jpeg magics are
    * invalid UTF-8 lead bytes and cannot open a parquet string), so a
    * corpus refresh cannot desynchronize the sniff from the oracle.
    */
  val mediaMetaSql: String =
    """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
      |  sha256(text) AS sha256,
      |  CASE WHEN text LIKE 'P6%' THEN 'ppm'
      |       WHEN text LIKE 'RIFF%' THEN 'riff'
      |       ELSE 'unknown' END AS format
      |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin

  /** Synthetic image geometry + the pixel closed form shared by the
    * Spark encode side and the DuckDB oracle.
    */
  val ImgW = 16
  val ImgH = 16

  private[queries] def synthPixel(d: Long, x: Int, y: Int)
      : (Int, Int, Int) = (
    ((31 * d + 16 * y + 7 * x) % 256).toInt,
    ((17 * d + 5 * x * y + 3) % 256).toInt,
    ((53 * d + 11 * x + 13 * y) % 256).toInt)

  /** (doc_id, P6 payload) — encoded executor-side, one image per doc. */
  private def ppmMedia(s: SparkSession, dir: String)
      : Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.load(s, dir, "documents").filter(col("doc_id") < 50)
      .select(col("doc_id")).as[Long]
      .map(d => (d, Ppm.encode(ImgW, ImgH, (x, y) => synthPixel(d, x, y))))
  }

  /** Decoded feature vectors → the stat columns, shared by the plain
    * and resized feature queries. All stats are integer-exact; means
    * re-derive from the sums with the same expression tree as the
    * oracle.
    */
  private def pixelStats(feats: DataFrame): DataFrame = {
    def fl(i: Int) = element_at(col("f"), i).cast("long")
    feats.select(col("doc_id"),
        fl(1).as("width"), fl(2).as("height"), fl(8).as("n_pixels"),
        fl(3).as("sum_r"), fl(4).as("sum_g"), fl(5).as("sum_b"),
        fl(6).as("min_lum"), fl(7).as("max_lum"))
      .withColumn("mean_r",
        round(col("sum_r").cast("double") / col("n_pixels"), 4))
      .withColumn("mean_g",
        round(col("sum_g").cast("double") / col("n_pixels"), 4))
      .withColumn("mean_b",
        round(col("sum_b").cast("double") / col("n_pixels"), 4))
      .orderBy("doc_id")
  }

  /** Decoded pixel statistics via the real PPM parser behind the
    * pluggable MediaDecoder contract (partition-parallel, no driver
    * involvement).
    */
  def mediaFeatures(s: SparkSession, dir: String): DataFrame =
    pixelStats(MultimodalOps
      .extractFeatures(ppmMedia(s, dir), new Ppm.FeatureDecoder)
      .toDF("doc_id", "f"))

  /** Oracle builder: rebuild every pixel of a `w`×`h` grid from the
    * closed form with source coordinates `(sx, sy)` (SQL expressions
    * over x.x / y.y) and aggregate — agreement means the decode (and,
    * for the resize variant, the resample) reproduced exactly the bytes
    * the encoder laid out.
    */
  private def pixelStatsSql(w: Int, h: Int, sx: String, sy: String) =
    s"""WITH px AS (
       |  SELECT d.doc_id,
       |    (31 * d.doc_id + 16 * ($sy) + 7 * ($sx)) % 256 AS r,
       |    (17 * d.doc_id + 5 * ($sx) * ($sy) + 3) % 256 AS g,
       |    (53 * d.doc_id + 11 * ($sx) + 13 * ($sy)) % 256 AS b
       |  FROM (SELECT doc_id FROM documents WHERE doc_id < 50) d,
       |    (SELECT unnest(generate_series(0, ${w - 1})) AS x) x,
       |    (SELECT unnest(generate_series(0, ${h - 1})) AS y) y)
       |SELECT doc_id, CAST($w AS BIGINT) AS width,
       |  CAST($h AS BIGINT) AS height,
       |  CAST(count(*) AS BIGINT) AS n_pixels,
       |  CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g,
       |  CAST(sum(b) AS BIGINT) AS sum_b,
       |  CAST(min(299*r + 587*g + 114*b) AS BIGINT) AS min_lum,
       |  CAST(max(299*r + 587*g + 114*b) AS BIGINT) AS max_lum,
       |  round(CAST(sum(r) AS DOUBLE) / count(*), 4) AS mean_r,
       |  round(CAST(sum(g) AS DOUBLE) / count(*), 4) AS mean_g,
       |  round(CAST(sum(b) AS DOUBLE) / count(*), 4) AS mean_b
       |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val mediaFeaturesSql: String = pixelStatsSql(ImgW, ImgH, "x.x", "y.y")

  /** Resize geometry: 16×16 → 8×8, so nearest-neighbor source pixel of
    * output (x, y) is exactly (2x, 2y) — SQL-expressible.
    */
  val ResizeW = 8
  val ResizeH = 8

  /** Encode → nearest-neighbor resize (MediaTransform contract) →
    * decode → statistics, all partition-parallel. The oracle samples
    * the closed form at the resampled coordinates, so a hash match
    * proves the whole transform chain byte-for-byte.
    */
  def mediaResize(s: SparkSession, dir: String): DataFrame =
    pixelStats(MultimodalOps
      .extractFeatures(
        MultimodalOps.transformMedia(ppmMedia(s, dir),
          new Ppm.Resize(ResizeW, ResizeH)),
        new Ppm.FeatureDecoder)
      .toDF("doc_id", "f"))

  val mediaResizeSql: String =
    pixelStatsSql(ResizeW, ResizeH,
      s"(x.x * $ImgW) // $ResizeW", s"(y.y * $ImgH) // $ResizeH")

  /** "Keyframe" sampling over the binary payload (text bytes stand in
    * for media): `NFrames` equal byte ranges per document, reported as
    * (length, sha256) per frame. BOTH sides restrict to pure-ASCII
    * payloads so DuckDB's character slicing and Spark's byte slicing
    * address identical offsets by construction — not by luck of the
    * current corpus.
    */
  val NFrames = 4

  def mediaFrames(s: SparkSession, dir: String): DataFrame = {
    val asciiDocs = Tables.load(s, dir, "documents")
      .filter(col("doc_id") < 50 &&
        !col("text").rlike("[^\\x00-\\x7F]"))
      .select(col("doc_id"), col("text").cast("binary").as("media"))
    MultimodalOps.frameSample(asciiDocs, "media", "doc_id", NFrames)
      .select(col("doc_id"), col("frame_no"),
        length(col("frame")).cast("long").as("n_bytes"),
        sha2(col("frame"), 256).as("sha256"))
      .orderBy("doc_id", "frame_no")
  }

  val mediaFramesSql: String =
    s"""WITH d AS (SELECT doc_id, text, length(text) AS len
       |  FROM documents
       |  WHERE doc_id < 50 AND NOT regexp_matches(text, '[^\\x00-\\x7F]')
       |    AND length(text) >= $NFrames),
       |f AS (SELECT doc_id, i.i AS frame_no,
       |    substring(text, CAST(i.i * (len // $NFrames) AS INT) + 1,
       |      CAST(len // $NFrames AS INT)) AS frame
       |  FROM d, (SELECT unnest(generate_series(0, ${NFrames - 1})) AS i) i)
       |SELECT doc_id, CAST(frame_no AS BIGINT) AS frame_no,
       |  CAST(length(frame) AS BIGINT) AS n_bytes, sha256(frame) AS sha256
       |FROM f ORDER BY doc_id, frame_no""".stripMargin

  // ---------------------------------------------------------------------
  // Perceptual-hash image near-duplicate detection (r9 verdict #4) — the
  // standard multimodal-pipeline dedup the tier lacked: dHash over the
  // decoded image + Hamming-banded candidate join, the image twin of the
  // MinHash/SimHash text ladders. The corpus is one synthetic 16×16 PPM
  // per document (closed-form pixels, like media_features), with PLANTED
  // near-duplicates: every doc_id ≡ 3 (mod 10) renders its source doc's
  // (doc_id − 3) image plus a sparse deterministic pixel jitter — bytes
  // differ, but the jitter only flips a dHash bit where it crosses a
  // luminance-gradient sign, so planted pairs sit a small Hamming
  // distance apart. The DuckDB oracle reproduces the WHOLE pipeline from
  // the closed forms — downsample, luminance, gradient bits, bands,
  // hot-band cap, banded candidates, exact Hamming — so the hash gate
  // pins every bit end to end; the recall floor against independent
  // exact-Hamming truth lives in `recall_check_planted` (a banding/cap
  // regression moves BOTH sides of this oracle identically, which is
  // exactly why the recall gate measures against the unbanded truth).

  /** Planted near-dup rule: doc_id ≡ `NdPlantRes` (mod `NdPlantMod`)
    * renders doc_id − `NdPlantDelta`'s image, jittered.
    */
  val NdPlantMod = 10L
  val NdPlantRes = 3L
  val NdPlantDelta = 3L
  /** Jitter: +1 (mod 256) on red where (7x + 11y + doc_id) ≡ 0 (mod 37)
    * — ~7 of 256 pixels.
    */
  val NdJitterMod = 37L
  /** Pair threshold: exact Hamming ≤ 6 of 64 bits. */
  val NdMaxHamming = 6
  /** Hot-band cap, the LSH hot-bucket guard rail: a 16-bit band value
    * shared by more than this many images (a degenerate flat-image
    * region at production scale) is excluded from candidate generation
    * — mirrored verbatim in the oracle, like AnnProdMaxBucket.
    */
  val NdBandCap = 200

  private[queries] def ndPlanted(d: Long): Boolean =
    d % NdPlantMod == NdPlantRes && d >= NdPlantMod

  /** Near-dup corpus pixel form. Unlike [[synthPixel]] this one carries
    * doc·coordinate CROSS terms (5dx, 3dy, 7dy, 11dxy): with a purely
    * linear form the horizontal luminance gradient is the same for
    * every doc except at mod-256 wrap positions, so unrelated docs
    * share most dHash bits and the "near-dup" relation degenerates
    * (measured: 3.5k pairs over 500 docs). The cross terms give each
    * doc its own gradient-sign pattern — unrelated hashes become
    * ~independent 64-bit words, and surviving pairs are the planted
    * ones (plus the odd honest collision, identical on both engines).
    */
  def ndPixelBase(d: Long, x: Int, y: Int)
      : (Int, Int, Int) = {
    // e = the doc-id bits ABOVE the modulus: without them every term is
    // mod 256, so docs with d ≡ d' (mod 256) render identical images
    // (measured: exactly the ⌊n/256⌋-spaced pairs showed up as
    // hamming-0 "near-dups"). Mixing e into coordinate terms makes the
    // image a function of the full id.
    val e = d / 256
    (((31 * d + 17 * e + 7 * x + 16 * y + 5 * d * x + 9 * e * x
        + 3 * d * y) % 256).toInt,
     ((17 * d + 29 * e + 5 * x * y + 3 + 7 * d * y + 5 * e * x)
        % 256).toInt,
     ((53 * d + 41 * e + 11 * x + 13 * y + 11 * d * x * y + 7 * e * y)
        % 256).toInt)
  }

  /** Pixel closed form incl. the plant: source image + sparse jitter. */
  def synthNdPixel(d: Long, x: Int, y: Int)
      : (Int, Int, Int) = {
    val src = if (ndPlanted(d)) d - NdPlantDelta else d
    val (r, g, b) = ndPixelBase(src, x, y)
    val rj =
      if (ndPlanted(d) && (7 * x + 11 * y + d) % NdJitterMod == 0)
        (r + 1) % 256
      else r
    (rj, g, b)
  }

  /** (doc_id, dHash band 0..3) for every document's synthesized image —
    * encode + decode + hash run partition-parallel (the real pipeline
    * shape: the driver never sees a pixel).
    */
  private[queries] def ndHashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { d =>
        val bytes = Ppm.encode(ImgW, ImgH, (x, y) => synthNdPixel(d, x, y))
        val bs = Ppm.dHashBands(bytes)
        (d, bs(0), bs(1), bs(2), bs(3))
      })
      .toDF("doc_id", "b0", "b1", "b2", "b3")
  }

  /** Image near-dup pairs: Hamming-banded candidate join (pigeonhole: a
    * pair within distance < 4 bands shares at least one 16-bit band) +
    * exact Hamming verify — one narrow hash projection, one shuffle on
    * (band_no, band_val), two hash-joins back for the verify. At 100 TB
    * the candidate volume is Σ bucket² over band buckets, bounded by
    * [[NdBandCap]] exactly like the MinHash tier's hot buckets.
    */
  def imageNeardup(s: SparkSession, dir: String): DataFrame =
    neardupFromHashes(ndHashes(s, dir).localCheckpoint(true))

  /** The banded-join tail shared by the PPM and PNG hash paths — and by
    * the AUDIO fingerprint path ([[AudioQueries]]): capped
    * Hamming-banded candidates + exact verify over a (doc_id, b0..b3)
    * frame. The banding is hash-agnostic: any 64-bit fingerprint split
    * into 4×16-bit bands (dHash, energy-delta signs) rides the same
    * join.
    */
  private[queries] def neardupFromHashes(hashes: DataFrame,
      bandCap: Int = NdBandCap, maxHamming: Int = NdMaxHamming)
      : DataFrame = {
    val banded = hashes.select(col("doc_id"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("band_no", "band_val")))
    val cold = banded.join(
      broadcast(banded.groupBy("band_no", "band_val")
        .agg(count(lit(1)).as("__c"))
        .filter(col("__c") > bandCap)
        .select("band_no", "band_val")),
      Seq("band_no", "band_val"), "left_anti")
    val cand = cold.select(col("band_no"), col("band_val"),
        col("doc_id").as("doc_a"))
      .join(cold.select(col("band_no"), col("band_val"),
        col("doc_id").as("doc_b")), Seq("band_no", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    def h(side: String) = hashes.select(
      col("doc_id").as(s"doc_$side"),
      col("b0").as(s"${side}0"), col("b1").as(s"${side}1"),
      col("b2").as(s"${side}2"), col("b3").as(s"${side}3"))
    cand.join(h("a"), "doc_a").join(h("b"), "doc_b")
      .withColumn("hamming",
        (bit_count(col("a0").bitwiseXOR(col("b0"))) +
         bit_count(col("a1").bitwiseXOR(col("b1"))) +
         bit_count(col("a2").bitwiseXOR(col("b2"))) +
         bit_count(col("a3").bitwiseXOR(col("b3")))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** Oracle mirror of [[neardupFromHashes]] downstream of a `bands`
    * CTE (doc_id, band_no, band_val): hot-band sizes → capped cold set
    * → banded candidates → exact Hamming verify. Shared verbatim by the
    * image and audio oracles — the SQL twin of the shared Scala tail.
    */
  private[queries] def bandedTailSql(bandCap: Int, maxHamming: Int)
      : String =
    s"""sizes AS (
       |  SELECT band_no, band_val, count(*) AS c
       |  FROM bands GROUP BY band_no, band_val),
       |cold AS (
       |  SELECT b.doc_id, b.band_no, b.band_val FROM bands b
       |  JOIN sizes s USING (band_no, band_val) WHERE s.c <= $bandCap),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM cold l JOIN cold r
       |    ON l.band_no = r.band_no AND l.band_val = r.band_val
       |   AND l.doc_id < r.doc_id),
       |h AS (
       |  SELECT doc_id,
       |    MAX(CASE WHEN band_no = 0 THEN band_val END) AS b0,
       |    MAX(CASE WHEN band_no = 1 THEN band_val END) AS b1,
       |    MAX(CASE WHEN band_no = 2 THEN band_val END) AS b2,
       |    MAX(CASE WHEN band_no = 3 THEN band_val END) AS b3
       |  FROM bands GROUP BY doc_id)
       |SELECT c.doc_a, c.doc_b,
       |  CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
       |     + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
       |    AS BIGINT) AS hamming
       |FROM cand c
       |JOIN h a ON a.doc_id = c.doc_a JOIN h b ON b.doc_id = c.doc_b
       |WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
       |    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
       |    <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin

  /** [[ndPixelBase]]'s three channel closed forms as DuckDB SQL over a
    * source-id expression and source-coordinate expressions — ONE
    * formula text shared by the image near-dup oracle and the VIDEO
    * tier's per-frame oracles ([[VideoQueries]]), so the Scala form and
    * every SQL mirror cannot drift apart independently.
    */
  private[queries] def basePixelSql(src: String, sx: String, sy: String)
      : (String, String, String) = {
    val e = s"($src // 256)"
    (s"((31 * $src + 17 * $e + 7 * $sx + 16 * $sy" +
       s" + 5 * $src * $sx + 9 * $e * $sx + 3 * $src * $sy) % 256)",
     s"((17 * $src + 29 * $e + 5 * $sx * $sy + 3" +
       s" + 7 * $src * $sy + 5 * $e * $sx) % 256)",
     s"((53 * $src + 41 * $e + 11 * $sx + 13 * $sy" +
       s" + 11 * $src * $sx * $sy + 7 * $e * $sy) % 256)")
  }

  // source-pixel coordinates of dHash grid cell (x.x, y.y), and the
  // [[ndPixelBase]] channel closed forms sampled there (src = the
  // rendered doc, jitter applied on top of SqlR for planted docs)
  private val SqlSx = s"((x.x * $ImgW) // ${Ppm.DHashW})"
  private val SqlSy = s"((y.y * $ImgH) // ${Ppm.DHashH})"
  private val (sqlR, sqlG, sqlB) = basePixelSql("m.src", SqlSx, SqlSy)
  private val SqlR = sqlR
  private val SqlG = sqlG
  private val SqlB = sqlB

  /** The shared closed-form band pipeline as SQL CTEs — pixels (plant +
    * jitter applied) → downsampled luminance → gradient bits → 16-bit
    * bands, over ALL documents, with the train/test split bucket
    * carried so bipartite consumers ([[mediaIngestStreamSql]]) can
    * partition the doc set. Prefix for [[imageNeardupSql]] (all-pairs
    * tail) and the streaming front-door oracle (corpus-vs-stream tail).
    */
  private val ndBandsCtes: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % $NdPlantMod = $NdPlantRes
       |           AND doc_id >= $NdPlantMod
       |         THEN doc_id - $NdPlantDelta ELSE doc_id END AS src,
       |    (doc_id % $NdPlantMod = $NdPlantRes
       |       AND doc_id >= $NdPlantMod) AS planted,
       |    ${TextQueries.SplitBucketSql} AS bucket
       |  FROM documents),
       |g AS (
       |  SELECT m.doc_id, x.x AS gx, y.y AS gy,
       |    299 * (CASE WHEN m.planted
       |             AND (7 * $SqlSx + 11 * $SqlSy + m.doc_id)
       |                 % $NdJitterMod = 0
       |           THEN ($SqlR + 1) % 256 ELSE $SqlR END)
       |    + 587 * ($SqlG) + 114 * ($SqlB) AS lum
       |  FROM m,
       |    (SELECT unnest(generate_series(0, ${Ppm.DHashW - 1})) AS x) x,
       |    (SELECT unnest(generate_series(0, ${Ppm.DHashH - 1})) AS y) y),
       |bits AS (
       |  SELECT doc_id, gx, gy * ${Ppm.DHashW - 1} + gx AS i,
       |    CASE WHEN lead(lum) OVER (PARTITION BY doc_id, gy ORDER BY gx)
       |           > lum THEN 1 ELSE 0 END AS bit
       |  FROM g),
       |bands AS (
       |  SELECT doc_id, i // ${Ppm.DHashBandBits} AS band_no,
       |    CAST(SUM(bit * (1 << (i % ${Ppm.DHashBandBits}))) AS BIGINT)
       |      AS band_val
       |  FROM bits WHERE gx < ${Ppm.DHashW - 1}
       |  GROUP BY doc_id, i // ${Ppm.DHashBandBits}),
       |""".stripMargin

  /** Full-pipeline oracle: closed-form pixels → downsampled luminance →
    * gradient bits → 16-bit bands → capped banded candidates → exact
    * Hamming. Every intermediate is integer-exact on both engines.
    */
  val imageNeardupSql: String =
    ndBandsCtes + bandedTailSql(NdBandCap, NdMaxHamming)

  // ---------------------------------------------------------------------
  // REAL image bytes (r10 verdict #1): the same pixel closed forms, now
  // round-tripped through an actual PNG codec (javax.imageio — the
  // container a real ingestion pipeline receives) instead of the
  // hand-rolled PPM only. PNG is lossless, so every oracle stays a pixel
  // closed form: the ENCODED bytes are JVM-specific (deflate), but the
  // DECODED pixels — and hence dHash bands, banded candidates, Hamming
  // distances, IHDR fields — are exact.

  /** Byte-level metadata over REAL PNG bytes: container sniff from the
    * magic + IHDR width/height/bit-depth/color-type parsed WITHOUT pixel
    * decode — the cheap pre-decode metadata pass a 100 TB scan runs
    * first. The oracle pins the parsed values to the encode geometry:
    * agreement proves the writer emitted and the parser read a
    * spec-shaped IHDR (8-bit truecolor) for every document.
    */
  def mediaMetaPng(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .filter(col("doc_id") < 50)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { d =>
        val bytes = Png.encode(ImgW, ImgH, (x, y) => synthNdPixel(d, x, y))
        val h = Png.ihdr(bytes)
        (d, if (Png.hasSignature(bytes)) "png" else "unknown",
          h.width.toLong, h.height.toLong, h.bitDepth.toLong,
          h.colorType.toLong)
      })
      .toDF("doc_id", "format", "width", "height", "bit_depth",
        "color_type")
      .orderBy("doc_id")
  }

  /** 8-bit truecolor geometry constants: bit depth 8, color type 2. */
  val mediaMetaPngSql: String =
    s"""SELECT doc_id, 'png' AS format,
       |  CAST($ImgW AS BIGINT) AS width, CAST($ImgH AS BIGINT) AS height,
       |  CAST(8 AS BIGINT) AS bit_depth, CAST(2 AS BIGINT) AS color_type
       |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin

  /** The perceptual near-dup pipeline over REAL PNG bytes: encode →
    * ImageIO decode → dHash → capped Hamming-banded candidates → exact
    * verify, under the SAME full-pipeline closed-form oracle as
    * [[imageNeardup]] — a hash match proves the PNG round-trip preserved
    * every pixel the banded join and Hamming verify depend on.
    */
  def imageNeardupPng(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hashes = Tables.load(s, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { d =>
        val bytes = Png.encode(ImgW, ImgH, (x, y) => synthNdPixel(d, x, y))
        val bs = Ppm.dHashBandsOf(Png.decode(bytes))
        (d, bs(0), bs(1), bs(2), bs(3))
      })
      .toDF("doc_id", "b0", "b1", "b2", "b3")
      .localCheckpoint(true)
    neardupFromHashes(hashes)
  }

  /** Malformed-media QUARANTINE gate (r10 verdict #1): the corpus plants
    * corrupt payloads — doc_id ≡ 4 (mod 10) gets its magic byte flipped,
    * doc_id ≡ 7 (mod 10) is truncated mid-IHDR — and the decode pass
    * must route them to a (status, reason) column while the job
    * completes and every healthy row still yields exact pixel stats.
    * Reasons are OUR deterministic sniff taxonomy (bad_magic vs corrupt
    * stream), never a JVM exception message. This is the posture
    * `Ppm.decode`'s scaladoc promised (Ppm.scala:53-55), now gated
    * end-to-end with a FULL closed-form oracle.
    */
  def mediaQuarantine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.fanout(Tables.load(s, dir, "documents")
        .select(col("doc_id")).as[Long])
      .mapPartitions(_.map { d =>
        val clean = Png.encode(ImgW, ImgH, (x, y) => synthPixel(d, x, y))
        val bytes =
          if (d % 10 == 4) { // corrupt the magic
            val b = clean.clone(); b(0) = 0; b
          } else if (d % 10 == 7) { // truncate mid-IHDR
            java.util.Arrays.copyOfRange(clean, 0, 20)
          } else clean
        // per-row quarantine: decode failures become data, not job death
        try {
          val img = Png.decode(bytes)
          var sr = 0L
          var i = 0
          while (i < img.rgb.length) { sr += img.rgb(i); i += 3 }
          (d, "ok", Option.empty[String], Some(sr))
        } catch {
          case _: IllegalArgumentException =>
            val reason =
              if (!Png.hasSignature(bytes)) "bad_magic" else "corrupt"
            (d, "quarantined", Some(reason), Option.empty[Long])
        }
      })
      .toDF("doc_id", "status", "reason", "sum_r")
      .orderBy("doc_id")
  }

  val mediaQuarantineSql: String =
    s"""WITH px AS (
       |  SELECT d.doc_id,
       |    (31 * d.doc_id + 16 * y.y + 7 * x.x) % 256 AS r
       |  FROM (SELECT doc_id FROM documents) d,
       |    (SELECT unnest(generate_series(0, ${ImgW - 1})) AS x) x,
       |    (SELECT unnest(generate_series(0, ${ImgH - 1})) AS y) y),
       |sums AS (SELECT doc_id, CAST(sum(r) AS BIGINT) AS sum_r
       |  FROM px GROUP BY doc_id)
       |SELECT doc_id,
       |  CASE WHEN doc_id % 10 IN (4, 7) THEN 'quarantined'
       |       ELSE 'ok' END AS status,
       |  CASE WHEN doc_id % 10 = 4 THEN 'bad_magic'
       |       WHEN doc_id % 10 = 7 THEN 'corrupt' END AS reason,
       |  CASE WHEN doc_id % 10 NOT IN (4, 7) THEN sum_r END AS sum_r
       |FROM sums ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // STREAMING media ingest front door: the multimodal twin of the text
  // tier's ingest gates. New documents (split bucket ≥ IncrSplit, the
  // same 90/10 convention as dedup_incremental / the block front door)
  // arrive as a stream of REAL PNG payloads; every trigger decodes them
  // partition-parallel — malformed bytes (the planted bad-magic /
  // truncated-IHDR rows) route to quarantine, never kill the trigger —
  // dHashes the healthy ones, and banded-joins them STREAM-STATIC
  // against the standing corpus's band index (bucket < IncrSplit,
  // memoized once per corpus version like the postings / block-min
  // artifacts). Verdict per doc: quarantined / dup (exact-Hamming ≤
  // NdMaxHamming vs a corpus image, ties broken by (hamming,
  // corpus_id)) / new. The planted near-dups (doc_id ≡ 3 mod 10 renders
  // doc_id − 3's image jittered) resolve to 'dup' exactly when their
  // source landed in the corpus slice — a fact both engines derive from
  // the same split hash, never hard-coded. At 100 TB: the corpus index
  // is band-granular warehouse state built once per corpus version;
  // each trigger joins only its delta's ≤ 4·|batch| band rows against
  // it, candidate volume capped by the hot-band rule.

  /** Corpus-side band index over the IncrSplit corpus slice: one row
    * per (corpus doc, band) with the full hash carried for the exact
    * verify, hot bands (> [[NdBandCap]] members) excluded — the static
    * side of the front door's per-trigger join.
    */
  private def corpusMediaBandsMemo(s: SparkSession, dir: String)
      : DataFrame =
    TextQueries.memoArtifact(s, dir, "corpus_media_bands") {
      import s.implicits._
      import org.apache.spark.sql.types.{LongType, StringType}
      val bucket = conv(substring(md5(col("doc_id").cast(StringType)),
        1, 6), 16, 10).cast(LongType) % 100
      val hashes = Tables.fanout(Tables.load(s, dir, "documents")
          .filter(bucket < TextQueries.IncrSplit)
          .select(col("doc_id")).as[Long])
        .mapPartitions(_.map { d =>
          val bs = Ppm.dHashBandsOf(Png.decode(
            Png.encode(ImgW, ImgH, (x, y) => synthNdPixel(d, x, y))))
          (d, bs(0), bs(1), bs(2), bs(3))
        })
        .toDF("corpus_id", "cb0", "cb1", "cb2", "cb3")
      val banded = hashes.select(col("corpus_id"), col("cb0"),
        col("cb1"), col("cb2"), col("cb3"),
        posexplode(array(col("cb0"), col("cb1"), col("cb2"), col("cb3")))
          .as(Seq("band_no", "band_val")))
      banded.join(
          broadcast(banded.groupBy("band_no", "band_val")
            .agg(count(lit(1)).as("__c"))
            .filter(col("__c") > NdBandCap)
            .select("band_no", "band_val")),
          Seq("band_no", "band_val"), "left_anti")
        .localCheckpoint(true)
    }

  def mediaIngestStreamBounded(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    val schema = Tables.load(s, dir, "documents").schema
    val corpus = corpusMediaBandsMemo(s, dir)
    graft.streaming.StreamGate("media_ingest_bounded", s"$dir/documents.parquet",
      (gs, drop) => {
        val bucket = conv(substring(md5(col("doc_id").cast(StringType)),
          1, 6), 16, 10).cast(LongType) % 100
        gs.readStream.schema(schema).parquet(drop)
          .filter(bucket >= TextQueries.IncrSplit)
          .select(col("doc_id")).as[Long]
          .mapPartitions(_.map { d =>
            // the arriving payload: REAL PNG bytes, with the image
            // tier's quarantine plants (mod-10 classes disjoint from
            // the near-dup plant's)
            val clean = Png.encode(ImgW, ImgH,
              (x, y) => synthNdPixel(d, x, y))
            val bytes =
              if (d % 10 == 4) { val b = clean.clone(); b(0) = 0; b }
              else if (d % 10 == 7)
                java.util.Arrays.copyOfRange(clean, 0, 20)
              else clean
            try {
              val bs = Ppm.dHashBandsOf(Png.decode(bytes))
              (d, "ok", Option.empty[String],
                Some(bs(0)), Some(bs(1)), Some(bs(2)), Some(bs(3)))
            } catch {
              case _: IllegalArgumentException =>
                val reason =
                  if (!Png.hasSignature(bytes)) "bad_magic" else "corrupt"
                (d, "quarantined", Some(reason), Option.empty[Int],
                  Option.empty[Int], Option.empty[Int], Option.empty[Int])
            }
          })
          .toDF("doc_id", "decode_status", "reason",
            "b0", "b1", "b2", "b3")
          // quarantined rows carry a null band array: posexplode_outer
          // keeps them as one null-band row the static join passes
          // through, so the sink sees every arriving doc exactly once+
          .select(col("doc_id"), col("decode_status"), col("reason"),
            col("b0"), col("b1"), col("b2"), col("b3"),
            posexplode_outer(when(col("decode_status") === "ok",
              array(col("b0"), col("b1"), col("b2"), col("b3"))))
              .as(Seq("band_no", "band_val")))
          .join(corpus, Seq("band_no", "band_val"), "left_outer")
          .withColumn("hamming",
            when(col("corpus_id").isNotNull,
              (bit_count(col("b0").bitwiseXOR(col("cb0"))) +
               bit_count(col("b1").bitwiseXOR(col("cb1"))) +
               bit_count(col("b2").bitwiseXOR(col("cb2"))) +
               bit_count(col("b3").bitwiseXOR(col("cb3"))))
                .cast("long")))
          .select("doc_id", "decode_status", "reason", "corpus_id",
            "hamming")
      },
      d => {
        val sink = d.rows
        // per-doc verdict: the exact-verified best match (min by
        // (hamming, corpus_id) — partition-layout-independent)
        val best = min(when(col("hamming") <= NdMaxHamming,
          struct(col("hamming"), col("corpus_id")))).as("m")
        sink.groupBy("doc_id")
          .agg(first(col("decode_status")).as("ds"),
            first(col("reason")).as("reason"), best)
          .select(col("doc_id"),
            when(col("ds") === "quarantined", lit("quarantined"))
              .when(col("m").isNotNull, lit("dup"))
              .otherwise(lit("new")).as("status"),
            col("reason"),
            col("m.corpus_id").as("dup_of"),
            col("m.hamming").as("hamming"))
          .orderBy("doc_id")
      }).run(s)
  }

  /** Oracle: the shared band CTEs over all docs, then the BIPARTITE
    * tail — corpus-side hot-band cap, stream×corpus banded candidates
    * (corrupt arrivals excluded: their bytes never decode), exact
    * Hamming verify, best match by (hamming, corpus_id) — and the
    * quarantine/new/dup CASE per arriving doc.
    */
  val mediaIngestStreamSql: String =
    ndBandsCtes +
    s"""sizes AS (
       |  SELECT band_no, band_val, count(*) AS c
       |  FROM bands JOIN m USING (doc_id)
       |  WHERE m.bucket < ${TextQueries.IncrSplit}
       |  GROUP BY band_no, band_val),
       |cold AS (
       |  SELECT b.doc_id, b.band_no, b.band_val FROM bands b
       |  JOIN m USING (doc_id)
       |  JOIN sizes s USING (band_no, band_val)
       |  WHERE m.bucket < ${TextQueries.IncrSplit} AND s.c <= $NdBandCap),
       |scand AS (
       |  SELECT DISTINCT sb.doc_id, c.doc_id AS corpus_id
       |  FROM bands sb JOIN m sm USING (doc_id)
       |  JOIN cold c ON sb.band_no = c.band_no
       |   AND sb.band_val = c.band_val
       |  WHERE sm.bucket >= ${TextQueries.IncrSplit}
       |    AND sm.doc_id % 10 NOT IN (4, 7)),
       |h AS (
       |  SELECT doc_id,
       |    MAX(CASE WHEN band_no = 0 THEN band_val END) AS b0,
       |    MAX(CASE WHEN band_no = 1 THEN band_val END) AS b1,
       |    MAX(CASE WHEN band_no = 2 THEN band_val END) AS b2,
       |    MAX(CASE WHEN band_no = 3 THEN band_val END) AS b3
       |  FROM bands GROUP BY doc_id),
       |ham AS (
       |  SELECT sc.doc_id, sc.corpus_id,
       |    CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
       |       + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
       |      AS BIGINT) AS hamming
       |  FROM scand sc
       |  JOIN h a ON a.doc_id = sc.doc_id
       |  JOIN h b ON b.doc_id = sc.corpus_id),
       |best AS (
       |  SELECT doc_id, corpus_id, hamming, row_number() OVER (
       |      PARTITION BY doc_id ORDER BY hamming, corpus_id) AS rn
       |  FROM ham WHERE hamming <= $NdMaxHamming)
       |SELECT d.doc_id,
       |  CASE WHEN d.doc_id % 10 IN (4, 7) THEN 'quarantined'
       |       WHEN best.corpus_id IS NOT NULL THEN 'dup'
       |       ELSE 'new' END AS status,
       |  CASE WHEN d.doc_id % 10 = 4 THEN 'bad_magic'
       |       WHEN d.doc_id % 10 = 7 THEN 'corrupt' END AS reason,
       |  best.corpus_id AS dup_of, best.hamming AS hamming
       |FROM (SELECT doc_id FROM m
       |      WHERE bucket >= ${TextQueries.IncrSplit}) d
       |LEFT JOIN best ON best.doc_id = d.doc_id AND best.rn = 1
       |ORDER BY d.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "media_meta_documents" -> (mediaMeta _),
    "media_features_documents" -> (mediaFeatures _),
    "media_resize_documents" -> (mediaResize _),
    "media_frames_documents" -> (mediaFrames _),
    "image_neardup_documents" -> (imageNeardup _),
    "media_meta_png_documents" -> (mediaMetaPng _),
    "image_neardup_png_documents" -> (imageNeardupPng _),
    "media_quarantine_documents" -> (mediaQuarantine _),
    "stream_media_ingest_bounded" -> (mediaIngestStreamBounded _),
  )

  val oracles: Map[String, String] = Map(
    "media_meta_documents" -> mediaMetaSql,
    "media_features_documents" -> mediaFeaturesSql,
    "media_resize_documents" -> mediaResizeSql,
    "media_frames_documents" -> mediaFramesSql,
    "image_neardup_documents" -> imageNeardupSql,
    "media_meta_png_documents" -> mediaMetaPngSql,
    "image_neardup_png_documents" -> imageNeardupSql,
    "media_quarantine_documents" -> mediaQuarantineSql,
    "stream_media_ingest_bounded" -> mediaIngestStreamSql,
  )
}
