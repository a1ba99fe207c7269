package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}
import graft.Tables
import graft.text.{Curation, Dedup, TextOps}

/** LLM-data-pipeline text surface over the `documents` table: dedup (exact,
  * exact n-gram Jaccard, MinHash+LSH, SimHash, winnowing fingerprints) and
  * text analysis (language ID, quality scoring, token counting, corpus
  * stats). Every query carries a DuckDB oracle: the hash-keyed ops
  * (MinHash/SimHash/fingerprints) register in crossEngine mode — the
  * Dedup.md5Hash60 family instead of Spark-specific xxhash64, identical
  * plan shape — with the xxhash64 default remaining the production hot
  * path, and TextSpec still checking the hash-agnostic properties.
  */
object TextQueries {

  /** Near-dup parameters: bigram shingles, 128-wide MinHash, 32 bands of 4
    * rows → LSH s-curve threshold (1/32)^(1/4) ≈ 0.42, verified at exact
    * Jaccard ≥ 0.4. The harness corpus contains ~25 planted pairs ≥ 0.5.
    */
  val ShingleN = 2
  val MinhashK = 128
  val LshBands = 32
  val MinJaccard = 0.4

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private val NormSql =
    "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** The 0-99 doc_id hash bucket of Curation.deterministicSplit — ONE
    * definition, because split_assign / split_leakage /
    * dedup_incremental must all agree with the Scala side about which
    * docs are train.
    */
  private[queries] val SplitBucketSql =
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100"

  /** The split label the bucket implies (80/10/10). */
  private val SplitCaseSql =
    s"CASE WHEN $SplitBucketSql < 80 THEN 'train' " +
      s"WHEN $SplitBucketSql < 90 THEN 'val' ELSE 'test' END"

  private val ToksCte =
    "WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') " +
      "AS w FROM documents)"

  private val ShCte =
    s"""$ToksCte,
       |sh AS (SELECT DISTINCT doc_id, shingle FROM (
       |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
       |    for i in range(1, len(w))]) AS shingle FROM toks))""".stripMargin

  // ---- exact dedup ---------------------------------------------------------

  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(s, dir), "text", "doc_id")

  val dedupExactSql: String =
    s"""SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, content_hash,
       |  CAST(count(*) AS BIGINT) AS n_dupes
       |FROM (SELECT doc_id, md5($NormSql) AS content_hash FROM documents)
       |GROUP BY content_hash ORDER BY doc_id""".stripMargin

  // ---- exact n-gram Jaccard near-dups -------------------------------------

  def neardupNgram(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(docs(s, dir), "text", "doc_id", ShingleN,
      MinJaccard)

  /** CTE chain ending in a `pairs` relation — shared by the pair query and
    * the cluster (connected-components) oracle below.
    */
  private val NgramPairsCtes: String =
    s"""${ShCte.stripPrefix("WITH ")},
       |keep AS (SELECT shingle FROM sh GROUP BY shingle
       |  HAVING count(*) <= ${Dedup.DefaultMaxDf}),
       |shk AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
       |sz AS (SELECT doc_id, count(*) AS n FROM shk GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    count(*) AS c FROM shk a JOIN shk b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (SELECT doc_a, doc_b,
       |  round(CAST(c AS DOUBLE)/(sa.n + sb.n - c), 4) AS jaccard
       |FROM inter
       |JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
       |WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= $MinJaccard)""".stripMargin

  val neardupNgramSql: String =
    s"""WITH $NgramPairsCtes
       |SELECT doc_a, doc_b, jaccard FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- duplicate clusters over the near-dup pair graph --------------------

  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.dupClusters(neardupNgram(s, dir), idA = "doc_a", idB = "doc_b")

  /** Oracle: the same pair list (neardupNgramSql CTEs) closed into
    * connected components with a recursive CTE — cluster id = min id
    * reachable from each node (including itself).
    */
  val dedupClustersSql: String =
    s"""WITH RECURSIVE $NgramPairsCtes,
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (SELECT src, dst FROM edges
       |  UNION SELECT r.src, e.dst FROM reach r
       |    JOIN edges e ON r.dst = e.src)
       |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
       |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  // ---- benchmark contamination --------------------------------------------

  /** Docs with doc_id < [[BenchSplit]] play the held-out benchmark; the
    * rest are the training corpus checked for eval leakage.
    */
  val BenchSplit = 50

  def contaminationDocs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val d = docs(s, dir)
    TextOps.contamination(d.filter(col("doc_id") >= BenchSplit),
      d.filter(col("doc_id") < BenchSplit), "text", "doc_id", ShingleN)
  }

  /** The Bloom-prefiltered twin: bit-identical output by construction
    * (no false negatives; false positives die in the exact verify join),
    * so it shares [[contaminationSql]] — the DuckDB oracle knows nothing
    * about the bitset and must not.
    */
  def contaminationBloomDocs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val d = docs(s, dir)
    TextOps.contaminationBloom(d.filter(col("doc_id") >= BenchSplit),
      d.filter(col("doc_id") < BenchSplit), "text", "doc_id", ShingleN)
  }

  val contaminationSql: String =
    s"""$ShCte,
       |bench AS (SELECT DISTINCT shingle FROM sh
       |  WHERE doc_id < $BenchSplit),
       |corp AS (SELECT * FROM sh WHERE doc_id >= $BenchSplit)
       |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(count(b.shingle) AS BIGINT) AS n_contaminated,
       |  round(CAST(count(b.shingle) AS DOUBLE)/count(*), 4)
       |    AS contamination
       |FROM corp c LEFT JOIN bench b USING (shingle)
       |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  // ---- PII redaction -------------------------------------------------------

  /** The harness tables carry no real PII, so the query PLANTS
    * deterministic identifiers (an email from c_name, a phone from the
    * key) identically on both engines and proves the scrub fires on every
    * row — redaction itself is generic (emails/SSNs/phones/IPs; TextSpec
    * plants all four kinds). Original kept alongside for auditability.
    */
  def piiRedactCustomer(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val contact = concat(lit("reach "),
      regexp_replace(col("c_name"), "#", "."), lit("@example.com or "),
      format_string("%03d-%03d-%04d", pmod(col("c_custkey"), lit(1000)),
        pmod(col("c_custkey") * 7, lit(1000)),
        pmod(col("c_custkey"), lit(10000))))
    Tables.load(s, dir, "customer")
      .select(col("c_custkey"), contact.as("contact"),
        TextOps.redactPii(contact).as("contact_redacted"))
      .orderBy("c_custkey")
  }

  val piiRedactSql: String = {
    val contactSql = "'reach ' || replace(c_name, '#', '.') || " +
      "'@example.com or ' || printf('%03d-%03d-%04d', " +
      "c_custkey % 1000, (c_custkey * 7) % 1000, c_custkey % 10000)"
    s"""SELECT c_custkey, $contactSql AS contact,
       |  ${TextOps.redactPiiSql(contactSql)} AS contact_redacted
       |FROM customer ORDER BY c_custkey""".stripMargin
  }

  // ---- MinHash+LSH / SimHash / fingerprints -------------------------------
  // Registered in crossEngine mode (md5-prefix 60-bit hashes — the ONLY
  // change vs the xxhash64 production default; identical plan shape), so
  // each carries a full DuckDB oracle instead of a rows-only check.

  def neardupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDuplicates(docs(s, dir), "text", "doc_id", ShingleN,
      MinhashK, LshBands, MinJaccard, crossEngine = true)

  /** Mirror: one 32-bit md5-prefix base per shingle, k=128 universal-hash
    * slots (the literal A/B coefficient lists are the SAME
    * Dedup.minhashCoeffs values the Spark plan embeds), 32 bands of 4
    * slots keyed by the ":"-joined decimal rendering, candidate pairs
    * from band-key collisions, then the same count-based Jaccard
    * verification the n-gram oracle uses.
    */
  lazy val neardupMinhashSql: String = {
    val r = MinhashK / LshBands
    val (as, bs) = Dedup.minhashCoeffs(MinhashK)
    s"""$ShCte,
       |hb AS (SELECT doc_id,
       |    ('0x' || substr(md5('mh:' || shingle), 1, 8))::BIGINT AS h
       |  FROM sh),
       |co AS (SELECT ${as.mkString("[", ", ", "]")} AS al,
       |    ${bs.mkString("[", ", ", "]")} AS bl),
       |sig AS (SELECT doc_id, i,
       |    min((al[i+1]*h + bl[i+1]) % ${Dedup.MinhashP}) AS m
       |  FROM hb, co, range($MinhashK) t(i) GROUP BY doc_id, i),
       |bands AS (SELECT doc_id, i // $r AS band,
       |    string_agg(m::VARCHAR, ':' ORDER BY i) AS bh
       |  FROM sig GROUP BY doc_id, i // $r),
       |bx AS (SELECT a.doc_id, a.band, a.bh, b.bh AS bx
       |  FROM bands a JOIN bands b ON b.doc_id = a.doc_id
       |    AND b.band = (a.band + 1) % $LshBands),
       |n1 AS (SELECT band, bh, count(*) AS n FROM bands
       |  GROUP BY band, bh),
       |keyed AS (SELECT k.doc_id, k.band, k.bh,
       |    CASE WHEN n1.n <= ${Dedup.LshMaxBucket} THEN ''
       |         ELSE k.bx END AS ext
       |  FROM bx k JOIN n1 ON n1.band = k.band AND n1.bh = k.bh),
       |ok AS (SELECT band, bh, ext FROM keyed GROUP BY band, bh, ext
       |  HAVING count(*) <= ${Dedup.LshMaxBucket}),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM keyed a JOIN keyed b
       |    ON a.band = b.band AND a.bh = b.bh AND a.ext = b.ext
       |      AND a.doc_id < b.doc_id
       |  JOIN ok ON ok.band = a.band AND ok.bh = a.bh
       |    AND ok.ext = a.ext),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT doc_a, doc_b, count(*) AS c
       |  FROM cand JOIN sh a ON a.doc_id = doc_a
       |  JOIN sh b ON b.doc_id = doc_b AND b.shingle = a.shingle
       |  GROUP BY doc_a, doc_b)
       |SELECT doc_a, doc_b,
       |  round(CAST(c AS DOUBLE)/(sa.n + sb.n - c), 4) AS jaccard
       |FROM inter
       |JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
       |WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= $MinJaccard
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  def neardupMinhashCollapsed(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDuplicatesCollapsed(docs(s, dir), "text", "doc_id", ShingleN,
      MinhashK, LshBands, MinJaccard, crossEngine = true)

  /** Mirror of the collapsed pipeline: the exact-dup collapse (min id
    * per normalized content hash — the dedup_exact key) feeds the SAME
    * hb/co/sig/bands/cand/inter chain as [[neardupMinhashSql]], computed
    * over the representatives' raw text, with each side's class size
    * joined onto the surviving pairs.
    */
  lazy val neardupMinhashCollapsedSql: String = {
    val r = MinhashK / LshBands
    val (as, bs) = Dedup.minhashCoeffs(MinhashK)
    s"""WITH cls AS (SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
       |    CAST(count(*) AS BIGINT) AS sz
       |  FROM (SELECT doc_id, md5($NormSql) AS h FROM documents)
       |  GROUP BY h),
       |toks AS (SELECT c.doc_id, c.sz,
       |    string_split_regex(trim(d.text), '\\s+') AS w
       |  FROM cls c JOIN documents d ON d.doc_id = c.doc_id),
       |sh AS (SELECT DISTINCT doc_id, shingle FROM (
       |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
       |    for i in range(1, len(w))]) AS shingle FROM toks)),
       |hb AS (SELECT doc_id,
       |    ('0x' || substr(md5('mh:' || shingle), 1, 8))::BIGINT AS h
       |  FROM sh),
       |co AS (SELECT ${as.mkString("[", ", ", "]")} AS al,
       |    ${bs.mkString("[", ", ", "]")} AS bl),
       |sig AS (SELECT doc_id, i,
       |    min((al[i+1]*h + bl[i+1]) % ${Dedup.MinhashP}) AS m
       |  FROM hb, co, range($MinhashK) t(i) GROUP BY doc_id, i),
       |bands AS (SELECT doc_id, i // $r AS band,
       |    string_agg(m::VARCHAR, ':' ORDER BY i) AS bh
       |  FROM sig GROUP BY doc_id, i // $r),
       |bx AS (SELECT a.doc_id, a.band, a.bh, b.bh AS bx
       |  FROM bands a JOIN bands b ON b.doc_id = a.doc_id
       |    AND b.band = (a.band + 1) % $LshBands),
       |n1 AS (SELECT band, bh, count(*) AS n FROM bands
       |  GROUP BY band, bh),
       |keyed AS (SELECT k.doc_id, k.band, k.bh,
       |    CASE WHEN n1.n <= ${Dedup.LshMaxBucket} THEN ''
       |         ELSE k.bx END AS ext
       |  FROM bx k JOIN n1 ON n1.band = k.band AND n1.bh = k.bh),
       |ok AS (SELECT band, bh, ext FROM keyed GROUP BY band, bh, ext
       |  HAVING count(*) <= ${Dedup.LshMaxBucket}),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM keyed a JOIN keyed b
       |    ON a.band = b.band AND a.bh = b.bh AND a.ext = b.ext
       |      AND a.doc_id < b.doc_id
       |  JOIN ok ON ok.band = a.band AND ok.bh = a.bh
       |    AND ok.ext = a.ext),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT doc_a, doc_b, count(*) AS c
       |  FROM cand JOIN sh a ON a.doc_id = doc_a
       |  JOIN sh b ON b.doc_id = doc_b AND b.shingle = a.shingle
       |  GROUP BY doc_a, doc_b)
       |SELECT doc_a, doc_b,
       |  round(CAST(c AS DOUBLE)/(sa.n + sb.n - c), 4) AS jaccard,
       |  ca.sz AS size_a, cb.sz AS size_b
       |FROM inter
       |JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
       |JOIN cls ca ON ca.doc_id = doc_a JOIN cls cb ON cb.doc_id = doc_b
       |WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= $MinJaccard
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  def simhashDocs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(docs(s, dir), "text", "doc_id", crossEngine = true)

  /** Mirror: 60 md5-prefix bits per normalized word, ±1 bit-sums via
    * range(60), sign bits repacked into the fingerprint.
    */
  lazy val simhashSql: String =
    s"""WITH words AS (SELECT doc_id,
       |    ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
       |  FROM (SELECT doc_id, unnest(string_split($NormSql, ' ')) AS w
       |    FROM documents)),
       |bs AS (SELECT doc_id, i,
       |    sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM words, range(60) t(i) GROUP BY doc_id, i)
       |SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << i)
       |  ELSE 0 END) AS BIGINT) AS simhash
       |FROM bs GROUP BY doc_id ORDER BY doc_id""".stripMargin

  def fingerprintDocs(s: SparkSession, dir: String): DataFrame =
    Dedup.fingerprints(docs(s, dir), "text", "doc_id", n = 3, window = 4,
      crossEngine = true)

  /** Mirror: md5-prefix hashes of NORMALIZED 3-gram shingles (the
    * fingerprint op lowercases; the Jaccard shingle CTE does not), then
    * the same clipped 4-wide window-min and dedup. DuckDB's ROWS BETWEEN
    * clips at the partition end exactly like Spark's rowsBetween.
    */
  lazy val fingerprintSql: String =
    s"""WITH t AS (SELECT doc_id, string_split($NormSql, ' ') AS w
       |  FROM documents),
       |x AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM t),
       |p AS (SELECT doc_id, i AS pos,
       |    ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
       |      1, 15))::BIGINT AS h
       |  FROM x),
       |f AS (SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp FROM p)
       |SELECT DISTINCT doc_id, fp FROM f
       |ORDER BY doc_id, fp""".stripMargin

  // ---- language ID ---------------------------------------------------------

  def langId(s: SparkSession, dir: String): DataFrame =
    TextOps.langIdConfusion(docs(s, dir), "text", "lang")

  val langIdSql: String = {
    val scores = TextOps.Stopwords.map { case (l, sw) =>
      l -> ("len(list_intersect(w, [" +
        sw.map(x => s"'$x'").mkString(", ") + "]))")
    }
    val g = scores.map(_._2).mkString("greatest(", ", ", ")")
    val cases = scores.map { case (l, e) =>
      s"WHEN $e = g AND $e > 0 THEN '$l'"
    }.mkString(" ")
    s"""$ToksCte,
       |scored AS (SELECT lang, $g AS g, w FROM
       |  (SELECT lang, w FROM toks JOIN documents USING (doc_id))),
       |pred AS (SELECT lang, CASE $cases ELSE 'und' END AS predicted
       |  FROM scored)
       |SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n_docs
       |FROM pred GROUP BY lang, predicted
       |ORDER BY lang, predicted""".stripMargin
  }

  // ---- quality scoring -----------------------------------------------------

  def quality(s: SparkSession, dir: String): DataFrame =
    TextOps.qualityScores(docs(s, dir), "text", "doc_id", limit = 100)

  val qualitySql: String = {
    val en = TextOps.Stopwords.head._2.map(x => s"'$x'").mkString(", ")
    s"""$ToksCte,
       |m AS (SELECT doc_id,
       |    CAST(len(w) AS BIGINT) AS n_words,
       |    round(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
       |      / len(w), 4) AS avg_word_len,
       |    round(CAST(len(list_intersect(w, [$en])) AS DOUBLE)/len(w), 4)
       |      AS stop_ratio,
       |    round(1.0 - CAST(len(list_distinct(w)) AS DOUBLE)/len(w), 4)
       |      AS dup_ratio
       |  FROM toks JOIN documents USING (doc_id))
       |SELECT doc_id, n_words, avg_word_len, stop_ratio, dup_ratio,
       |  floor((least(1.0, CAST(n_words AS DOUBLE)/50.0)*0.3 +
       |    stop_ratio*0.3 + (1.0 - dup_ratio)*0.4) * 10000) / 10000 AS score
       |FROM m ORDER BY score DESC, doc_id LIMIT 100""".stripMargin
  }

  // ---- text fixing (NFC + control-char + whitespace hygiene) ----------------

  /** Planted denormalized rows unioned into the corpus by BOTH engines —
    * the synthetic corpus is pure ASCII (0 of 500 rows change under the
    * fix chain at sf0.01), so without plants the NFC gate would pass
    * vacuously. Covers: decomposed accents (NFD), a no-op row, C0/DEL
    * control chars + a space run, singleton canonical mappings (OHM →
    * GREEK OMEGA, ANGSTROM → A-RING), and combining-mark canonical
    * REORDERING (acute ccc=230 after cedilla ccc=202 must compose to
    * U+0229 + acute). md5(fixed) comparing clean across engines proves
    * Java Normalizer and DuckDB utf8proc agree byte-for-byte on each.
    */
  val NormPlanted: Seq[(Long, String)] = Seq(
    1000000001L -> "Cafe\u0301 du cre\u0300me bru\u0302le\u0301e",
    1000000002L -> "already clean NFC text",
    1000000003L -> "bell\u0007 and\u0001ctl and DEL\u007f  chars",
    1000000004L -> "double  spaces   collapse      here",
    1000000005L -> "ohm sign \u2126 and angstrom \u212b",
    1000000006L -> "combining e\u0301\u0327 order test",
  )

  def normalizeText(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{length, md5}
    val planted = s.createDataFrame(NormPlanted).toDF("doc_id", "text")
    val fixed = TextOps.fixText(col("text"))
    docs(s, dir).select(col("doc_id"), col("text"))
      .unionByName(planted)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("len_before"),
        length(fixed).cast("long").as("len_after"),
        (col("text") =!= fixed).cast("int").as("changed"),
        md5(fixed).as("fixed_md5"))
      .orderBy("doc_id")
  }

  val normalizeTextSql: String = {
    val vals = NormPlanted.map { case (i, t) =>
      s"(CAST($i AS BIGINT), '${t.replace("'", "''")}')"
    }.mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT * FROM (VALUES $vals) AS v(doc_id, text)),
       |f AS (SELECT doc_id, text, ${TextOps.fixTextSql("text")} AS fixed
       |  FROM d)
       |SELECT doc_id, CAST(length(text) AS BIGINT) AS len_before,
       |  CAST(length(fixed) AS BIGINT) AS len_after,
       |  CAST(text != fixed AS INT) AS changed, md5(fixed) AS fixed_md5
       |FROM f ORDER BY doc_id""".stripMargin
  }

  // ---- model-based quality filter (hashed linear classifier) ----------------

  def classifierQuality(s: SparkSession, dir: String): DataFrame =
    Curation.classifierScore(docs(s, dir))

  /** Mirror: same hashed-bucket weights (md5-prefix bucket, Knuth
    * multiplicative spread over [-98, 98]), exact integer sum, one final
    * division + round(,4).
    */
  val classifierQualitySql: String = {
    val b = Curation.ClassifierBuckets
    val m = Curation.ClassifierMult
    val mod = Curation.ClassifierMod
    val half = (Curation.ClassifierMod - 1) / 2
    val thr = Curation.ClassifierThreshold
    s"""WITH t AS (SELECT doc_id,
       |    string_split_regex(trim(text), '\\s+') AS w FROM documents),
       |s AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_toks,
       |    CAST(list_sum(list_transform(w, x ->
       |      ((('0x' || substr(md5(x), 1, 6))::BIGINT % $b) * $m) % $mod
       |        - $half)) AS BIGINT) AS raw
       |  FROM t)
       |SELECT doc_id, n_toks, raw,
       |  round(CAST(raw AS DOUBLE) / ($half.0 * n_toks), 4) AS margin,
       |  CAST(round(CAST(raw AS DOUBLE) / ($half.0 * n_toks), 4) >= $thr
       |    AS INT) AS kept
       |FROM s ORDER BY doc_id""".stripMargin
  }

  // ---- token counting ------------------------------------------------------

  def tokenCounts(s: SparkSession, dir: String): DataFrame =
    TextOps.tokenCounts(docs(s, dir), "text", "source")

  val tokenCountsSql: String =
    s"""WITH t AS (SELECT source,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ws,
       |    CAST(len(regexp_extract_all(text, '${TextOps.TokenRe}')) AS BIGINT) AS re,
       |    CAST(length(text) AS BIGINT) AS ch
       |  FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(ws) AS BIGINT) AS ws_tokens,
       |  CAST(sum(re) AS BIGINT) AS regex_tokens,
       |  round(CAST(sum(ch) AS DOUBLE)/sum(re), 4) AS chars_per_token,
       |  round(CAST(sum(re) AS DOUBLE)/count(*), 4) AS tokens_per_doc
       |FROM t GROUP BY source ORDER BY source""".stripMargin

  // ---- corpus vocabulary ---------------------------------------------------

  /** Top-k vocabulary size. */
  val VocabK = 100

  def vocab(s: SparkSession, dir: String): DataFrame =
    TextOps.vocabulary(docs(s, dir), "text", VocabK)

  val vocabSql: String =
    s"""WITH w AS (SELECT unnest(string_split_regex(trim(text), '\\s+'))
       |  AS word FROM documents)
       |SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w
       |GROUP BY word ORDER BY freq DESC, word LIMIT $VocabK""".stripMargin

  // ---- TF-IDF --------------------------------------------------------------

  /** Per-document top terms kept. */
  val TfidfK = 3

  def tfidf(s: SparkSession, dir: String): DataFrame =
    TextOps.tfidfTopTerms(docs(s, dir), "text", "doc_id", TfidfK)

  val tfidfSql: String =
    s"""WITH w AS (SELECT doc_id,
       |  unnest(string_split_regex(trim(text), '\\s+')) AS word
       |  FROM documents),
       |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
       |  FROM w GROUP BY 1, 2),
       |dfreq AS (SELECT word, CAST(count(*) AS BIGINT) AS df
       |  FROM tf GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
       |sc AS (SELECT doc_id, word, tf, df,
       |  round(CAST(tf AS DOUBLE) *
       |    (ln((n + 1.0)/(CAST(df AS DOUBLE) + 1.0)) + 1.0), 4) AS tfidf
       |  FROM tf JOIN dfreq USING (word), n),
       |r AS (SELECT *, CAST(rank() OVER (PARTITION BY doc_id
       |  ORDER BY tfidf DESC, word) AS BIGINT) AS rnk FROM sc)
       |SELECT doc_id, word, tf, df, tfidf, rnk FROM r WHERE rnk <= $TfidfK
       |ORDER BY doc_id, rnk, word""".stripMargin

  // ---- corpus stats --------------------------------------------------------

  def corpusStats(s: SparkSession, dir: String): DataFrame =
    TextOps.corpusStats(docs(s, dir), "text", "lang", "source")

  val corpusStatsSql: String = {
    val en = TextOps.Stopwords.head._2.map(x => s"'$x'").mkString(", ")
    s"""$ToksCte,
       |m AS (SELECT lang, source,
       |    CAST(length(text) AS BIGINT) AS ch,
       |    CAST(len(w) AS BIGINT) AS nw,
       |    CAST(len(list_intersect(w, [$en])) AS BIGINT) AS ns
       |  FROM toks JOIN documents USING (doc_id))
       |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(ch) AS BIGINT) AS total_chars,
       |  round(CAST(sum(ch) AS DOUBLE)/count(*), 4) AS avg_chars,
       |  round(CAST(sum(nw) AS DOUBLE)/count(*), 4) AS avg_words,
       |  round(CAST(sum(ns) AS DOUBLE)/sum(nw), 4) AS stop_ratio
       |FROM m GROUP BY lang, source ORDER BY lang, source""".stripMargin
  }

  // ---- semantic dedup (embeddings x text) ---------------------------------

  /** Cosine threshold for semantic candidates (matches SimQueries). */
  val SemanticTau = 0.4

  /** The exact all-pairs tier is DEMOTED to an audit tool: the registered
    * query runs on a deterministic half-corpus sample (vec_id % 2 = 0) —
    * the role an O(n²) verifier has at 100 TB is spot-auditing the ANN
    * tier's recall on a bounded slice, never scanning the full corpus.
    * The full-corpus exact pass remains available as
    * Curation.semanticDedupPairs and is what the SimSpec/TextSpec recall
    * measurements call directly.
    */
  val AuditMod = 2

  private def embSample(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .filter(pmod(col("vec_id"), lit(AuditMod)) === 0)

  def semanticDedup(s: SparkSession, dir: String): DataFrame =
    Curation.semanticDedupPairs(docs(s, dir), embSample(s, dir),
      minCos = SemanticTau, shingleN = ShingleN, minJaccard = MinJaccard)

  val semanticDedupSql: String = {
    val cos = "list_inner_product(a.ve, b.ve) / " +
      "(sqrt(list_inner_product(a.ve, a.ve)) * " +
      "sqrt(list_inner_product(b.ve, b.ve)))"
    val inter = "CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)"
    val jac = s"$inter/(len(sa.shs) + len(sb.shs) - $inter)"
    s"""$ShCte,
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
       |  FROM embeddings WHERE vec_id % $AuditMod = 0),
       |cand AS (SELECT id_a, id_b, cos_sim FROM (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    round($cos, 4) AS cos_sim
       |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
       |  WHERE cos_sim >= $SemanticTau),
       |sets AS (SELECT doc_id, list(shingle) AS shs FROM sh
       |  GROUP BY doc_id)
       |SELECT id_a, id_b, cos_sim, round($jac, 4) AS jaccard,
       |  ($jac >= $MinJaccard) AS agree
       |FROM cand JOIN sets sa ON sa.doc_id = id_a
       |JOIN sets sb ON sb.doc_id = id_b
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** The banded-LSH tier of the same surface — oracle-checked since
    * round 5: candidates over the INTEGER-literal hyperplane family
    * (Similarity.lshPlanes — the rpMatrix determinism pattern), then
    * the identical exact-cosine + lexical verification. The full band
    * matrix AND the hot-bucket cap render into the DuckDB mirror, so
    * the candidate set, the cosine filter, and the Jaccard confirmation
    * are all engine-reproducible; recall stays spec-gated in
    * SimSpec/TextSpec.
    *
    * Two registered regimes (the r5 scale-gate verdict: the τ=0.4
    * full-corpus variant measured ~n² at 10× rows — sign-LSH at θ≈66°
    * has ρ≈0.67 and NO banding makes it sub-quadratic):
    *
    *  - `semantic_dedup_ann_pairs` — the τ=0.4 AUDIT tier, demoted to
    *    the same deterministic half-corpus sample as the exact tier
    *    (the role a shallow-threshold sweep has at 100 TB is
    *    spot-auditing a bounded slice) and guarded by
    *    [[AnnAuditMaxBucket]]: above the cap a (band,bucket) cell is
    *    background density, not a dup cluster, and is skipped before
    *    the pair join can go quadratic.
    *  - `semantic_dedup_ann_prod` — the PRODUCTION regime the scaladoc
    *    on cosineNearDupPairsLsh derives (cos ≥ 0.9 ⇒ θ ≤ 26°,
    *    p ≥ 0.86): 8 bands × 8 planes passes ≈3% of background pairs
    *    at recall ≈0.99, capped at [[AnnProdMaxBucket]]. On THIS
    *    corpus the result is expected-empty — the uniform synthetic
    *    embeddings contain zero cos ≥ 0.8 pairs (measured; the planted
    *    near-dups sit at 0.4–0.5) — and the oracle recomputes the full
    *    banding+confirm pipeline to the same empty answer. That the
    *    empty answer is the detector WORKING (not a dead plan) is
    *    SimSpec's planted-cluster test: the same 8×8 config recalls
    *    every planted cos > 0.9 pair, with and without the cap.
    */
  val AnnBands = 12
  val AnnPlanesPerBand = 3
  val AnnSeed = 7L

  /** Audit cap: no bucket binds at sf ≤ 0.1 (half-corpus of 1 000 over
    * 2³ buckets/band ⇒ E[bucket] ≈ 125, max ≈ 160), so the sf0.01
    * oracle hash and the sf0.1 bench row are unchanged; at sf1 the
    * 1 250-row background buckets hit the cap and the would-be-n² pair
    * join is skipped instead of executed.
    */
  val AnnAuditMaxBucket = 300

  /** Prod cap FLOOR: a cell of > 64 vectors at 8-plane depth (1/256 of
    * key space) is ≥ 16× the uniform background density of a
    * 1 000-vector corpus. The effective cap is [[annProdCap]] — the
    * same 16×-background rule made EXPLICIT in the corpus size: the
    * round-8 sf1 recall gate (RECALL_sf1.json) measured that the fixed
    * 64 sits BELOW the background bucket density of a 20 k-vector
    * corpus (E[bucket] ≈ 78), so every bucket was dropped and prod
    * recall collapsed to 0.03 even for an under-cap planted cluster. A
    * hot-bucket cap must scale with n/2^planes or at 100 TB it deletes
    * the detector. */
  val AnnProdMaxBucket = 64

  /** Adaptive prod cap: 16 × the uniform background bucket density
    * ceil(n / 2^planesPerBand), floored at [[AnnProdMaxBucket]] (the
    * sf0.01 calibration — at n = 1 000 the formula reproduces exactly
    * 64, so the driver oracle hash is unchanged). Mirrored verbatim as
    * a scalar subquery in the oracle SQL.
    */
  def annProdCap(n: Long): Int =
    math.max(AnnProdMaxBucket,
      16 * math.ceil(n / math.pow(2, AnnProdPlanesPerBand)).toInt)
  val AnnProdTau = 0.9
  val AnnProdBands = 8
  val AnnProdPlanesPerBand = 8

  def semanticDedupAnn(s: SparkSession, dir: String): DataFrame =
    Curation.semanticDedupPairsAnn(docs(s, dir), embSample(s, dir),
      minCos = SemanticTau, shingleN = ShingleN, minJaccard = MinJaccard,
      dim = SimQueries.Dim, bands = AnnBands,
      planesPerBand = AnnPlanesPerBand, seed = AnnSeed,
      maxBucket = AnnAuditMaxBucket)

  def semanticDedupAnnProd(s: SparkSession, dir: String): DataFrame = {
    val embs = Tables.load(s, dir, "embeddings")
    Curation.semanticDedupPairsAnn(docs(s, dir), embs,
      minCos = AnnProdTau,
      shingleN = ShingleN, minJaccard = MinJaccard,
      dim = SimQueries.Dim, bands = AnnProdBands,
      planesPerBand = AnnProdPlanesPerBand, seed = AnnSeed,
      maxBucket = annProdCap(embs.count()))
  }

  // ---- semantic dedup, cluster-pruned tier (SemDeDup) ---------------------

  /** Cluster count for the kmeans dedup tier, adaptive like
    * [[annProdCap]]: ~1k vectors per cluster keeps within-cluster pair
    * volume Σ m² ≈ n·m linear-ish in corpus size (the SemDeDup k-scales-
    * with-n posture), floored at 16 so small corpora still partition.
    */
  def kmDedupK(n: Long): Int =
    math.max(16, math.ceil(n / 1024.0).toInt)

  /** The registered kmeans tier runs in the PROD regime (cos ≥
    * [[AnnProdTau]], like `semantic_dedup_ann_prod`): cluster pruning
    * is a high-cosine instrument — τ = 0.9 pairs are genuinely CLOSE in
    * euclidean space and co-cluster; the harness corpus' τ ≈ 0.4 "near"
    * dups sit at ~60° where a Voronoi boundary between them is the
    * normal case, not the failure case (measured: recall 0.26 at τ=0.4
    * vs 1.0 on planted high-cos clusters — same shallow-regime split
    * the LSH tier documents on [[Similarity.cosineNearDupPairsLsh]]).
    */
  def semanticDedupKmeans(s: SparkSession, dir: String): DataFrame = {
    val embs = Tables.load(s, dir, "embeddings")
    Curation.semanticDedupPairsKmeans(docs(s, dir), embs,
      minCos = AnnProdTau, shingleN = ShingleN, minJaccard = MinJaccard,
      k = kmDedupK(embs.count()), iters = 10, seed = AnnSeed)
  }

  /** Expected-empty gate fencing the rows-only kmeans tier (centroids
    * have no SQL rendering — the ann_ivf gate pattern):
    *
    *  - `not_in_exact`: an emitted pair between AUDIT-SAMPLE ids (both
    *    even — the slice the oracle-checked exact tier covers) whose
    *    (cos_sim, jaccard, agree) row is absent from the exact tier
    *    (τ ≥ 0.9 pairs are a fortiori τ ≥ 0.4 pairs, scored by the
    *    same codegen'd math) — catches cosine/verify drift.
    *  - `recall_below_floor`: planted ground truth, the non-vacuous
    *    leg. The GenPlant cl_norm family (16 members, pairwise cos ≈
    *    0.9975, family-private vocabulary) is merged into the corpus;
    *    the tier must recover ≥ [[KmDedupRecallFloor]] of its 120
    *    within-family pairs — a trainer/assignment/cap regression that
    *    splits even a radius-0.05 ball trips this.
    *  - `vacuous_truth`: the planted truth going missing surfaces
    *    instead of passing.
    */
  val KmDedupRecallFloor = 0.95

  def semanticDedupKmeansCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.tools.GenPlant
    val plantedE = GenPlant.plantedEmbeddings(s)
      .filter(col("label") === 3)
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val plantedD = GenPlant.plantedDocs(s)
      .filter(col("doc_id") >= GenPlant.idOf(3, 0) &&
        col("doc_id") < GenPlant.idOf(4, 0))
    val embs = Tables.load(s, dir, "embeddings").unionByName(plantedE)
    val d = docs(s, dir).unionByName(plantedD
      .select(docs(s, dir).columns.map(col): _*))
    val km = Curation.semanticDedupPairsKmeans(d, embs,
        minCos = AnnProdTau, shingleN = ShingleN,
        minJaccard = MinJaccard, k = kmDedupK(embs.count()), iters = 10,
        seed = AnnSeed)
      .localCheckpoint(true)
    val subsetViol = km
      .filter(col("id_a") < GenPlant.PlantBase &&
        pmod(col("id_a"), lit(AuditMod)) === 0 &&
        pmod(col("id_b"), lit(AuditMod)) === 0)
      .join(semanticDedup(s, dir),
        Seq("id_a", "id_b", "cos_sim", "jaccard", "agree"), "left_anti")
      .select(lit("not_in_exact").as("check"), col("id_a"), col("id_b"))
    val size3 = GenPlant.EmbClusters.find(_._1 == 3).get._2
    val truth = size3.toLong * (size3 - 1) / 2
    val hit = km.filter(col("id_a") >= GenPlant.PlantBase &&
      col("id_b") < GenPlant.idOf(4, 0)).count()
    val extra =
      if (truth == 0L) Seq(("vacuous_truth", -1L, -1L))
      else if (hit.toDouble / truth < KmDedupRecallFloor)
        Seq(("recall_below_floor", hit, truth))
      else Seq.empty[(String, Long, Long)]
    subsetViol.unionByName(extra.toDF("check", "id_a", "id_b"))
      .orderBy("check", "id_a", "id_b")
  }

  val semanticDedupKmeansCheckSql: String =
    """SELECT CAST(NULL AS VARCHAR) AS check, CAST(NULL AS BIGINT) AS id_a,
      |  CAST(NULL AS BIGINT) AS id_b
      |WHERE false""".stripMargin

  /** DuckDB mirror of one ANN regime: identical plane family, sign
    * convention, hot-bucket cap (QUALIFY over the banding CTE), cosine
    * round/threshold, and lexical confirm as the Spark path.
    */
  private def annSqlFor(tau: Double, bands: Int, planesPerBand: Int,
                        maxBucket: String, auditMod: Option[Int]): String = {
    val planes = graft.sim.Similarity.lshPlanes(bands, planesPerBand,
      SimQueries.Dim, AnnSeed)
    // one struct per band; each bucket packs planesPerBand sign bits
    // (>= 0 convention, c/1000.0 literals) exactly as intBucketExpr does
    val bandStructs = (0 until bands).map { b =>
      val bits = (0 until planesPerBand).map { j =>
        val arr = planes(b * planesPerBand + j)
          .map(c => s"$c/1000.0").mkString("[", ", ", "]")
        s"(CASE WHEN list_inner_product(ve, $arr) >= 0 " +
          s"THEN ${1L << j} ELSE 0 END)"
      }
      s"{'band': $b, 'bucket': CAST(${bits.mkString(" + ")} AS BIGINT)}"
    }.mkString("[", ", ", "]")
    val vWhere = auditMod.map(m => s" WHERE vec_id % $m = 0").getOrElse("")
    val cos = "list_inner_product(va.ve, vb.ve) / " +
      "(sqrt(list_inner_product(va.ve, va.ve)) * " +
      "sqrt(list_inner_product(vb.ve, vb.ve)))"
    val inter = "CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)"
    val jac = s"$inter/(len(sa.shs) + len(sb.shs) - $inter)"
    s"""$ShCte,
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
       |  FROM embeddings$vWhere),
       |kb AS (SELECT vec_id AS id, u.band AS band, u.bucket AS bucket
       |  FROM (SELECT vec_id, unnest($bandStructs) AS u FROM v)
       |  QUALIFY count(*) OVER (PARTITION BY u.band, u.bucket)
       |    <= $maxBucket),
       |cand0 AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM kb a JOIN kb b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
       |cand AS (SELECT id_a, id_b, cos_sim FROM (
       |  SELECT id_a, id_b, round($cos, 4) AS cos_sim
       |  FROM cand0 JOIN v va ON va.vec_id = id_a
       |  JOIN v vb ON vb.vec_id = id_b)
       |  WHERE cos_sim >= $tau),
       |sets AS (SELECT doc_id, list(shingle) AS shs FROM sh
       |  GROUP BY doc_id)
       |SELECT id_a, id_b, cos_sim, round($jac, 4) AS jaccard,
       |  ($jac >= $MinJaccard) AS agree
       |FROM cand JOIN sets sa ON sa.doc_id = id_a
       |JOIN sets sb ON sb.doc_id = id_b
       |ORDER BY id_a, id_b""".stripMargin
  }

  lazy val semanticDedupAnnSql: String =
    annSqlFor(SemanticTau, AnnBands, AnnPlanesPerBand,
      AnnAuditMaxBucket.toString, Some(AuditMod))

  /** The prod cap as the same adaptive formula, in-engine: the scalar
    * subquery recomputes annProdCap from the table's own row count, so
    * both engines derive the identical cap at ANY corpus size.
    */
  lazy val semanticDedupAnnProdSql: String =
    annSqlFor(AnnProdTau, AnnProdBands, AnnProdPlanesPerBand,
      s"GREATEST($AnnProdMaxBucket, 16 * CAST(CEIL(" +
        s"(SELECT count(*) FROM embeddings) / " +
        s"${1 << AnnProdPlanesPerBand}.0) AS BIGINT))", None)

  // ---- unigram LM surprisal (CCNet-style quality signal) ------------------

  def lmSurprisal(s: SparkSession, dir: String): DataFrame =
    TextOps.unigramSurprisal(docs(s, dir), "text", "doc_id")

  /** Mirror of the decimal-summed surprisal: per-token round(−ln p, 6)
    * summed as DECIMAL(18,6) (order-independent), averaged, rounded 4 dp.
    */
  val lmSurprisalSql: String =
    s"""WITH toks AS (SELECT doc_id,
       |    unnest(string_split_regex(trim(text), '\\s+')) AS word
       |  FROM documents),
       |freq AS (SELECT word, count(*) AS ct FROM toks GROUP BY word),
       |tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM toks)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       |  round(CAST(sum(CAST(round(-ln(CAST(ct AS DOUBLE) / total), 6)
       |    AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_surprisal
       |FROM toks JOIN freq USING (word), tot
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- DSIR importance weights (target = the English slice) ---------------

  val DsirBuckets = 64

  def importanceWeights(s: SparkSession, dir: String): DataFrame =
    Curation.importanceWeights(docs(s, dir),
      org.apache.spark.sql.functions.col("lang") === "en",
      buckets = DsirBuckets)

  /** Mirror: bigram bag with multiplicity, md5-prefix bucket, add-one
    * smoothed log-ratio rounded 6 dp summed as DECIMAL.
    */
  val importanceWeightsSql: String =
    s"""$ToksCte,
       |f AS (SELECT doc_id, lang = 'en' AS is_target,
       |    ('0x' || substr(md5(feat), 1, 6))::BIGINT % $DsirBuckets
       |      AS bucket
       |  FROM (SELECT doc_id, lang, unnest([w[i] || ' ' || w[i+1]
       |      for i in range(1, len(w))]) AS feat
       |    FROM toks JOIN documents USING (doc_id))),
       |bc AS (SELECT bucket, count(*) AS q_ct,
       |    count(CASE WHEN is_target THEN 1 END) AS p_ct
       |  FROM f GROUP BY bucket),
       |tot AS (SELECT sum(q_ct) AS q_tot, sum(p_ct) AS p_tot FROM bc),
       |sc AS (SELECT bucket,
       |    CAST(round(ln(CAST(p_ct + 1 AS DOUBLE) /
       |        CAST(p_tot + $DsirBuckets AS DOUBLE)) -
       |      ln(CAST(q_ct + 1 AS DOUBLE) /
       |        CAST(q_tot + $DsirBuckets AS DOUBLE)), 6)
       |      AS DECIMAL(18,6)) AS score
       |  FROM bc, tot)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       |  round(CAST(sum(score) AS DOUBLE), 4) AS log_weight
       |FROM f JOIN sc USING (bucket)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- domain-mixture rebalancing plan ------------------------------------

  def mixturePlan(s: SparkSession, dir: String): DataFrame =
    Curation.mixturePlan(docs(s, dir))

  val mixturePlanSql: String =
    s"""WITH agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(string_split_regex(trim(text), '\\s+')))
       |      AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |tot AS (SELECT sum(n_tokens) AS tot, min(n_tokens) AS min_toks,
       |    count(*) AS k FROM agg)
       |SELECT source, n_docs, n_tokens,
       |  round(CAST(n_tokens AS DOUBLE) / tot, 4) AS cur_share,
       |  round(1.0 / k, 4) AS target_share,
       |  CAST(min_toks AS BIGINT) AS budget_tokens,
       |  round(CAST(min_toks AS DOUBLE) / n_tokens, 4) AS keep_rate
       |FROM agg, tot ORDER BY source""".stripMargin

  // ---- bounded streaming curation ------------------------------------------

  /** The streaming curation stage (StreamingOps.curateStream: stateless
    * lang/quality filters + watermark-bounded exact dedup) run BOUNDED
    * over the documents table as a file stream — the text-side twin of
    * stream_sessions_bounded, putting the streaming ingest path under
    * the driver's hash gate. Event time is synthetic (doc_id seconds
    * from an epoch) and the watermark covers the whole corpus span, so
    * the admitted CONTENT set equals the batch filters + exact dedup;
    * the output is the sorted content-hash set because within one
    * micro-batch dropDuplicates keeps an engine-ordered representative —
    * the hash SET is deterministic, the keeper row is not.
    */
  def curatedStreamBounded(s: SparkSession, dir: String): DataFrame = {
    val schema = Tables.load(s, dir, "documents").schema
    graft.streaming.StreamGate("curate_bounded", s"$dir/documents.parquet",
      (gs, drop) => graft.streaming.StreamingOps.curateStream(
        gs.readStream.schema(schema).parquet(drop)
          .withColumn("ts", org.apache.spark.sql.functions.expr(
            "timestampadd(SECOND, doc_id, timestamp'2024-01-01 00:00:00')")),
        "text", "ts", Curation.DefaultMinScore,
        watermarkDelay = "365 days"),
      d => d.rows.select("content_hash").orderBy("content_hash")).run(s)
  }

  /** Memoized standing-corpus / benchmark artifacts shared by the
    * streaming ingest gates (decontam / neardup / front door): the
    * benchmark shingle set + its Bloom bitset, and the corpus-side
    * index (content-hash set, stop-shingle hot list, capped postings
    * with per-doc sizes). The gates' scaladoc already states the
    * production posture — these are warehouse tables materialized ONCE
    * per corpus version and reused every batch — and this memo makes
    * that true inside a sweep too: before it, each of the ~3 ingest
    * gates re-derived the same artifacts from the same (dir, content)
    * input per invocation (the evRange/stagedTimeSliced redundancy
    * class). Keyed by (session identity, dir, max part mtime, bytes,
    * part count, artifact) — the in-place-rewrite-proof key evRange
    * uses — and bounded the same way. Hash-neutral by construction:
    * the cached frames are localCheckpoint'd results of deterministic
    * plans the callers previously built inline.
    */
  private val artifactCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, String, Long, Long, Int, String), AnyRef]

  private[queries] def memoArtifact[T <: AnyRef](s: SparkSession,
                                                 dir: String,
                                                 name: String)(
      build: => T): T = {
    val p = new java.io.File(s"$dir/documents.parquet")
    val parts = Option(p.listFiles())
      .map(_.filter(_.getName.endsWith(".parquet")).toSeq)
      .getOrElse(if (p.isFile) Seq(p) else Seq.empty)
    val key = (System.identityHashCode(s), dir,
      parts.map(_.lastModified()).maxOption.getOrElse(0L),
      parts.map(_.length()).sum, parts.size, name)
    Option(artifactCache.get(key)).map(_.asInstanceOf[T]).getOrElse {
      val v = build
      if (artifactCache.size >= 64) artifactCache.clear()
      artifactCache.putIfAbsent(key, v)
      v
    }
  }

  /** Distinct n-shingles of the benchmark slice (doc_id < BenchSplit). */
  private def benchShinglesMemo(s: SparkSession, dir: String,
                                n: Int): DataFrame =
    memoArtifact(s, dir, s"bench_sh_$n") {
      Dedup.shingles(docs(s, dir).filter(col("doc_id") < BenchSplit),
          "text", "doc_id", n)
        .select(col("shingle")).distinct().localCheckpoint(true)
    }

  /** Bloom bitset over [[benchShinglesMemo]] — the broadcastable
    * prefilter (~1.2 bytes/shingle at 1% fpp).
    */
  private def benchBloomMemo(s: SparkSession, dir: String,
                             n: Int): graft.functions.Bloom.BloomBits =
    memoArtifact(s, dir, s"bench_bloom_$n") {
      graft.functions.Bloom.buildCounted(
        benchShinglesMemo(s, dir, n), "shingle", 0.01)
    }

  /** The standing-corpus dedup index over the IncrSplit corpus slice:
    * content-hash set, hot-shingle list (df > DefaultMaxDf), capped
    * postings with per-doc surviving-shingle counts. Callers add their
    * own flag columns (cheap projections over checkpointed frames).
    */
  private case class CorpusIndex(ch: DataFrame, hot: DataFrame,
                                 postings: DataFrame)

  private def corpusIndexMemo(s: SparkSession, dir: String): CorpusIndex =
    memoArtifact(s, dir, "corpus_index") {
      import org.apache.spark.sql.functions.{broadcast, conv, count, md5, substring}
      import org.apache.spark.sql.types.{LongType, StringType}
      val bucket = conv(substring(md5(col("doc_id").cast(StringType)), 1, 6),
        16, 10).cast(LongType) % 100
      val corpus = docs(s, dir).filter(bucket < IncrSplit)
      val ch = corpus
        .select(md5(Dedup.normalize(col("text"))).as("content_hash"))
        .distinct().localCheckpoint(true)
      val shC = Dedup.shingles(corpus, "text", "doc_id", ShingleN)
        .localCheckpoint(true)
      val hot = shC.groupBy(col("shingle"))
        .agg(count(lit(1)).as("df")).filter(col("df") > Dedup.DefaultMaxDf)
        .select(col("shingle")).localCheckpoint(true)
      val shCk = shC.join(broadcast(hot), Seq("shingle"), "left_anti")
      val szC = shCk.groupBy(col("doc_id")).agg(count(lit(1)).as("nc"))
      val postings = shCk
        .select(col("shingle"), col("doc_id").as("corpus_id"))
        .join(szC.select(col("doc_id").as("corpus_id"), col("nc")),
          "corpus_id")
        .localCheckpoint(true)
      CorpusIndex(ch, hot, postings)
    }

  /** Streaming benchmark decontamination — the ingest-path twin of
    * [[contaminationBloomDocs]], under the SAME DuckDB oracle: the
    * Bloom bitset is built ONCE from the benchmark (control-plane,
    * before the stream starts), then every micro-batch runs a fully
    * STATELESS pipeline — in-row distinct shingles, explode, the
    * codegen'd Bloom probe as a plain filter, and a stream-static
    * verify join against the exact benchmark shingle set. Each doc
    * lives wholly in one batch, so no cross-batch state is ever needed
    * (the reason this monitor can run without watermarks) and the
    * per-document totals are aggregated per batch into the keyed
    * parquet MERGE sink. That is the production posture and a measured
    * necessity here: the synthetic corpus is HEAVILY contaminated, so a
    * per-hit evidence stream pushes ~1M rows through a driver-side
    * memory sink at ~6 µs/row (~7-9 s, with the probe/join measured
    * free; the probe is in git history).
    */
  def contaminationStreamBounded(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{array_distinct, coalesce, count, explode, expr, round, size, split, trim}
    val all = Tables.load(s, dir, "documents")
    val schema = all.schema
    val bs = benchShinglesMemo(s, dir, ShingleN)
    val bloom = benchBloomMemo(s, dir, ShingleN)
    val joined = (0 until ShingleN).map(j => s"words[i + $j]")
      .mkString(", ")
    graft.streaming.StreamGate("decontam_bounded", s"$dir/documents.parquet",
      (gs, drop) => gs.readStream.schema(schema).parquet(drop)
        .filter(col("doc_id") >= BenchSplit)
        .select(col("doc_id"),
          split(trim(col("text")), "\\s+").as("words"))
        .filter(size(col("words")) >= ShingleN)
        .select(col("doc_id"), array_distinct(expr(
          s"transform(slice(words, 1, size(words) - ${ShingleN - 1})," +
            s" (w, i) -> concat_ws(' ', $joined))")).as("shs")),
      d => d.rows
        .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
          round(col("n_contaminated").cast("double") / col("n_shingles"),
            4).as("contamination"))
        .orderBy("doc_id"),
      sink = graft.streaming.StreamGate.Sink.Merge(Seq("doc_id"),
        (batch, _) => {
          val base = batch.select(col("doc_id"),
            size(col("shs")).cast("long").as("n_shingles"))
          val hits = batch
            .select(col("doc_id"), explode(col("shs")).as("shingle"))
            .filter(bloom.mightContain(col("shingle")))
            .join(bs, "shingle") // exact verify kills the fpp sliver
            .groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_contaminated"))
          base.join(hits, Seq("doc_id"), "left_outer")
            .select(col("doc_id"), col("n_shingles"),
              coalesce(col("n_contaminated"), lit(0L))
                .as("n_contaminated"))
        })).run(s)
  }

  /** Streaming ingest dedup — the micro-batch twin of
    * [[dedupIncremental]] ([[graft.text.Dedup.incremental]]), under the
    * SAME DuckDB oracle. This is the production shape of daily-ingest
    * dedup at 100 TB: the corpus side reduces to artifacts a warehouse
    * materializes ONCE and reuses every batch — the content-hash index,
    * the stop-shingle hot list (df > maxDf), the capped shingle
    * postings with per-doc sizes — and each micro-batch of NEW
    * documents classifies itself against them through fully STATELESS
    * stream-static joins (exact: left-outer on content hash; hot
    * removal: left-outer + null filter, the stream-static spelling of
    * anti; near: inner join against the postings). No watermark and no
    * streaming state: every document lives wholly in one batch, and
    * per-(batch-doc, corpus-doc) intersection counting happens over
    * the drained evidence rows in `summarize` (production lands the
    * same per-batch aggregation in foreachBatch → ParquetMergeSink
    * keyed by doc_id; the bounded gate keeps the memory-sink posture
    * of its siblings). Sink volume is one row per surviving shingle
    * plus one per posting match — batch-sized, never corpus-sized.
    */
  def neardupStreamBounded(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{array_distinct, broadcast, coalesce, conv, count, explode, expr, md5, size, split, substring, trim, when}
    import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StringType}
    val all = Tables.load(s, dir, "documents")
    val schema = all.schema
    val bucket = conv(substring(md5(col("doc_id").cast(StringType)), 1, 6),
      16, 10).cast(LongType) % 100
    // Standing-corpus artifacts: memoized per (dir, content) — the
    // warehouse-materialized index the scaladoc describes, shared with
    // the ingest front door ([[corpusIndexMemo]]).
    val idx = corpusIndexMemo(s, dir)
    val ch = idx.ch.withColumn("is_exact", lit(true))
    val hot = idx.hot.withColumn("is_hot", lit(true))
    val postings = idx.postings
    val joined = (0 until ShingleN).map(j => s"words[i + $j]")
      .mkString(", ")
    graft.streaming.StreamGate("neardup_bounded", s"$dir/documents.parquet",
      (gs, drop) => {
        val batchDocs = gs.readStream.schema(schema).parquet(drop)
          .filter(bucket >= IncrSplit)
        val base = batchDocs
          .select(col("doc_id"),
            md5(Dedup.normalize(col("text"))).as("content_hash"))
          .join(ch, Seq("content_hash"), "left_outer")
          .select(col("doc_id"), lit("base").as("kind"),
            coalesce(col("is_exact"), lit(false)).as("is_exact"),
            lit(null).cast(LongType).as("corpus_id"),
            lit(null).cast(LongType).as("nc"))
        val sh = batchDocs
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
          .filter(size(col("words")) >= ShingleN)
          .select(col("doc_id"), explode(array_distinct(expr(
            s"transform(slice(words, 1, size(words) - ${ShingleN - 1}), " +
              s"(w, i) -> concat_ws(' ', $joined))"))).as("shingle"))
          .join(hot, Seq("shingle"), "left_outer")
          .filter(col("is_hot").isNull)
        val shRows = sh.select(col("doc_id"), lit("sh").as("kind"),
          lit(null).cast(BooleanType).as("is_exact"),
          lit(null).cast(LongType).as("corpus_id"),
          lit(null).cast(LongType).as("nc"))
        val hits = sh.join(postings, Seq("shingle"))
          .select(col("doc_id"), lit("hit").as("kind"),
            lit(null).cast(BooleanType).as("is_exact"),
            col("corpus_id"), col("nc"))
        base.unionByName(shRows).unionByName(hits)
      },
      d => {
        val sink = d.rows
        // The three evidence families all derive from ONE memory-sink
        // view, so every join below is a self-join — re-alias the keys
        // (fresh ExprIds) to keep the references unambiguous.
        val base = sink.filter(col("kind") === "base")
          .select(col("doc_id"), col("is_exact"))
        val nb = sink.filter(col("kind") === "sh")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("nb"))
          .select(col("doc_id").as("nb_doc"), col("nb"))
        val inter = sink.filter(col("kind") === "hit")
          .groupBy(col("doc_id"), col("corpus_id"), col("nc"))
          .agg(count(lit(1)).as("i"))
          .select(col("doc_id").as("i_doc"), col("nc"), col("i"))
        val j = col("i").cast(DoubleType) /
          (col("nb") + col("nc") - col("i"))
        val near = inter.join(nb, col("i_doc") === col("nb_doc"))
          .filter(j >= MinJaccard)
          .select(col("i_doc").as("near_doc")).distinct()
          .withColumn("is_near", lit(true))
        base.join(near, col("doc_id") === col("near_doc"), "left_outer")
          .select(col("doc_id"),
            when(col("is_exact"), "exact_dup")
              .when(col("is_near"), "near_dup")
              .otherwise("new").as("status"))
          .orderBy("doc_id")
      }).run(s)
  }

  /** Fused streaming ingest front door — ONE stream runs every
    * admission check a production ingest applies to new documents, the
    * way the multi-journey fusion runs every journey in one pass:
    * language + quality (pure column exprs shared with the batch
    * funnel), benchmark decontamination (Bloom-prefiltered,
    * stream-static exact verify), and the standing-corpus index checks
    * (exact content hash; capped-shingle near-dup), plus within-stream
    * exact dedup resolved deterministically (smallest doc_id keeps, the
    * funnel's s3 law). One streaming query, one checkpoint, one
    * delivery — versus three separate streams each with their own
    * staging, trigger cadence and sink. Per-doc decision precedence
    * mirrors the batch funnel's stage order (hygiene before
    * contamination): lang > quality > exact_dup > near_dup >
    * contaminated > admit, and the DuckDB oracle composes the SAME
    * stage mirrors the funnel/incremental/contamination oracles use.
    *
    * All branch pipelines are stateless or stream-static, so the
    * monitor needs no watermark; evidence rows assemble into decisions
    * post-drain (production: per-batch foreachBatch aggregation into
    * ParquetMergeSink keyed by doc_id). Micro-batch note: the branches
    * union over one file source, so each trigger scans its drop file
    * once per branch — the fusion saves stream INFRASTRUCTURE
    * (staging, checkpoints, state, sinks), while a single-scan variant
    * would fuse the branches in foreachBatch.
    */
  def ingestStreamBounded(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{array_distinct, broadcast, coalesce, conv, count, explode, expr, max, md5, min, round, size, split, substring, sum, trim, when}
    import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StringType}
    import org.apache.spark.sql.expressions.Window
    val contamN = Curation.DefaultContamN
    val all = Tables.load(s, dir, "documents")
    val schema = all.schema
    val bucket = conv(substring(md5(col("doc_id").cast(StringType)), 1, 6),
      16, 10).cast(LongType) % 100
    // Standing-corpus artifacts: the memoized warehouse index shared
    // with the neardup gate, plus the memoized benchmark shingles +
    // Bloom prefilter (contamN-shingles over ALL docs < BenchSplit,
    // the funnel's bench5 law).
    val idx = corpusIndexMemo(s, dir)
    val ch = idx.ch.withColumn("in_corpus", lit(true))
    val hot = idx.hot.withColumn("is_hot", lit(true))
    val postings = idx.postings
    val benchSh = benchShinglesMemo(s, dir, contamN)
    val bloom = benchBloomMemo(s, dir, contamN)
    def shinglesExpr(n: Int): Column = {
      val joined = (0 until n).map(j => s"words[i + $j]").mkString(", ")
      array_distinct(expr(
        s"transform(slice(words, 1, size(words) - ${n - 1}), " +
          s"(w, i) -> concat_ws(' ', $joined))"))
    }
    graft.streaming.StreamGate("ingest_bounded", s"$dir/documents.parquet",
      (gs, drop) => {
        val batchDocs = gs.readStream.schema(schema).parquet(drop)
          .filter(bucket >= IncrSplit)
        val withWords = batchDocs.select(col("doc_id"), col("text"),
          split(trim(col("text")), "\\s+").as("words"))
        val base = withWords.select(col("doc_id"),
            (graft.text.TextOps.predictedLang(
              graft.text.TextOps.words(col("text"))) =!= "und")
              .as("lang_ok"),
            (graft.text.TextOps.qualityScore(col("text"))
              >= Curation.DefaultMinScore).as("q_ok"),
            md5(Dedup.normalize(col("text"))).as("content_hash"),
            when(size(col("words")) >= contamN,
              size(shinglesExpr(contamN)).cast(LongType))
              .otherwise(lit(0L)).as("n_sh"))
          .join(ch, Seq("content_hash"), "left_outer")
          .select(col("doc_id"), lit("base").as("kind"), col("lang_ok"),
            col("q_ok"), col("content_hash"),
            coalesce(col("in_corpus"), lit(false)).as("corpus_exact"),
            col("n_sh"), lit(null).cast(LongType).as("corpus_id"),
            lit(null).cast(LongType).as("nc"))
        def evidence(doc: Column, kind: String, corpusId: Column,
                     ncCol: Column) =
          Seq(doc.as("doc_id"), lit(kind).as("kind"),
            lit(null).cast(BooleanType).as("lang_ok"),
            lit(null).cast(BooleanType).as("q_ok"),
            lit(null).cast(StringType).as("content_hash"),
            lit(null).cast(BooleanType).as("corpus_exact"),
            lit(null).cast(LongType).as("n_sh"),
            corpusId.as("corpus_id"), ncCol.as("nc"))
        val nullL = lit(null).cast(LongType)
        val contamHits = withWords
          .filter(size(col("words")) >= contamN)
          .select(col("doc_id"), explode(shinglesExpr(contamN)).as("shingle"))
          .filter(bloom.mightContain(col("shingle")))
          .join(benchSh, "shingle")
          .select(evidence(col("doc_id"), "contam", nullL, nullL): _*)
        val sh = withWords
          .filter(size(col("words")) >= ShingleN)
          .select(col("doc_id"), explode(shinglesExpr(ShingleN)).as("shingle"))
          .join(hot, Seq("shingle"), "left_outer")
          .filter(col("is_hot").isNull)
        val shRows = sh.select(evidence(col("doc_id"), "sh", nullL, nullL): _*)
        val hits = sh.join(postings, Seq("shingle"))
          .select(evidence(col("doc_id"), "hit", col("corpus_id"),
            col("nc")): _*)
        base.unionByName(contamHits).unionByName(shRows).unionByName(hits)
      },
      d => {
        val sink = d.rows
        // Same self-join discipline as the neardup gate: every frame
        // below derives from one sink view — re-alias the join keys.
        val base = sink.filter(col("kind") === "base")
          .withColumn("batch_dup", col("doc_id") =!=
            min(col("doc_id")).over(Window.partitionBy("content_hash")))
          .select(col("doc_id"), col("lang_ok"), col("q_ok"),
            col("corpus_exact"), col("batch_dup"), col("n_sh"))
        val contam = sink.filter(col("kind") === "contam")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contam"))
          .select(col("doc_id").as("ct_doc"), col("n_contam"))
        val nb = sink.filter(col("kind") === "sh")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("nb"))
          .select(col("doc_id").as("nb_doc"), col("nb"))
        val inter = sink.filter(col("kind") === "hit")
          .groupBy(col("doc_id"), col("corpus_id"), col("nc"))
          .agg(count(lit(1)).as("i"))
          .select(col("doc_id").as("i_doc"), col("nc"), col("i"))
        val j = col("i").cast(DoubleType) /
          (col("nb") + col("nc") - col("i"))
        val near = inter.join(nb, col("i_doc") === col("nb_doc"))
          .filter(j >= MinJaccard)
          .select(col("i_doc").as("near_doc")).distinct()
          .withColumn("is_near", lit(true))
        val frac = round(coalesce(col("n_contam"), lit(0L))
          .cast(DoubleType) / col("n_sh"), 4)
        base
          .join(contam, col("doc_id") === col("ct_doc"), "left_outer")
          .join(near, col("doc_id") === col("near_doc"), "left_outer")
          .select(col("doc_id"),
            when(!col("lang_ok"), "lang")
              .when(!col("q_ok"), "quality")
              .when(col("corpus_exact") || col("batch_dup"), "exact_dup")
              .when(coalesce(col("is_near"), lit(false)), "near_dup")
              .when(col("n_sh") > 0 &&
                frac >= Curation.DefaultMaxContam, "contaminated")
              .otherwise("admit").as("decision"))
          .orderBy("doc_id")
      }).run(s)
  }

  /** Oracle: the same stage mirrors the funnel / incremental /
    * contamination oracles use, composed with the gate's precedence.
    * Lazy — interpolates vals declared later in the file (IncrSplit,
    * LangOkSql); an eager val would bake in their pre-init defaults.
    */
  lazy val ingestStreamSql: String = {
    def shingleCte(rel: String, n: Int): String =
      s"""(SELECT DISTINCT doc_id, shingle FROM (SELECT doc_id,
         |  unnest(${shingleListSql(n)}) AS shingle
         |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+')
         |    AS w FROM $rel)))""".stripMargin
    s"""WITH d AS (SELECT doc_id, text, $SplitBucketSql AS bucket
       |  FROM documents),
       |corpus AS (SELECT doc_id, text FROM d WHERE bucket < $IncrSplit),
       |batch AS (SELECT doc_id, text,
       |  string_split_regex(trim(text), '\\s+') AS w
       |  FROM d WHERE bucket >= $IncrSplit),
       |flags AS (SELECT doc_id, ($LangOkSql) AS lang_ok,
       |  (${scoreSql("w")} >= ${Curation.DefaultMinScore}) AS q_ok,
       |  md5($NormSql) AS h,
       |  doc_id != min(doc_id) OVER (PARTITION BY md5($NormSql))
       |    AS batch_dup
       |  FROM batch),
       |ch AS (SELECT DISTINCT md5($NormSql) AS h FROM corpus),
       |shc5 AS ${shingleCte("batch", Curation.DefaultContamN)},
       |bench5 AS (SELECT DISTINCT shingle FROM (SELECT
       |  unnest(${shingleListSql(Curation.DefaultContamN)}) AS shingle
       |  FROM (SELECT string_split_regex(trim(text), '\\s+') AS w
       |    FROM d WHERE doc_id < $BenchSplit))),
       |contam AS (SELECT c.doc_id,
       |    round(CAST(count(b.shingle) AS DOUBLE)/count(*), 4) AS frac
       |  FROM shc5 c LEFT JOIN bench5 b USING (shingle)
       |  GROUP BY c.doc_id),
       |shc0 AS ${shingleCte("corpus", ShingleN)},
       |hot AS (SELECT shingle FROM shc0 GROUP BY shingle
       |  HAVING count(*) > ${Dedup.DefaultMaxDf}),
       |shc AS (SELECT * FROM shc0
       |  WHERE shingle NOT IN (SELECT shingle FROM hot)),
       |shb0 AS ${shingleCte("batch", ShingleN)},
       |shb AS (SELECT * FROM shb0
       |  WHERE shingle NOT IN (SELECT shingle FROM hot)),
       |szc AS (SELECT doc_id, count(*) AS nc FROM shc GROUP BY doc_id),
       |szb AS (SELECT doc_id, count(*) AS nb FROM shb GROUP BY doc_id),
       |inter AS (SELECT b.doc_id AS bid, c.doc_id AS cid,
       |    count(*) AS i FROM shb b JOIN shc c ON b.shingle = c.shingle
       |  GROUP BY 1, 2),
       |near AS (SELECT DISTINCT bid AS doc_id FROM inter
       |  JOIN szb ON szb.doc_id = bid JOIN szc ON szc.doc_id = cid
       |  WHERE CAST(i AS DOUBLE)/(nb + nc - i) >= $MinJaccard)
       |SELECT f.doc_id,
       |  CASE WHEN NOT lang_ok THEN 'lang'
       |    WHEN NOT q_ok THEN 'quality'
       |    WHEN ch.h IS NOT NULL OR batch_dup THEN 'exact_dup'
       |    WHEN near.doc_id IS NOT NULL THEN 'near_dup'
       |    WHEN frac IS NOT NULL AND frac >= ${Curation.DefaultMaxContam}
       |      THEN 'contaminated'
       |    ELSE 'admit' END AS decision
       |FROM flags f LEFT JOIN ch ON f.h = ch.h
       |LEFT JOIN contam ON contam.doc_id = f.doc_id
       |LEFT JOIN near ON near.doc_id = f.doc_id
       |ORDER BY f.doc_id""".stripMargin
  }

  /** Batch mirror of the stream's admitted content set: the funnel's s1
    * (language) + s2 (quality) filters, exact-deduped to distinct
    * normalized-content hashes. Lazy — interpolates vals declared later
    * in this file.
    */
  lazy val curatedStreamSql: String =
    s"""$ToksCte
       |SELECT DISTINCT md5($NormSql) AS content_hash
       |FROM documents JOIN toks USING (doc_id)
       |WHERE $LangOkSql AND ${scoreSql("w")} >= ${Curation.DefaultMinScore}
       |ORDER BY content_hash""".stripMargin

  // ---- BPE tokenizer-training prep -----------------------------------------

  val BpeTopK = 50

  /** 256 merges since round 5 — tokenizer-training scale, not audit
    * scale. Learning runs through TextOps.bpeMergesScalable (one corpus
    * pass + in-memory loop); the sequential Spark-loop bpeMerges stays
    * as the distributed reference the spec pins against.
    */
  val BpeNMerges = 256
  val BpeMaxVocab = 65536

  def bpePairs(s: SparkSession, dir: String): DataFrame =
    TextOps.bpePairStats(docs(s, dir), "text", BpeTopK)

  val bpePairsSql: String =
    s"""WITH w AS (SELECT unnest(string_split_regex(trim(text), '\\s+'))
       |    AS word FROM documents),
       |p AS (SELECT unnest([substr(word, i, 2)
       |    for i in range(1, len(word))]) AS pair
       |  FROM w WHERE len(word) >= 2)
       |SELECT pair, CAST(count(*) AS BIGINT) AS ct
       |FROM p GROUP BY pair ORDER BY ct DESC, pair LIMIT $BpeTopK""".stripMargin

  /** Merge learning at vocabulary scale — rows-only (the merge loop is
    * not one SQL statement); TextSpec pins the learner to the
    * sequential Spark-loop bpeMerges AND to a plain-Scala reference
    * BPE (at 256 merges on a rich synthetic vocabulary), and the first
    * merge to [[bpePairsSql]]'s argmax. The harness corpus holds only
    * 31 distinct words, so its merge sequence EXHAUSTS at 89 — the
    * loop stops cleanly when no pairs remain.
    */
  def bpeMergesQ(s: SparkSession, dir: String): DataFrame =
    TextOps.bpeMergesScalable(docs(s, dir), "text", BpeNMerges,
      BpeMaxVocab)

  /** Learn-then-apply: the merge table (256 control-plane rows) feeds
    * the codec-style encoder. Rows-only (the loop is not one SQL
    * statement); TextSpec pins encoding to the reference BPE. The learned
    * table is memoized per (data dir, table file mtime) — deterministic
    * in the corpus, and re-running the multi-round learning job on every
    * encode invocation (bench reps, bpe_merges + bpe_encode in one pass)
    * is pure waste; keying on the mtime means a regenerated dataset at
    * the same path re-learns instead of silently reusing stale merges.
    * The learning job runs OUTSIDE the map lock (get, then putIfAbsent):
    * computeIfAbsent would hold a bin lock for the whole multi-round
    * Spark job, and a lost race only costs one redundant deterministic
    * recompute.
    */
  private val bpeMergeCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), Seq[(String, String)]]

  private def learnedMerges(s: SparkSession,
                            dir: String): Seq[(String, String)] = {
    val key = (dir, new java.io.File(s"$dir/documents.parquet")
      .lastModified())
    Option(bpeMergeCache.get(key)).getOrElse {
      val learned = TextOps.bpeMergesScalable(docs(s, dir), "text",
          BpeNMerges, BpeMaxVocab)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      bpeMergeCache.putIfAbsent(key, learned)
      learned
    }
  }

  def bpeEncodeQ(s: SparkSession, dir: String): DataFrame =
    TextOps.bpeEncodeScalable(docs(s, dir), "text", "doc_id",
      learnedMerges(s, dir))

  /** Expected-empty codec gate (r5 verdict #4): decode(encode(word))
    * must reproduce every word and every fused token must be a product
    * of the learned table — under the driver's row/hash compare, which
    * closes the `no_oracle` gap on the tokenizer tier. */
  def bpeRoundtripQ(s: SparkSession, dir: String): DataFrame =
    TextOps.bpeRoundtripViolations(docs(s, dir), "text", "doc_id",
      learnedMerges(s, dir))

  // ---- filter-policy decision matrix ---------------------------------------

  val PolicyMinScore = 0.49
  val PolicyMaxTopBigram = 0.08
  val PolicyMinSurprisal = 3.40

  def filterPolicy(s: SparkSession, dir: String): DataFrame =
    Curation.filterPolicy(docs(s, dir), minScore = PolicyMinScore,
      maxTopBigram = PolicyMaxTopBigram, minSurprisal = PolicyMinSurprisal,
      pLo = LenPLo, pHi = LenPHi)

  /** Mirror: each signal fragment is the SAME expression tree as its
    * standalone oracle (scoreSql, repetitionSql's bigram stats,
    * lmSurprisalSql, quantile_cont bounds), so every rounded double the
    * thresholds compare is bit-identical before the boolean. LAZY: it
    * interpolates vals declared later in this file (scoreSql's stopword
    * list, LenPLo/LenPHi) — a strict val would capture their
    * pre-initialization zero/null defaults.
    */
  lazy val filterPolicySql: String =
    s"""$ToksCte,
       |base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_toks,
       |    ${scoreSql("w")} AS score FROM toks),
       |b AS (SELECT quantile_cont(n_toks, $LenPLo) AS lo,
       |    quantile_cont(n_toks, $LenPHi) AS hi FROM base),
       |rbi AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
       |    for i in range(1, len(w))]) AS g FROM toks
       |  WHERE len(w) >= 3),
       |rbc AS (SELECT doc_id, g, count(*) AS ct FROM rbi
       |  GROUP BY doc_id, g),
       |rep AS (SELECT doc_id, round(CAST(max(ct) AS DOUBLE)/sum(ct), 4)
       |    AS top_bigram_frac FROM rbc GROUP BY doc_id),
       |stoks AS (SELECT doc_id, unnest(w) AS word FROM toks),
       |sfreq AS (SELECT word, count(*) AS ct FROM stoks GROUP BY word),
       |stot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM stoks),
       |sur AS (SELECT doc_id,
       |    round(CAST(sum(CAST(round(-ln(CAST(ct AS DOUBLE) / total), 6)
       |      AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_surprisal
       |  FROM stoks JOIN sfreq USING (word), stot GROUP BY doc_id)
       |SELECT doc_id,
       |  score >= $PolicyMinScore AS quality_ok,
       |  coalesce(top_bigram_frac <= $PolicyMaxTopBigram, TRUE)
       |    AS repetition_ok,
       |  coalesce(avg_surprisal >= $PolicyMinSurprisal, TRUE)
       |    AS surprisal_ok,
       |  n_toks >= lo AND n_toks <= hi AS length_ok,
       |  score >= $PolicyMinScore
       |    AND coalesce(top_bigram_frac <= $PolicyMaxTopBigram, TRUE)
       |    AND coalesce(avg_surprisal >= $PolicyMinSurprisal, TRUE)
       |    AND n_toks >= lo AND n_toks <= hi AS keep
       |FROM base LEFT JOIN rep USING (doc_id)
       |LEFT JOIN sur USING (doc_id), b
       |ORDER BY doc_id""".stripMargin

  // ---- adaptive length-band filter -----------------------------------------

  val LenPLo = 0.05
  val LenPHi = 0.95

  def lengthBand(s: SparkSession, dir: String): DataFrame =
    Curation.lengthBandFilter(docs(s, dir), pLo = LenPLo, pHi = LenPHi)

  val lengthBandSql: String =
    s"""WITH t AS (SELECT doc_id,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS n_toks FROM documents),
       |b AS (SELECT quantile_cont(n_toks, $LenPLo) AS lo,
       |    quantile_cont(n_toks, $LenPHi) AS hi FROM t)
       |SELECT doc_id, n_toks, round(lo, 4) AS lo, round(hi, 4) AS hi
       |FROM t, b WHERE n_toks >= lo AND n_toks <= hi
       |ORDER BY doc_id""".stripMargin

  // ---- incremental ingest dedup --------------------------------------------

  /** Batch = the split-hash test slice (bucket ≥ 90, the
    * deterministicSplit draw); corpus = the rest. The registered query
    * classifies each "incoming" doc against the standing corpus.
    */
  val IncrSplit = 90

  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, StringType}
    val d = docs(s, dir)
    val bucket = conv(substring(md5(col("doc_id").cast(StringType)), 1, 6),
      16, 10).cast(LongType) % 100
    Dedup.incremental(d.filter(bucket < IncrSplit),
      d.filter(bucket >= IncrSplit), "text", "doc_id", ShingleN, MinJaccard)
  }

  val dedupIncrementalSql: String = {
    def shingleCte(rel: String): String =
      s"""(SELECT DISTINCT doc_id, shingle FROM (SELECT doc_id,
         |  unnest(${shingleListSql(ShingleN)}) AS shingle
         |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+')
         |    AS w FROM $rel)))""".stripMargin
    s"""WITH d AS (SELECT doc_id, text, $SplitBucketSql AS bucket
       |  FROM documents),
       |corpus AS (SELECT * FROM d WHERE bucket < $IncrSplit),
       |batch AS (SELECT * FROM d WHERE bucket >= $IncrSplit),
       |ch AS (SELECT DISTINCT md5($NormSql) AS h FROM corpus),
       |bh AS (SELECT doc_id, md5($NormSql) AS h FROM batch),
       |shc0 AS ${shingleCte("corpus")},
       |hot AS (SELECT shingle FROM shc0 GROUP BY shingle
       |  HAVING count(*) > ${Dedup.DefaultMaxDf}),
       |shc AS (SELECT * FROM shc0
       |  WHERE shingle NOT IN (SELECT shingle FROM hot)),
       |shb0 AS ${shingleCte("batch")},
       |shb AS (SELECT * FROM shb0
       |  WHERE shingle NOT IN (SELECT shingle FROM hot)),
       |szc AS (SELECT doc_id, count(*) AS nc FROM shc GROUP BY doc_id),
       |szb AS (SELECT doc_id, count(*) AS nb FROM shb GROUP BY doc_id),
       |inter AS (SELECT b.doc_id AS bid, c.doc_id AS cid,
       |    count(*) AS i FROM shb b JOIN shc c ON b.shingle = c.shingle
       |  GROUP BY 1, 2),
       |near AS (SELECT DISTINCT bid AS doc_id FROM inter
       |  JOIN szb ON szb.doc_id = bid JOIN szc ON szc.doc_id = cid
       |  WHERE CAST(i AS DOUBLE)/(nb + nc - i) >= $MinJaccard)
       |SELECT bh.doc_id AS doc_id,
       |  CASE WHEN ch.h IS NOT NULL THEN 'exact_dup'
       |    WHEN near.doc_id IS NOT NULL THEN 'near_dup'
       |    ELSE 'new' END AS status
       |FROM bh LEFT JOIN ch ON bh.h = ch.h
       |LEFT JOIN near ON near.doc_id = bh.doc_id
       |ORDER BY bh.doc_id""".stripMargin
  }

  // ---- train -> eval split leakage -----------------------------------------

  def splitLeakage(s: SparkSession, dir: String): DataFrame =
    Curation.splitLeakage(docs(s, dir), n = SpanN)

  lazy val splitLeakageSql: String = {
    s"""$ToksCte,
       |sh AS (SELECT DISTINCT doc_id, shingle FROM (SELECT doc_id,
       |  unnest(${shingleListSql(SpanN)}) AS shingle FROM toks)),
       |sp AS (SELECT doc_id, $SplitCaseSql AS split FROM documents),
       |tr AS (SELECT DISTINCT shingle FROM sh JOIN sp USING (doc_id)
       |  WHERE split = 'train')
       |SELECT doc_id, split, CAST(count(*) AS BIGINT) AS n_spans,
       |  CAST(count(tr.shingle) AS BIGINT) AS n_leaked,
       |  round(CAST(count(tr.shingle) AS DOUBLE) / count(*), 4)
       |    AS leak_frac
       |FROM sh JOIN sp USING (doc_id)
       |LEFT JOIN tr ON sh.shingle = tr.shingle
       |WHERE sp.split <> 'train'
       |GROUP BY doc_id, split ORDER BY doc_id""".stripMargin
  }

  // ---- duplicated-span statistics ------------------------------------------

  val SpanN = 8

  def spanDup(s: SparkSession, dir: String): DataFrame =
    Dedup.spanDupStats(docs(s, dir), "text", "doc_id", SpanN)

  val spanDupSql: String =
    s"""WITH occ AS (SELECT doc_id, md5(span) AS wh FROM (
       |  SELECT doc_id, unnest(${shingleListSql(SpanN)}) AS span
       |    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+')
       |      AS w FROM documents) WHERE len(w) >= $SpanN)),
       |cts AS (SELECT wh, count(*) AS ct FROM occ GROUP BY wh)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |  CAST(count(CASE WHEN ct > 1 THEN 1 END) AS BIGINT)
       |    AS n_dup_spans,
       |  round(CAST(count(CASE WHEN ct > 1 THEN 1 END) AS DOUBLE)
       |    / count(*), 4) AS dup_frac
       |FROM occ JOIN cts USING (wh)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- duplicated-block removal (C4 line-dedup posture) --------------------

  def blockDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.blockDedupCut(docs(s, dir), "text", "doc_id", SpanN)

  /** Mirror of [[Dedup.blockDedupCut]]: same non-overlapping blocking
    * (list_slice is 1-based inclusive, like Spark's slice), same global
    * first-occurrence rank on md5(block) ordered by (doc_id, pos), same
    * position-ordered reassembly (string_agg skips the NULLed removed
    * blocks exactly as concat_ws does).
    */
  val blockDedupSql: String =
    s"""WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+')
       |    AS ws FROM documents),
       |blk AS (SELECT doc_id, CAST(u.b AS BIGINT) AS pos,
       |    array_to_string(list_slice(ws,
       |      CAST(u.b AS BIGINT) * $SpanN + 1,
       |      CAST(u.b AS BIGINT) * $SpanN + $SpanN), ' ') AS block
       |  FROM w, unnest(range(0,
       |    CAST(ceil(len(ws) / ${SpanN}.0) AS BIGINT))) AS u(b)),
       |ranked AS (SELECT doc_id, pos, block, row_number() OVER (
       |    PARTITION BY md5(block) ORDER BY doc_id, pos) AS rn FROM blk)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
       |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_removed,
       |  coalesce(string_agg(CASE WHEN rn = 1 THEN block END, ' '
       |    ORDER BY pos), '') AS text_deduped
       |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Per-block-hash FIRST OCCURRENCE over the standing corpus (bucket <
    * IncrSplit): (bh, cmin_doc, cmin_pos) — the block-grid twin of the
    * postings artifact, memoized per (session, dir, content) like every
    * standing-corpus index. One row per distinct corpus block; built
    * once per corpus version, joined stream-static every trigger.
    */
  private def corpusBlockMinMemo(s: SparkSession, dir: String,
                                 n: Int): DataFrame =
    memoArtifact(s, dir, s"corpus_blockmin_$n") {
      import org.apache.spark.sql.functions.{conv, expr, md5, min, posexplode, split, struct, substring, trim}
      import org.apache.spark.sql.types.{LongType, StringType}
      val bucket = conv(substring(md5(col("doc_id").cast(StringType)), 1, 6),
        16, 10).cast(LongType) % 100
      docs(s, dir).filter(bucket < IncrSplit)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(0, cast(ceil(size(words) / ${n}.0) as int)" +
            s" - 1), b -> concat_ws(' ', slice(words, b * $n + 1, $n)))"))
          .as(Seq("pos", "block")))
        .groupBy(md5(col("block")).as("bh"))
        .agg(min(struct(col("doc_id"), col("pos"))).as("m"))
        .select(col("bh"), col("m.doc_id").as("cmin_doc"),
          col("m.pos").cast(LongType).as("cmin_pos"))
        .localCheckpoint(true)
    }

  /** STREAMING block-grid dedup at the ingest front door (r10 verdict
    * #8): new documents (bucket ≥ IncrSplit) arrive as a stream, each
    * is cut against the STANDING corpus's block set via a stream-static
    * join on the 16-byte block hash — the [[corpusBlockMinMemo]]
    * artifact, the same memo pattern as the near-dup postings — plus a
    * within-new-set first-occurrence rank, and reassembled from its
    * surviving blocks. Keep rule is EXACTLY the batch operator's global
    * (doc_id, pos) first occurrence: a new block survives iff it is
    * first among the new docs AND beats the corpus minimum — so the
    * gate runs under the batch `block_dedup_documents` oracle
    * restricted to new docs (the whole-corpus ranking, output filtered
    * to the stream slice). At 100 TB the corpus artifact is
    * block-granular but built once per corpus version; each trigger
    * joins only its delta's blocks against it.
    */
  def blockDedupStreamBounded(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{concat_ws, conv, count, expr, md5, posexplode, row_number, split, substring, sum, trim, when}
    import org.apache.spark.sql.types.{LongType, StringType}
    import org.apache.spark.sql.expressions.Window
    val all = Tables.load(s, dir, "documents")
    val schema = all.schema
    val bucket = conv(substring(md5(col("doc_id").cast(StringType)), 1, 6),
      16, 10).cast(LongType) % 100
    val corpusMin = corpusBlockMinMemo(s, dir, SpanN)
    graft.streaming.StreamGate("blockdedup_bounded", s"$dir/documents.parquet",
      (gs, drop) => {
        val batch = gs.readStream.schema(schema).parquet(drop)
          .filter(bucket >= IncrSplit)
        batch
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
          .select(col("doc_id"), posexplode(expr(
            s"transform(sequence(0, cast(ceil(size(words) / ${SpanN}.0) " +
              s"as int) - 1), b -> concat_ws(' ', " +
              s"slice(words, b * $SpanN + 1, $SpanN)))"))
            .as(Seq("pos", "block")))
          .withColumn("bh", md5(col("block")))
          .join(corpusMin, Seq("bh"), "left_outer") // stream-static
          .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
            col("block"), col("bh"), col("cmin_doc"), col("cmin_pos"))
      },
      d => {
        val sink = d.rows
        // global first occurrence = first within the new set AND ahead
        // of the corpus minimum (splits are disjoint, so no ties)
        val w = Window.partitionBy("bh").orderBy(col("doc_id"), col("pos"))
        sink.withColumn("rn", row_number().over(w))
          .withColumn("keep", col("rn") === 1 &&
            (col("cmin_doc").isNull || col("doc_id") < col("cmin_doc") ||
              (col("doc_id") === col("cmin_doc") &&
                col("pos") < col("cmin_pos"))))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_blocks"),
            sum(when(!col("keep"), 1L).otherwise(0L)).as("n_removed"),
            concat_ws(" ", expr(
              "transform(array_sort(collect_list(CASE WHEN keep THEN " +
                "struct(pos, block) END)), s -> s.block)"))
              .as("text_deduped"))
          .orderBy("doc_id")
      }).run(s)
  }

  /** The batch [[blockDedupSql]] ranking over the WHOLE corpus, output
    * restricted to the new-doc slice — proving the stream-static join +
    * within-stream rank compose to exactly the batch keep rule.
    */
  val blockDedupStreamSql: String =
    s"""WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+')
       |    AS ws, $SplitBucketSql AS bucket FROM documents),
       |blk AS (SELECT doc_id, bucket, CAST(u.b AS BIGINT) AS pos,
       |    array_to_string(list_slice(ws,
       |      CAST(u.b AS BIGINT) * $SpanN + 1,
       |      CAST(u.b AS BIGINT) * $SpanN + $SpanN), ' ') AS block
       |  FROM w, unnest(range(0,
       |    CAST(ceil(len(ws) / ${SpanN}.0) AS BIGINT))) AS u(b)),
       |ranked AS (SELECT doc_id, bucket, pos, block, row_number() OVER (
       |    PARTITION BY md5(block) ORDER BY doc_id, pos) AS rn FROM blk)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
       |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_removed,
       |  coalesce(string_agg(CASE WHEN rn = 1 THEN block END, ' '
       |    ORDER BY pos), '') AS text_deduped
       |FROM ranked WHERE bucket >= $IncrSplit
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- overlapping duplicated-span removal (ExactSubstr posture) ----------

  def spanDedupCut(s: SparkSession, dir: String): DataFrame =
    Dedup.spanDedupCut(docs(s, dir), "text", "doc_id", SpanN)

  /** Mirror of [[Dedup.spanDedupCut]]: same rolling windows (positions
    * 0-based), same (count ≥ 2, non-global-first) duplicate rule on
    * md5(window) ordered by (doc_id, pos), same coverage mask — a
    * position is cut iff a duplicate window starts in
    * [p − (n−1), p] — same position-ordered reassembly.
    */
  val spanDedupCutSql: String =
    s"""WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+')
       |    AS ws FROM documents),
       |occ AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
       |    md5(array_to_string(list_slice(ws,
       |      CAST(u.i AS BIGINT) + 1,
       |      CAST(u.i AS BIGINT) + $SpanN), ' ')) AS wh
       |  FROM w, unnest(range(0, len(ws) - ${SpanN - 1})) AS u(i)
       |  WHERE len(ws) >= $SpanN),
       |ranked AS (SELECT doc_id, pos,
       |    count(*) OVER (PARTITION BY wh) AS ct,
       |    row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn
       |  FROM occ),
       |dup AS (SELECT doc_id, pos AS s FROM ranked
       |  WHERE ct > 1 AND rn > 1),
       |pos AS (SELECT doc_id, CAST(u.p AS BIGINT) AS p,
       |    ws[CAST(u.p AS BIGINT) + 1] AS word
       |  FROM w, unnest(range(0, len(ws))) AS u(p)),
       |marked AS (SELECT pos.doc_id, pos.p, pos.word,
       |    EXISTS (SELECT 1 FROM dup WHERE dup.doc_id = pos.doc_id
       |      AND dup.s BETWEEN pos.p - ${SpanN - 1} AND pos.p) AS removed
       |  FROM pos)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_removed,
       |  coalesce(string_agg(CASE WHEN NOT removed THEN word END, ' '
       |    ORDER BY p), '') AS text_deduped
       |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- mixture-plan execution (deterministic downsampling) ----------------

  def mixtureSample(s: SparkSession, dir: String): DataFrame =
    Curation.mixtureSample(docs(s, dir))

  /** Mirror: the plan CTEs feed a salted md5 bucket draw; round() on the
    * 4-dp keep_rate × 10⁴ recovers the exact integer threshold in both
    * engines (the product is ≥ 2.5e-5 away from any .5 boundary).
    */
  val mixtureSampleSql: String =
    s"""WITH agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(string_split_regex(trim(text), '\\s+')))
       |      AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |tot AS (SELECT min(n_tokens) AS min_toks FROM agg),
       |plan AS (SELECT source, CAST(round(round(CAST(min_toks AS DOUBLE)
       |    / n_tokens, 4) * 10000, 0) AS BIGINT) AS keep_bps
       |  FROM agg, tot),
       |d AS (SELECT doc_id, source,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS n_toks,
       |    ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 6))
       |      ::BIGINT % 10000 AS bucket
       |  FROM documents)
       |SELECT doc_id, source, n_toks, bucket, keep_bps
       |FROM d JOIN plan USING (source)
       |WHERE bucket < keep_bps ORDER BY doc_id""".stripMargin

  // ---- repetition signals (Gopher-style filters) --------------------------

  def repetition(s: SparkSession, dir: String): DataFrame =
    TextOps.repetitionSignals(docs(s, dir), "text", "doc_id")

  val repetitionSql: String =
    s"""$ToksCte,
       |base AS (SELECT doc_id, w FROM toks WHERE len(w) >= 3),
       |bi AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
       |  for i in range(1, len(w))]) AS g FROM base),
       |bc AS (SELECT doc_id, g, count(*) AS ct FROM bi GROUP BY doc_id, g),
       |bs AS (SELECT doc_id, CAST(sum(ct) AS BIGINT) AS n_bigrams,
       |  max(ct) AS top_ct, count(*) AS nd_bi FROM bc GROUP BY doc_id),
       |tri AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |  for i in range(1, len(w)-1)]) AS g FROM base),
       |tc AS (SELECT doc_id, g, count(*) AS ct FROM tri GROUP BY doc_id, g),
       |ts AS (SELECT doc_id, CAST(sum(ct) AS BIGINT) AS n_trigrams,
       |  count(*) AS nd_tri FROM tc GROUP BY doc_id)
       |SELECT doc_id, n_bigrams,
       |  round(CAST(top_ct AS DOUBLE)/n_bigrams, 4) AS top_bigram_frac,
       |  round(CAST(n_bigrams - nd_bi AS DOUBLE)/n_bigrams, 4)
       |    AS dup_bigram_frac,
       |  round(CAST(n_trigrams - nd_tri AS DOUBLE)/n_trigrams, 4)
       |    AS dup_trigram_frac
       |FROM bs JOIN ts USING (doc_id) ORDER BY doc_id""".stripMargin

  // ---- BM25 retrieval scoring ---------------------------------------------

  /** Fixed query-term set + Robertson-standard constants. */
  val Bm25Terms = Seq("spark", "join", "stream", "vector")
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 20

  def bm25Docs(s: SparkSession, dir: String): DataFrame =
    TextOps.bm25(docs(s, dir), "text", "doc_id", Bm25Terms, Bm25K1,
      Bm25B, Bm25TopK)

  /** Mirrors TextOps.bm25's expression tree term by term — the
    * parenthesization matches the Column operator grouping exactly, so
    * every intermediate double is IEEE-identical before the 6-dp
    * per-term round and the DECIMAL sum.
    */
  val bm25Sql: String = {
    val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""$ToksCte,
       |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM toks),
       |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |  CAST(sum(dl) AS DOUBLE) AS sdl FROM dl),
       |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(w) AS word FROM toks)
       |  WHERE word IN ($termList) GROUP BY doc_id, word),
       |dfreq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf
       |  GROUP BY word),
       |sc AS (SELECT doc_id, CAST(round(
       |    ln((n - df + 0.5)/(df + 0.5) + 1.0) *
       |      ((tf*($Bm25K1 + 1.0))/(tf + $Bm25K1*((1.0 - $Bm25B) +
       |        $Bm25B*dl/(sdl/n)))), 6) AS DECIMAL(18,6)) AS s
       |  FROM tf JOIN dfreq USING (word) JOIN dl USING (doc_id), tot)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |  round(CAST(sum(s) AS DOUBLE), 4) AS bm25
       |FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id
       |LIMIT $Bm25TopK""".stripMargin
  }

  // ---- curation funnel, deterministic split, per-lang top quality ---------

  def curationFunnel(s: SparkSession, dir: String): DataFrame =
    Curation.curationFunnel(docs(s, dir), benchSplit = BenchSplit,
      shingleN = ShingleN, minJaccard = MinJaccard)

  def curatedDocs(s: SparkSession, dir: String): DataFrame =
    Curation.curatedCorpus(docs(s, dir), benchSplit = BenchSplit,
      shingleN = ShingleN, minJaccard = MinJaccard)

  def splitAssign(s: SparkSession, dir: String): DataFrame =
    Curation.deterministicSplit(docs(s, dir))

  def topQualityPerLang(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("lang")
      .orderBy(col("score").desc, col("doc_id"))
    docs(s, dir)
      .select(col("lang"), col("doc_id"),
        TextOps.qualityScore(col("text")).as("score"))
      .withColumn("rnk", rank().over(w).cast("bigint"))
      .filter(col("rnk") <= 3)
      .orderBy("lang", "rnk")
  }

  /** Token budget per packed training sequence. */
  val PackBudget = 512L

  def packSequences(s: SparkSession, dir: String): DataFrame =
    Curation.packSequences(docs(s, dir), budget = PackBudget)

  val packSequencesSql: String =
    s"""WITH t AS (SELECT source, doc_id,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |    AS n_toks FROM documents),
       |o AS (SELECT source, doc_id, n_toks,
       |  CAST(coalesce(sum(n_toks) OVER (PARTITION BY source
       |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
       |    AND 1 PRECEDING), 0) AS BIGINT) AS off FROM t)
       |SELECT source, doc_id, n_toks, off, off // $PackBudget AS bin
       |FROM o ORDER BY source, doc_id""".stripMargin

  /** Export shard fan-out / shuffle seed (mirrored in the oracle). */
  val ShardN = 8
  val ShardSeed = 42L

  def shardPlan(s: SparkSession, dir: String): DataFrame =
    Curation.shardPlan(docs(s, dir), nShards = ShardN, seed = ShardSeed)

  val shardPlanSql: String =
    s"""WITH t AS (SELECT doc_id,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |    AS n_toks,
       |  md5('$ShardSeed:' || CAST(doc_id AS VARCHAR)) AS skey
       |  FROM documents),
       |sh AS (SELECT doc_id, n_toks, skey,
       |  ('0x' || substr(skey, 1, 6))::BIGINT % $ShardN AS shard FROM t)
       |SELECT doc_id, shard,
       |  CAST(row_number() OVER w AS BIGINT) AS pos, n_toks,
       |  CAST(sum(n_toks) OVER w AS BIGINT) AS cum_toks
       |FROM sh WINDOW w AS (PARTITION BY shard ORDER BY skey, doc_id)
       |ORDER BY shard, pos""".stripMargin

  /** Per-language stratified sample on a deterministic md5 draw — the
    * same hash-not-random posture as Curation.mixtureSample (salted so
    * the draw is independent of every other selection), so the sample is
    * stable across runs, engines, and re-partitions AND oracle-checkable.
    * The per-stratum rates are the point of the operator; the draw
    * mechanism is stateless per-row — exactly what a 100 TB stratified
    * read wants (no sampleBy's per-partition RNG state).
    */
  val StratifiedRates: Seq[(String, Int)] = Seq("en" -> 2000, "es" -> 5000,
    "de" -> 5000, "fr" -> 5000, "zh" -> 5000) // keep-rate in bps

  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{concat, conv, md5, substring, when}
    import org.apache.spark.sql.types.{LongType, StringType}
    val bucket = conv(substring(md5(concat(lit("strat:"),
      col("doc_id").cast(StringType))), 1, 6), 16, 10).cast(LongType) % 10000
    val bps = StratifiedRates.foldRight(lit(0)) { case ((l, r), acc) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    docs(s, dir).filter(bucket < bps)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  lazy val sampleStratifiedSql: String = {
    val cases = StratifiedRates.map { case (l, r) => s"WHEN '$l' THEN $r" }
      .mkString(" ")
    s"""SELECT doc_id, lang, source FROM documents
       |WHERE ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)),
       |    1, 6))::BIGINT % 10000
       |  < CASE lang $cases ELSE 0 END
       |ORDER BY doc_id""".stripMargin
  }

  /** Chunking window: 64 words, 16 overlap (step 48). */
  val ChunkSize = 64
  val ChunkOverlap = 16

  def chunkDocs(s: SparkSession, dir: String): DataFrame =
    Curation.chunkDocuments(docs(s, dir), chunkSize = ChunkSize,
      overlap = ChunkOverlap)

  val chunkDocsSql: String = {
    val step = ChunkSize - ChunkOverlap
    s"""WITH t AS (SELECT doc_id,
       |  string_split_regex(trim(text), '\\s+') AS w FROM documents),
       |c AS (SELECT doc_id, w, unnest(range(0, len(w), $step)) AS start
       |  FROM t)
       |SELECT doc_id, CAST(start/$step AS BIGINT) AS chunk_id,
       |  CAST(start AS BIGINT) AS start,
       |  CAST(least($ChunkSize, len(w) - start) AS BIGINT) AS n_words,
       |  list_aggregate(w[start+1:start+$ChunkSize], 'string_agg', ' ')
       |    AS chunk
       |FROM c ORDER BY doc_id, chunk_id""".stripMargin
  }

  private val EnList =
    TextOps.Stopwords.head._2.map(x => s"'$x'").mkString(", ")

  /** The qualitySql score expression over a word-array column `w` —
    * structurally identical to [[TextOps.qualityScore]]'s tree.
    */
  private def scoreSql(w: String): String =
    s"floor((least(1.0, CAST(len($w) AS DOUBLE)/50.0)*0.3 + " +
      s"round(CAST(len(list_intersect($w, [$EnList])) AS DOUBLE)/len($w), 4)*0.3 + " +
      s"(1.0 - round(1.0 - CAST(len(list_distinct($w)) AS DOUBLE)/len($w), 4))*0.4)" +
      "*10000)/10000"

  /** `predictedLang != 'und'` reduces to "some stopword list matched":
    * greatest over the per-language distinct-intersection sizes > 0.
    */
  private val LangOkSql: String =
    TextOps.Stopwords.map { case (_, sw) =>
      "len(list_intersect(w, [" + sw.map(x => s"'$x'").mkString(", ") + "]))"
    }.mkString("greatest(", ", ", ") > 0")

  /** DuckDB n-gram shingle list comprehension over word array `w`. */
  private def shingleListSql(n: Int): String =
    if (n == 2) "[w[i] || ' ' || w[i+1] for i in range(1, len(w))]"
    else s"[list_aggregate(w[i:i+${n - 1}], 'string_agg', ' ') " +
      s"for i in range(1, len(w)-${n - 2})]"

  /** The shared stage-CTE chain (through `s5`, the curated corpus) —
    * prefix of both the funnel report and the curated-corpus oracle.
    */
  private val CurationCtes: String = {
    val contamN = Curation.DefaultContamN
    s"""base AS (SELECT doc_id, text,
       |  string_split_regex(trim(text), '\\s+') AS w,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |    AS n_toks FROM documents),
       |corpus AS (SELECT * FROM base WHERE doc_id >= $BenchSplit),
       |s1 AS (SELECT * FROM corpus WHERE $LangOkSql),
       |s2 AS (SELECT * FROM s1
       |  WHERE ${scoreSql("w")} >= ${Curation.DefaultMinScore}),
       |s3 AS (SELECT * FROM s2 QUALIFY doc_id = min(doc_id) OVER
       |  (PARTITION BY md5($NormSql))),
       |sh4 AS (SELECT DISTINCT doc_id, shingle FROM (SELECT doc_id,
       |  unnest(${shingleListSql(ShingleN)}) AS shingle FROM s3)),
       |keep4 AS (SELECT shingle FROM sh4 GROUP BY shingle
       |  HAVING count(*) <= ${Dedup.DefaultMaxDf}),
       |shk4 AS (SELECT sh4.* FROM sh4 JOIN keep4 USING (shingle)),
       |sz4 AS (SELECT doc_id, count(*) AS n FROM shk4 GROUP BY doc_id),
       |inter4 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    count(*) AS c FROM shk4 a JOIN shk4 b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |pairs4 AS (SELECT doc_a, doc_b FROM inter4
       |  JOIN sz4 sa ON sa.doc_id = doc_a JOIN sz4 sb ON sb.doc_id = doc_b
       |  WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= $MinJaccard),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs4
       |  UNION SELECT doc_b, doc_a FROM pairs4),
       |reach(src, dst) AS (SELECT src, dst FROM edges
       |  UNION SELECT r.src, e.dst FROM reach r JOIN edges e
       |    ON r.dst = e.src),
       |clusters AS (SELECT src AS doc_id, least(src, min(dst))
       |  AS cluster_id FROM reach GROUP BY src),
       |s4 AS (SELECT s3.* FROM s3 LEFT JOIN clusters USING (doc_id)
       |  WHERE cluster_id IS NULL OR cluster_id = doc_id),
       |sh5 AS (SELECT DISTINCT doc_id, shingle FROM (SELECT doc_id,
       |  unnest(${shingleListSql(contamN)}) AS shingle FROM s4)),
       |bench5 AS (SELECT DISTINCT shingle FROM (SELECT
       |  unnest(${shingleListSql(contamN)}) AS shingle FROM base
       |  WHERE doc_id < $BenchSplit)),
       |contam AS (SELECT c.doc_id,
       |    round(CAST(count(b.shingle) AS DOUBLE)/count(*), 4)
       |      AS contamination
       |  FROM sh5 c LEFT JOIN bench5 b USING (shingle) GROUP BY c.doc_id),
       |s5 AS (SELECT s4.* FROM s4 LEFT JOIN contam USING (doc_id)
       |  WHERE contamination IS NULL OR
       |    contamination < ${Curation.DefaultMaxContam})""".stripMargin
  }

  val curationFunnelSql: String = {
    def stageSel(no: Int, name: String, rel: String) =
      s"SELECT CAST($no AS BIGINT) AS stage, '$name' AS stage_name, " +
        "CAST(count(*) AS BIGINT) AS n_docs, " +
        s"CAST(coalesce(sum(n_toks), 0) AS BIGINT) AS n_tokens FROM $rel"
    s"""WITH RECURSIVE
       |$CurationCtes
       |SELECT * FROM (
       |  ${stageSel(0, "corpus", "corpus")}
       |  UNION ALL ${stageSel(1, "lang_id", "s1")}
       |  UNION ALL ${stageSel(2, "quality", "s2")}
       |  UNION ALL ${stageSel(3, "exact_dedup", "s3")}
       |  UNION ALL ${stageSel(4, "neardup_dedup", "s4")}
       |  UNION ALL ${stageSel(5, "decontaminated", "s5")})
       |ORDER BY stage""".stripMargin
  }

  val curatedDocsSql: String =
    s"""WITH RECURSIVE
       |$CurationCtes
       |SELECT doc_id, n_toks FROM s5 ORDER BY doc_id""".stripMargin

  val splitAssignSql: String =
    s"""SELECT doc_id, $SplitBucketSql AS bucket, $SplitCaseSql AS split
       |FROM documents ORDER BY doc_id""".stripMargin

  val topQualityPerLangSql: String =
    s"""$ToksCte,
       |m AS (SELECT lang, doc_id, ${scoreSql("w")} AS score
       |  FROM toks JOIN documents USING (doc_id)),
       |r AS (SELECT lang, doc_id, score, CAST(rank() OVER
       |  (PARTITION BY lang ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
       |  FROM m)
       |SELECT lang, doc_id, score, rnk FROM r WHERE rnk <= 3
       |ORDER BY lang, rnk""".stripMargin

  // --------------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curation_funnel_documents" -> (curationFunnel _),
    "curated_documents" -> (curatedDocs _),
    "split_assign_documents" -> (splitAssign _),
    "top_quality_per_lang" -> (topQualityPerLang _),
    "pack_sequences_documents" -> (packSequences _),
    "shard_plan_documents" -> (shardPlan _),
    "chunk_documents" -> (chunkDocs _),
    "semantic_dedup_pairs" -> (semanticDedup _),
    "semantic_dedup_ann_pairs" -> (semanticDedupAnn _),
    "semantic_dedup_ann_prod" -> (semanticDedupAnnProd _),
    "semantic_dedup_kmeans_prod" -> (semanticDedupKmeans _),
    "semantic_dedup_kmeans_check" -> (semanticDedupKmeansCheck _),
    "lm_surprisal_documents" -> (lmSurprisal _),
    "importance_weights_documents" -> (importanceWeights _),
    "mixture_plan_documents" -> (mixturePlan _),
    "mixture_sample_documents" -> (mixtureSample _),
    "bpe_pairs_documents" -> (bpePairs _),
    "bpe_merges_documents" -> (bpeMergesQ _),
    "bpe_encode_documents" -> (bpeEncodeQ _),
    "bpe_roundtrip_documents" -> (bpeRoundtripQ _),
    "length_band_documents" -> (lengthBand _),
    "filter_policy_documents" -> (filterPolicy _),
    "dedup_incremental_documents" -> (dedupIncremental _),
    "span_dup_documents" -> (spanDup _),
    "span_dedup_cut_documents" -> (spanDedupCut _),
    "block_dedup_documents" -> (blockDedup _),
    "split_leakage_documents" -> (splitLeakage _),
    "stream_curate_bounded" -> (curatedStreamBounded _),
    "stream_decontam_bounded" -> (contaminationStreamBounded _),
    "stream_neardup_bounded" -> (neardupStreamBounded _),
    "stream_ingest_bounded" -> (ingestStreamBounded _),
    "stream_blockdedup_bounded" -> (blockDedupStreamBounded _),
    "repetition_documents" -> (repetition _),
    "bm25_documents" -> (bm25Docs _),
    "sample_stratified_documents" -> (sampleStratified _),
    "dedup_exact_documents" -> (dedupExact _),
    "neardup_ngram_documents" -> (neardupNgram _),
    "contamination_documents" -> (contaminationDocs _),
    "contamination_bloom_documents" -> (contaminationBloomDocs _),
    "dedup_clusters_documents" -> (dedupClusters _),
    "pii_redact_customer" -> (piiRedactCustomer _),
    "neardup_minhash_documents" -> (neardupMinhash _),
    "neardup_minhash_collapsed_documents" -> (neardupMinhashCollapsed _),
    "simhash_documents" -> (simhashDocs _),
    "fingerprint_documents" -> (fingerprintDocs _),
    "langid_documents" -> (langId _),
    "quality_documents" -> (quality _),
    "normalize_text_documents" -> (normalizeText _),
    "classifier_quality_documents" -> (classifierQuality _),
    "tokencount_documents" -> (tokenCounts _),
    "vocab_documents" -> (vocab _),
    "tfidf_documents" -> (tfidf _),
    "corpus_stats_documents" -> (corpusStats _),
  )

  val oracles: Map[String, String] = Map(
    "curation_funnel_documents" -> curationFunnelSql,
    "curated_documents" -> curatedDocsSql,
    "split_assign_documents" -> splitAssignSql,
    "top_quality_per_lang" -> topQualityPerLangSql,
    "pack_sequences_documents" -> packSequencesSql,
    "shard_plan_documents" -> shardPlanSql,
    "chunk_documents" -> chunkDocsSql,
    "semantic_dedup_pairs" -> semanticDedupSql,
    "semantic_dedup_ann_pairs" -> semanticDedupAnnSql,
    "semantic_dedup_ann_prod" -> semanticDedupAnnProdSql,
    "semantic_dedup_kmeans_check" -> semanticDedupKmeansCheckSql,
    "lm_surprisal_documents" -> lmSurprisalSql,
    "importance_weights_documents" -> importanceWeightsSql,
    "mixture_plan_documents" -> mixturePlanSql,
    "mixture_sample_documents" -> mixtureSampleSql,
    "bpe_pairs_documents" -> bpePairsSql,
    "bpe_roundtrip_documents" -> TextOps.bpeRoundtripOracleSql,
    "length_band_documents" -> lengthBandSql,
    "filter_policy_documents" -> filterPolicySql,
    "dedup_incremental_documents" -> dedupIncrementalSql,
    "span_dup_documents" -> spanDupSql,
    "span_dedup_cut_documents" -> spanDedupCutSql,
    "block_dedup_documents" -> blockDedupSql,
    "split_leakage_documents" -> splitLeakageSql,
    "stream_curate_bounded" -> curatedStreamSql,
    "stream_decontam_bounded" -> contaminationSql,
    "stream_neardup_bounded" -> dedupIncrementalSql,
    "stream_ingest_bounded" -> ingestStreamSql,
    "stream_blockdedup_bounded" -> blockDedupStreamSql,
    "repetition_documents" -> repetitionSql,
    "bm25_documents" -> bm25Sql,
    "dedup_exact_documents" -> dedupExactSql,
    "neardup_ngram_documents" -> neardupNgramSql,
    "neardup_minhash_documents" -> neardupMinhashSql,
    "neardup_minhash_collapsed_documents" -> neardupMinhashCollapsedSql,
    "simhash_documents" -> simhashSql,
    "fingerprint_documents" -> fingerprintSql,
    "sample_stratified_documents" -> sampleStratifiedSql,
    "contamination_documents" -> contaminationSql,
    "contamination_bloom_documents" -> contaminationSql,
    "dedup_clusters_documents" -> dedupClustersSql,
    "pii_redact_customer" -> piiRedactSql,
    "langid_documents" -> langIdSql,
    "quality_documents" -> qualitySql,
    "normalize_text_documents" -> normalizeTextSql,
    "classifier_quality_documents" -> classifierQualitySql,
    "tokencount_documents" -> tokenCountsSql,
    "vocab_documents" -> vocabSql,
    "tfidf_documents" -> tfidfSql,
    "corpus_stats_documents" -> corpusStatsSql,
  )
}
