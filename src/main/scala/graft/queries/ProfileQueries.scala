package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import graft.profile.{DriftPsi, ProfileCompare, ProfileOracle, Profiler,
  SchemaDrift}
import graft.quality.PinnedBaselines

/** Profiling surface wired into the driver contract (SparkEntry). */
object ProfileQueries {

  private def prof(table: String)(s: SparkSession, dir: String): DataFrame =
    Profiler.profile(Tables.load(s, dir, table), table)

  /** Migration/baseline comparison: live lineitem profile vs the pinned
    * sf0.001 baseline (reference README.md:211 source-vs-target compare).
    */
  private def compareLineitem(s: SparkSession, dir: String): DataFrame =
    ProfileCompare.diffAgainstPinned(Tables.load(s, dir, "lineitem"),
      "lineitem", PinnedBaselines.lineitem, s)

  /** PSI bins pinned from the sf0.001 l_extendedprice profile: uniform
    * decile bins over the observed [min, max] and the baseline fraction
    * of rows in each.
    */
  val PsiMin = 914.44
  val PsiMax = 104998.18
  val PsiCounts: Seq[Long] =
    Seq(604L, 596L, 611L, 585L, 615L, 589L, 566L, 627L, 620L, 587L)
  val PsiTotal = 6000L

  private def driftPsi(s: SparkSession, dir: String): DataFrame =
    DriftPsi.psi(Tables.load(s, dir, "lineitem"), "lineitem",
      "l_extendedprice", PsiMin, PsiMax, PsiCounts, PsiTotal, s)

  /** Incremental re-profile equality, driver-gated: split lineitem on a
    * deterministic key predicate into "standing corpus" and "new
    * partitions", profile each half independently, merge with
    * Profiler.mergeProfiles — and let the DuckDB oracle compute the
    * FULL-table profile. A hash match IS the incremental law
    * profile(old ∪ delta) == merge(profile(old), profile(delta)) on the
    * mergeable statistics, verified against an independent engine — the
    * "never re-profile the whole lake" contract at 100 TB.
    */
  private def profileMerge(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val li = Tables.load(s, dir, "lineitem")
    // both halves' passes ride ONE shared pool (profileMany): two
    // sequential eager profile() calls would serialize their pools and
    // double the wall clock of what is conceptually one scan's work
    val Seq(pa, pb) = Profiler.profileMany(Seq(
      li.filter(pmod(col("l_orderkey"), lit(4)) =!= 0) -> "lineitem",
      li.filter(pmod(col("l_orderkey"), lit(4)) === 0) -> "lineitem"))
    Profiler.mergeProfiles(pa, pb)
  }

  private val profileMergeSql: String =
    s"""SELECT ${Profiler.MergeableFields.mkString(", ")}
       |FROM (${ProfileOracle.sql("lineitem")})
       |ORDER BY column_name""".stripMargin

  /** The streaming incremental profiler (per-micro-batch profile →
    * mergeProfiles fold, StreamingOps.profileSummariesBounded) against
    * the full-table profile oracle on the mergeable fields — the
    * continuous-regime twin of `profile_merge_lineitem`'s incremental
    * law, over the events drop-folder replay.
    */
  private def streamProfileBounded(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingOps.profileSummariesBounded(dir).run(s)

  /** The incremental profiler killed after 2 of 4 staged files and
    * resumed from its checkpoint, with the fold keyed by batchId so a
    * replayed batch overwrites idempotently (see
    * StreamingOps.profileSummariesRestart) — same full-table oracle as
    * the uninterrupted fold: the hash proves no micro-batch was lost
    * or double-counted across the restart.
    */
  private def streamProfileRestart(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingOps.profileSummariesRestart(dir).run(s)

  private val streamProfileSql: String =
    s"""SELECT ${Profiler.MergeableFields.mkString(", ")}
       |FROM (${ProfileOracle.sql("events")})
       |ORDER BY column_name""".stripMargin

  /** Expected-empty contract gate over the streaming profiler's
    * MERGEABLE cardinality tier: the per-batch DataSketches HLL
    * sketches (hashed values), unioned across micro-batches by
    * `mergeProfiles`, must estimate each column's distinct count
    * within max(2, 10% of exact) of the exact batch answer — the same
    * bound the approx tier's gate uses. One row per violating column;
    * the DuckDB oracle is a typed zero-row SELECT.
    */
  private def streamProfileHllCheck(s: SparkSession, dir: String)
      : DataFrame = {
    import org.apache.spark.sql.functions._
    val fold = graft.streaming.StreamingOps
      .profileSummariesBounded(dir, withSketch = true).run(s)
      .select(col("column_name"),
        hll_sketch_estimate(col("distinct_sketch")).as("sketch_est"))
    val exact = Profiler.profile(Tables.load(s, dir, "events"), "events")
      .select(col("column_name"), col("distinct_ct"))
    fold.join(exact, "column_name")
      .filter(abs(col("sketch_est").cast("double") -
          col("distinct_ct").cast("double")) >
        greatest(lit(2.0), lit(0.1) * col("distinct_ct")))
      .select(col("column_name"),
        col("sketch_est").cast("bigint").as("sketch_est"),
        col("distinct_ct").as("exact_d"))
      .orderBy("column_name")
  }

  private val streamProfileHllCheckSql: String =
    """SELECT CAST(NULL AS VARCHAR) AS column_name,
      |  CAST(NULL AS BIGINT) AS sketch_est,
      |  CAST(NULL AS BIGINT) AS exact_d
      |WHERE false""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "profile_customer" -> prof("customer") _,
    "profile_orders" -> prof("orders") _,
    "profile_lineitem" -> prof("lineitem") _,
    "profile_events" -> prof("events") _,
    "profile_documents" -> prof("documents") _,
    "profile_embeddings" -> prof("embeddings") _,
    "topk_c_mktsegment" -> ((s: SparkSession, dir: String) =>
      Profiler.topK(Tables.load(s, dir, "customer"), "customer",
        "c_mktsegment", 10)),
    "topk_event_type" -> ((s: SparkSession, dir: String) =>
      Profiler.topK(Tables.load(s, dir, "events"), "events",
        "event_type", 10)),
    "profile_compare_lineitem" -> (compareLineitem _),
    // the two 100 TB profile shapes, exercised by the driver. The HLL
    // one-scan mode stays rows-only (sketch estimates are engine-specific
    // by design; ProfilerSpec property-checks it against the exact
    // profile); the sampled mode registers on a deterministic md5 draw
    // and carries a full oracle.
    "profile_approx_lineitem" -> ((s: SparkSession, dir: String) =>
      Profiler.profile(Tables.load(s, dir, "lineitem"), "lineitem",
        exactDistinct = false)),
    // expected-empty violation gate over the HLL mode (r5 verdict #1):
    // puts the approx tier under the driver's row/hash compare. FUSED
    // (r8 verdict #1b): both modes' profiles assemble from ONE shared
    // set of base scans — the exact countDistinct and the per-mode
    // percentile passes are the only extra work
    "profile_approx_check_lineitem" -> ((s: SparkSession, dir: String) =>
      Profiler.approxCheckFused(Tables.load(s, dir, "lineitem"),
        "lineitem")),
    "profile_sampled_lineitem" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{col, concat, lit}
      // md5-drawn 10% subset on the (l_orderkey, l_linenumber) row key +
      // exact distincts, so the scaled profile carries a full oracle;
      // the Bernoulli+HLL mode (hashKey=None) remains the cheap keyless
      // default and stays property-gated in ProfilerSpec
      Profiler.profileSampled(Tables.load(s, dir, "lineitem"), "lineitem",
        fraction = 0.1, exactDistinct = true,
        hashKey = Some(concat(col("l_orderkey"), lit(":"),
          col("l_linenumber"))))
    }),
    "schema_drift_events" -> ((s: SparkSession, dir: String) =>
      SchemaDrift.againstPinned(Tables.load(s, dir, "events"), "events", s)),
    "drift_psi_lineitem" -> (driftPsi _),
    "profile_merge_lineitem" -> (profileMerge _),
    "stream_profile_bounded" -> (streamProfileBounded _),
    "stream_profile_restart" -> (streamProfileRestart _),
    "stream_profile_hll_check" -> (streamProfileHllCheck _),
  )

  val oracles: Map[String, String] = Map(
    "profile_customer" -> ProfileOracle.sql("customer"),
    "profile_orders" -> ProfileOracle.sql("orders"),
    "profile_lineitem" -> ProfileOracle.sql("lineitem"),
    "profile_events" -> ProfileOracle.sql("events"),
    "profile_documents" -> ProfileOracle.sql("documents"),
    "profile_embeddings" -> ProfileOracle.sql("embeddings"),
    "topk_c_mktsegment" -> ProfileOracle.topKSql("customer", "c_mktsegment", 10),
    "topk_event_type" -> ProfileOracle.topKSql("events", "event_type", 10),
    "profile_compare_lineitem" ->
      ProfileCompare.pinnedOracleSql("lineitem", PinnedBaselines.lineitem),
    "schema_drift_events" -> SchemaDrift.oracleSql("events"),
    "profile_approx_check_lineitem" -> ProfileCompare.approxCheckOracleSql,
    "profile_sampled_lineitem" -> ProfileOracle.sampledSql("lineitem", 0.1,
      "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)"),
    "profile_merge_lineitem" -> profileMergeSql,
    "stream_profile_bounded" -> streamProfileSql,
    "stream_profile_restart" -> streamProfileSql,
    "stream_profile_hll_check" -> streamProfileHllCheckSql,
    "drift_psi_lineitem" -> DriftPsi.oracleSql("lineitem",
      "l_extendedprice", PsiMin, PsiMax, PsiCounts, PsiTotal),
  )
}
