package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, StringType}

/** Evaluates data-quality tests — the engine core re-expressing the
  * reference's 25 column-test types (reference demo/input_data/data_tests.csv;
  * semantics per each type's description column, SURVEY.md §2.B) plus seven
  * extended types toward the reference's declared 32-generated-type surface
  * (reference README.md:207-209): Row_Ct_Pct, LOV_All, Max_Val,
  * Daily_Record_Ct, Valid_Month, Valid_US_Zip, Valid_Characters — and the
  * reference's "+2 custom test types" (Custom_Condition, Custom_Agg:
  * user-authored SQL shared verbatim with the oracle) — as ONE wide
  * Spark aggregation pass per table plus scalar threshold math.
  *
  * Execution shape (100 TB): all non-distinct measures for all tests on a
  * table are computed in a single `df.agg(...)` — one scan, partial
  * aggregation map-side, a one-row shuffle. Baseline statistics (captured
  * by a prior profiling run) and thresholds enter the plan as run-time
  * parameters ([[graft.functions.Param]]), so no join is needed at all and
  * the baseline-vs-measure comparison is scalar math. They are NOT
  * literals on purpose: an inlined double lands in the generated Java
  * source, so every refresh that moves a baseline would recompile every
  * pass; as parameters the generated classes depend only on the suite's
  * shape and are reused across refreshes.
  *
  * Distinct-counting measures (Unique, Unique_Pct, Distinct_Value_Ct,
  * Distinct_Date_Ct, and the weekly-monthly gap tests) are split into ONE
  * EXTRA PASS PER DISTINCT EXPRESSION, the passes run as concurrent
  * actions, and the driver assembles the result rows from their one-row
  * results (graft.operators.ConcurrentPasses). Rationale: k distinct
  * aggregates in a single agg() make Catalyst plan an Expand that replicates
  * EVERY input row k+1 times (the r1 dq_autogen query spent 119 s there at
  * sf0.1 — a guaranteed scale-killer at 100 TB). With one distinct
  * expression per pass, Spark plans the no-Expand two-stage distinct
  * aggregate, and column pruning means each extra pass scans only the one
  * column it needs. The passes are independent stages, so the scheduler can
  * overlap them.
  *
  * Tri-state result semantics (engine-defined, consistent across both the
  * Spark plan and the generated DuckDB oracle):
  *   - family "count"  (violation count must be <= threshold, usually 0):
  *       PASSED m<=T; WARNING m <= T + max(1, 0.5% of rows); else FAILED
  *   - family "floor"  (measure must be >= threshold):
  *       PASSED m>=T; WARNING m >= 0.95*T; else FAILED
  *   - family "sigma"  (z/SD-unit shift must be <= threshold):
  *       PASSED m<=T; WARNING m <= 1.5*T; else FAILED
  * matching the reference's Pass/Warning/Fail tri-state
  * (data_tests.csv col 6; PASSED/WARNING/FAILED mapping at reference
  * demo/demo/demo_helper.py:839-841).
  *
  * Every measure is deterministic cross-engine: counts are exact, sums go
  * through DECIMAL(28,6) (order-independent), and derived ratios/z-scores
  * apply the identical double formula on both sides (see Profiler notes).
  */
object TestEvaluator {

  /** Fixed evaluation instant for date-relative tests (Future_Date, Recency)
    * so results are reproducible across the Spark and oracle runs.
    */
  val AsOfDate = "2026-01-01"
  val AsOfTs = "2026-01-01 00:00:00"
  val AsOfPlus1YTs = "2027-01-01 00:00:00"

  val EmailRe = "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}$"

  val UsStates: Seq[String] = Seq(
    "AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "FL", "GA", "HI", "ID",
    "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD", "MA", "MI", "MN", "MS",
    "MO", "MT", "NE", "NV", "NH", "NJ", "NM", "NY", "NC", "ND", "OH", "OK",
    "OR", "PA", "RI", "SC", "SD", "TN", "TX", "UT", "VT", "VA", "WA", "WV",
    "WI", "WY", "DC", "PR")

  /** `distinctKey` names the distinct-aggregation expression the measure
    * needs (None = plain aggregate): measures sharing a key can share one
    * no-Expand aggregation pass; different keys must not be mixed.
    */
  /** `dateMeasure`, when defined, re-expresses the measure over a
    * DISTINCT-DATES relation (one row per distinct `to_date(column)`,
    * exposed as `__v`): the date-family tests (Distinct_Date_Ct,
    * Daily_Record_Ct, Monthly_Rec_Ct, Weekly_Rec_Ct) are all functions of
    * the distinct date set, so their passes share ONE deduplicating
    * exchange of the column instead of four full-table scans (Spark's
    * exchange reuse unifies the identical distinct() subplans).
    */
  case class Compiled(d: TestDef, measure: Column, measureSql: String,
                      threshold: Double, family: String, op: String,
                      message: String, distinctKey: Option[String] = None,
                      dateMeasure: Option[Column] = None)

  private val D = DoubleType
  private def esc(s: String) = s.replace("'", "''")

  // ---- paired Spark/SQL aggregate fragments ------------------------------
  private def cnt(cond: Column): Column = count(when(cond, 1)).cast(D)
  private def cntSql(cond: String): String =
    s"CAST(count(CASE WHEN $cond THEN 1 END) AS DOUBLE)"
  private def nAll: Column = count(lit(1)).cast(D)
  private val nAllSql = "CAST(count(*) AS DOUBLE)"
  private def nVal(c: Column): Column = count(c).cast(D)
  private def nValSql(cs: String) = s"CAST(count($cs) AS DOUBLE)"
  private def nDist(c: Column): Column = countDistinct(c).cast(D)
  private def nDistSql(cs: String) = s"CAST(count(DISTINCT $cs) AS DOUBLE)"
  private def sumDec(c: Column): Column =
    sum(c.cast(DecimalType(28, 6))).cast(D)
  private def sumDecSql(cs: String) =
    s"CAST(sum(CAST($cs AS DECIMAL(28,6))) AS DOUBLE)"
  private def ts(v: String): Column = to_timestamp(lit(v))
  // baseline-derived constants: read at run time, never inlined into
  // generated code (see graft.functions.Param)
  private def p(v: Double): Column = graft.functions.Param.double(v)
  private def pts(v: String): Column = graft.functions.Param.timestamp(v)

  /** Two-proportion z statistic |p1-p0|/se with pooled se; 0 when se==0.
    * x1/n1c are in-engine aggregates; x0/n0 baseline parameters.
    */
  private def zProp(x1: Column, n1c: Column, x0: Double,
                    n0: Double): Column = {
    val p0 = p(x0 / n0)
    val pooled = (x1 + p(x0)) / (n1c + p(n0))
    val se = sqrt(pooled * (lit(1.0) - pooled) *
      (p(1.0 / n0) + lit(1.0) / n1c))
    when(se > 0, round(abs(x1 / n1c - p0) / se, 4)).otherwise(0.0)
  }
  private def zPropSql(x1: String, n1: String, x0: Double,
                       n0: Double): String = {
    val p0 = (x0 / n0).toString
    val pooled = s"(($x1 + $x0)/($n1 + $n0))"
    val se = s"sqrt($pooled * (1.0 - $pooled) * (${1.0 / n0} + 1.0/$n1))"
    s"CASE WHEN $se > 0 THEN round(abs($x1/$n1 - $p0)/$se, 4) ELSE 0.0 END"
  }

  private def inListSql(cs: String, values: Seq[String]): String =
    values.map(v => s"'${esc(v)}'").mkString(s"$cs IN (", ", ", ")")

  // ------------------------------------------------------------------------

  /** `approxDistinct = true` swaps every exact distinct-count measure for
    * an HLL sketch (`approx_count_distinct`) — sketches need no Expand
    * and no separate pass, so the whole suite evaluates in ONE scan.
    * This is the at-scale mode, mirroring Profiler's: exact under oracle
    * parity, sketched when a ±2% distinct estimate is acceptable.
    */
  def compile(d: TestDef, approxDistinct: Boolean = false): Compiled = {
    val base = compileBase(d, approxDistinct)
    if (approxDistinct) return base // sketches share the base pass
    val dk = d.testType match {
      case "Unique_Pct" | "Unique" | "Distinct_Value_Ct" =>
        Some(s"col:${d.column}")
      // LOV_All's distinct is over a CASE expression, not the bare column —
      // sharing the col: pass would mix two distinct expressions in one
      // agg() and bring back the Expand this design exists to avoid
      case "LOV_All" =>
        Some(s"lovall:${d.column}:${d.pS("Baseline_Value").hashCode}")
      case "Distinct_Date_Ct" | "Daily_Record_Ct" =>
        Some(s"date:${d.column}")
      case "Monthly_Rec_Ct" => Some(s"month:${d.column}")
      case "Weekly_Rec_Ct"  => Some(s"week:${d.column}")
      case _                => None
    }
    base.copy(distinctKey = dk)
  }

  private def compileBase(d: TestDef, approxDistinct: Boolean): Compiled = {
    // shadows the object-level exact helper when sketching
    def nDist(c: Column): Column =
      if (approxDistinct) approx_count_distinct(c).cast(D)
      else countDistinct(c).cast(D)
    val c = col(d.column)
    val cs = d.column
    def T = d.pDOr("Threshold_Value", 0.0)
    def countFam(m: Column, sql: String, msg: String, thr: Double = -1) =
      Compiled(d, m, sql, if (thr >= 0) thr else T, "count", "<=", msg)
    def floorFam(m: Column, sql: String, msg: String, thr: Double) =
      Compiled(d, m, sql, thr, "floor", ">=", msg)
    def sigmaFam(m: Column, sql: String, msg: String, thr: Double) =
      Compiled(d, m, sql, thr, "sigma", "<=", msg)

    d.testType match {
      case "Alpha_Trunc" =>
        // max char length must not drop vs baseline (data_tests.csv:1)
        floorFam(max(length(c)).cast(D), s"CAST(max(length($cs)) AS DOUBLE)",
          "Maximum character length dropped vs. baseline.",
          d.pD("Baseline_Value") - T)

      case "Missing_Pct" =>
        // significant shift in % missing vs baseline (data_tests.csv:2)
        val n0 = d.pD("Baseline_Ct")
        val miss0 = n0 - d.pD("Baseline_Value_Ct")
        sigmaFam(zProp(nAll - nVal(c), nAll, miss0, n0),
          zPropSql(s"($nAllSql - ${nValSql(cs)})", nAllSql, miss0, n0),
          "Significant shift in missing-value percentage vs. baseline.", T)

      case "Unique_Pct" =>
        // significant shift in % unique vs baseline (data_tests.csv:3)
        val v0 = d.pD("Baseline_Value_Ct")
        val u0 = d.pD("Baseline_Unique_Ct")
        sigmaFam(zProp(nDist(c), nVal(c), u0, v0),
          zPropSql(nDistSql(cs), nValSql(cs), u0, v0),
          "Significant shift in unique-value percentage vs. baseline.", T)

      case "LOV_Match" =>
        // all values in baseline list-of-values (data_tests.csv:5)
        val values = TestDef.parseLov(d.pS("Baseline_Value"))
        countFam(cnt(c.isNotNull && !c.isin(values: _*)),
          cntSql(s"$cs IS NOT NULL AND NOT ${inListSql(cs, values)}"),
          "Values not matching expected List-of-Values from baseline.")

      case "Required" =>
        // non-null in every record (data_tests.csv:6)
        countFam((nAll - nVal(c)),
          s"($nAllSql - ${nValSql(cs)})",
          "Null values found in required column.")

      case "Distinct_Date_Ct" =>
        // count of distinct dates must not drop (data_tests.csv:7)
        floorFam(nDist(to_date(c)), nDistSql(s"CAST($cs AS DATE)"),
          "Distinct date count dropped vs. baseline.", T)
          .copy(dateMeasure = Some(count(col("__v")).cast(D)))

      case "Min_Date" =>
        // earliest date no earlier than baseline (data_tests.csv:8)
        val bv = d.pS("Baseline_Value")
        countFam(cnt(c < pts(bv)), cntSql(s"$cs < TIMESTAMP '$bv'"),
          "Dates earlier than baseline minimum found.", 0.0)

      case "Avg_Shift" =>
        // significant shift in mean vs baseline (data_tests.csv:11)
        val b = d.pD("Baseline_Avg"); val sd = d.pD("Baseline_SD")
        val avg1 = sumDec(c) / nVal(c)
        sigmaFam(
          when(nVal(c) > 0, round(abs(avg1 - p(b)) / p(sd), 4))
            .otherwise(0.0),
          s"CASE WHEN ${nValSql(cs)} > 0 THEN round(abs(${sumDecSql(cs)}/${nValSql(cs)} - $b)/$sd, 4) ELSE 0.0 END",
          "Significant shift in mean value vs. baseline.", T)

      case "Dec_Trunc" =>
        // sum of fractional parts >= baseline (data_tests.csv:12)
        floorFam(
          sum(c.cast(DecimalType(28, 6)) -
            floor(c).cast(DecimalType(28, 6))).cast(D),
          s"CAST(sum(CAST($cs AS DECIMAL(28,6)) - CAST(floor($cs) AS DECIMAL(28,6))) AS DOUBLE)",
          "Possible decimal truncation: fractional sum dropped vs. baseline.",
          T)

      case "Incr_Avg_Shift" =>
        // mean of NEW values vs baseline mean (data_tests.csv:13)
        val v0 = d.pD("Baseline_Value_Ct"); val s0 = d.pD("Baseline_Sum")
        val b = d.pD("Baseline_Avg"); val sd = d.pD("Baseline_SD")
        val incr = (sumDec(c) - p(s0)) / (nVal(c) - p(v0))
        sigmaFam(
          when(nVal(c) > p(v0), round(abs(incr - p(b)) / p(sd), 4))
            .otherwise(0.0),
          s"CASE WHEN ${nValSql(cs)} > $v0 THEN round(abs((${sumDecSql(cs)} - $s0)/(${nValSql(cs)} - $v0) - $b)/$sd, 4) ELSE 0.0 END",
          "Significant shift in mean of incremental values vs. baseline.", T)

      case "Min_Val" =>
        // minimum no lower than baseline minimum (data_tests.csv:14)
        val bound = d.pD("Baseline_Value") - T
        countFam(cnt(c < p(bound)), cntSql(s"$cs < $bound"),
          "Values lower than baseline minimum found.", 0.0)

      case "Outlier_IQR" =>
        // fraction outside Tukey fences [p25−1.5·IQR, p75+1.5·IQR]
        // derived from baseline quantiles (the profiler's p25/p75
        // characteristics); an extended outlier test alongside the
        // SD-based Outlier_Pct pair (data_tests.csv rows 22-23)
        val p25 = d.pD("Baseline_P25"); val p75 = d.pD("Baseline_P75")
        val iqr = p75 - p25
        val lo = p25 - 1.5 * iqr; val hi = p75 + 1.5 * iqr
        sigmaFam(
          when(nVal(c) > 0,
            round(cnt(c < p(lo) || c > p(hi)) / nVal(c), 4))
            .otherwise(0.0),
          s"CASE WHEN ${nValSql(cs)} > 0 THEN round(${cntSql(s"$cs < $lo OR $cs > $hi")}/${nValSql(cs)}, 4) ELSE 0.0 END",
          "Fraction of values outside the IQR fences exceeds threshold.",
          T)

      case "Custom_Condition" =>
        // the reference's "+2 custom test types" (README.md:207-209):
        // a user-supplied row-level boolean; violations are rows where it
        // does not hold. The SQL text is shared VERBATIM between the
        // Spark plan (expr) and the oracle — ANSI expressions only.
        val cond = d.pS("Condition")
        countFam(cnt(!expr(cond)), cntSql(s"NOT ($cond)"),
          "Rows violating the custom condition found.")

      case "Custom_Agg" =>
        // custom aggregate expression, floor-compared to the threshold
        val e = d.pS("Expression")
        floorFam(expr(e).cast(D), s"CAST($e AS DOUBLE)",
          "Custom aggregate fell below its threshold.", T)

      case "Max_Val" =>
        // maximum no higher than baseline maximum + threshold headroom
        // (extended counterpart of Min_Val, data_tests.csv:14)
        val bound = d.pD("Baseline_Value") + T
        countFam(cnt(c > p(bound)), cntSql(s"$cs > $bound"),
          "Values higher than baseline maximum found.", 0.0)

      case "Unique" =>
        // no repeated values (data_tests.csv "hcp_dim_id" row)
        countFam(nVal(c) - nDist(c),
          s"(${nValSql(cs)} - ${nDistSql(cs)})",
          "Duplicate values found in unique column.")

      case "Constant" =>
        // all values match baseline constant
        val bv = d.pS("Baseline_Value")
        val numeric = scala.util.Try(bv.toDouble).toOption
        numeric match {
          case Some(n) =>
            countFam(cnt(c =!= p(n)), cntSql(s"$cs <> $n"),
              "Values differing from baseline constant found.")
          case None =>
            countFam(cnt(c =!= lit(bv)), cntSql(s"$cs <> '${esc(bv)}'"),
              "Values differing from baseline constant found.")
        }

      case "Email_Format" =>
        countFam(cnt(c.isNotNull && !c.rlike(EmailRe)),
          cntSql(s"$cs IS NOT NULL AND NOT regexp_matches($cs, '$EmailRe')"),
          "Values not matching standard email format found.")

      case "Pattern_Match" =>
        // values match baseline-derived pattern (anchored full match)
        val pat = s"^(?:${d.pS("Baseline_Value")})$$"
        countFam(cnt(c.isNotNull && !c.rlike(pat)),
          cntSql(s"$cs IS NOT NULL AND NOT regexp_matches($cs, '${esc(pat)}')"),
          "Values not matching baseline alpha-numeric pattern found.")

      case "US_State" =>
        countFam(cnt(c.isNotNull && !c.isin(UsStates: _*)),
          cntSql(s"$cs IS NOT NULL AND NOT ${inListSql(cs, UsStates)}"),
          "Values that are not valid US states found.")

      case "Future_Date" =>
        countFam(cnt(c > ts(AsOfTs)), cntSql(s"$cs > TIMESTAMP '$AsOfTs'"),
          "Future dates found when absent in baseline.")

      case "Future_Date_1Y" =>
        countFam(cnt(c > ts(AsOfPlus1YTs)),
          cntSql(s"$cs > TIMESTAMP '$AsOfPlus1YTs'"),
          "Future dates beyond one year found when absent in baseline.")

      case "Recency" =>
        // max date recent enough (threshold = allowed days of staleness)
        sigmaFam(
          datediff(to_date(lit(AsOfDate)), max(to_date(c))).cast(D),
          s"CAST(date_diff('day', max(CAST($cs AS DATE)), DATE '$AsOfDate') AS DOUBLE)",
          "Data is staler than the baseline cadence allows.", T)

      case "Monthly_Rec_Ct" =>
        // >=1 record per calendar month in min/max range
        val expected = months_between(date_trunc("MONTH", max(c)),
          date_trunc("MONTH", min(c))) + lit(1.0)
        val v = col("__v")
        countFam(expected - nDist(trunc(to_date(c), "MM")),
          s"((CAST(date_diff('month', date_trunc('month', CAST(min($cs) AS DATE)), date_trunc('month', CAST(max($cs) AS DATE))) AS DOUBLE) + 1.0) - ${nDistSql(s"date_trunc('month', CAST($cs AS DATE))")})",
          "At least one date per month expected in min/max date range.")
          .copy(dateMeasure = Some(
            months_between(date_trunc("MONTH", max(v)),
              date_trunc("MONTH", min(v))) + lit(1.0) -
              nDist(trunc(v, "MM"))))

      case "Weekly_Rec_Ct" =>
        // >=1 record per calendar week (7-day buckets anchored Monday
        // 1970-01-05) in min/max range
        def widx(dc: Column) =
          floor(datediff(dc, to_date(lit("1970-01-05"))) / lit(7.0))
        def widxSql(e: String) =
          s"floor(date_diff('day', DATE '1970-01-05', $e)/7.0)"
        val expected = (widx(max(to_date(c))) - widx(min(to_date(c))))
          .cast(D) + lit(1.0)
        val v = col("__v")
        countFam(expected - nDist(widx(to_date(c))),
          s"((CAST(${widxSql(s"max(CAST($cs AS DATE))")} - ${widxSql(s"min(CAST($cs AS DATE))")} AS DOUBLE) + 1.0) - ${nDistSql(widxSql(s"CAST($cs AS DATE)"))})",
          "At least one date per week expected in min/max date range.")
          .copy(dateMeasure = Some(
            (widx(max(v)) - widx(min(v))).cast(D) + lit(1.0) -
              nDist(widx(v))))

      case "Outlier_Pct_Above" =>
        val hi = d.pD("Baseline_Avg") + 2 * d.pD("Baseline_SD")
        sigmaFam(
          when(nVal(c) > 0, round(cnt(c > p(hi)) / nVal(c), 6))
            .otherwise(0.0),
          s"CASE WHEN ${nValSql(cs)} > 0 THEN round(${cntSql(s"$cs > $hi")}/${nValSql(cs)}, 6) ELSE 0.0 END",
          "Percent of outliers above 2 SD over mean exceeds threshold.", T)

      case "Outlier_Pct_Below" =>
        val lo = d.pD("Baseline_Avg") - 2 * d.pD("Baseline_SD")
        sigmaFam(
          when(nVal(c) > 0, round(cnt(c < p(lo)) / nVal(c), 6))
            .otherwise(0.0),
          s"CASE WHEN ${nValSql(cs)} > 0 THEN round(${cntSql(s"$cs < $lo")}/${nValSql(cs)}, 6) ELSE 0.0 END",
          "Percent of outliers below 2 SD under mean exceeds threshold.", T)

      case "Row_Ct" =>
        // table row count must not drop vs baseline
        floorFam(nAll, nAllSql, "Record count dropped vs. baseline.", T)

      case "Row_Ct_Pct" =>
        // absolute percent deviation of row count vs baseline bounded
        val b = d.pD("Baseline_Ct")
        sigmaFam(round(abs(nAll - p(b)) / p(b) * 100, 4),
          s"round(abs($nAllSql - $b)/$b*100, 4)",
          "Record count differs from baseline by more than the allowed percent.",
          T)

      case "LOV_All" =>
        // every baseline value must still occur (count of missing members)
        val values = TestDef.parseLov(d.pS("Baseline_Value"))
        countFam(
          p(values.size.toDouble) - nDist(when(c.isin(values: _*), c)),
          s"(${values.size} - ${nDistSql(s"CASE WHEN ${inListSql(cs, values)} THEN $cs END")})",
          "Baseline values missing from the latest data.")

      case "Daily_Record_Ct" =>
        // >=1 record per day in min/max range
        val expected = datediff(max(to_date(c)), min(to_date(c)))
          .cast(D) + lit(1.0)
        val v = col("__v")
        countFam(expected - nDist(to_date(c)),
          s"((CAST(date_diff('day', min(CAST($cs AS DATE)), max(CAST($cs AS DATE))) AS DOUBLE) + 1.0) - ${nDistSql(s"CAST($cs AS DATE)")})",
          "At least one record per day expected in min/max date range.")
          .copy(dateMeasure = Some(
            datediff(max(v), min(v)).cast(D) + lit(1.0) -
              count(v).cast(D)))

      case "Valid_Month" =>
        // numeric month values must fall in 1..12
        countFam(cnt(c.isNotNull && (c < 1 || c > 12)),
          cntSql(s"$cs IS NOT NULL AND ($cs < 1 OR $cs > 12)"),
          "Values outside the valid month range 1-12 found.")

      case "Valid_US_Zip" =>
        val zipRe = "^[0-9]{5}(-[0-9]{4})?$"
        countFam(cnt(c.isNotNull && !c.rlike(zipRe)),
          cntSql(s"$cs IS NOT NULL AND NOT regexp_matches($cs, '$zipRe')"),
          "Values not matching US ZIP format found.")

      case "Valid_Characters" =>
        // control characters or the Unicode replacement char
        val badRe = "[\\x00-\\x1F\\x7F]"
        countFam(cnt(c.rlike(badRe)),
          cntSql(s"regexp_matches($cs, '$badRe')"),
          "Values containing non-printable characters found.")

      case "Distinct_Value_Ct" =>
        floorFam(nDist(c), nDistSql(cs),
          "Distinct value count dropped vs. baseline.", T)

      case other => throw new IllegalArgumentException(
        s"unknown test type: $other")
    }
  }

  private def statusExpr(family: String, m: Column, t: Column,
                         rc: Column): Column = family match {
    case "count" => when(m <= t, "PASSED")
      .when(m <= t + greatest(lit(1.0), round(lit(0.005) * rc, 0)), "WARNING")
      .otherwise("FAILED")
    case "floor" => when(m >= t, "PASSED")
      .when(m >= t * lit(0.95), "WARNING").otherwise("FAILED")
    case "sigma" => when(m <= t, "PASSED")
      .when(m <= t * lit(1.5), "WARNING").otherwise("FAILED")
  }

  private[quality] def statusSql(family: String): String = family match {
    case "count" =>
      "CASE WHEN measure <= threshold THEN 'PASSED' WHEN measure <= threshold + greatest(1.0, round(0.005 * rc, 0)) THEN 'WARNING' ELSE 'FAILED' END"
    case "floor" =>
      "CASE WHEN measure >= threshold THEN 'PASSED' WHEN measure >= threshold * 0.95 THEN 'WARNING' ELSE 'FAILED' END"
    case "sigma" =>
      "CASE WHEN measure <= threshold THEN 'PASSED' WHEN measure <= threshold * 1.5 THEN 'WARNING' ELSE 'FAILED' END"
  }

  /** Run all tests against one table: one base aggregation pass for plain
    * measures plus one narrow pass per distinct expression (see class doc),
    * the one-row passes executed as CONCURRENT Spark actions and their
    * rows recombined into one LocalRelation row
    * (graft.operators.ConcurrentPasses — the same rework that removed
    * the Profiler's serializing crossJoin/BNLJ spine in r8; values
    * bit-identical, only the recombination operator changed), from
    * which the driver builds the result rows. EAGER: the passes execute
    * at call time; callers that only want the pass PLANS use
    * [[suitePasses]].
    */
  def run(df: DataFrame, defs: Seq[TestDef],
          approxDistinct: Boolean = false): DataFrame = {
    require(defs.nonEmpty)
    val indexed = defs.map(compile(_, approxDistinct)).zipWithIndex
    // pass-plan memo (r15): the suite passes are a pure function of
    // (input plan, input files, defs, mode) — see
    // graft.operators.PassMemo; TestDef is a value class so the key
    // compares by content.
    val passes = graft.operators.PassMemo.passes(
      df, (defs, approxDistinct))(suitePasses(df, indexed))
    val agged = graft.operators.ConcurrentPasses.collectOneRow(
      df.sparkSession, passes)
    assemble(agged, indexed)
  }

  /** Several suites through ONE shared pass pool — each result
    * bit-identical to `run(df, defs)` alone, wall clock ≈ the widest
    * pass wave instead of the sum of tables (the Profiler.profileMany
    * pattern, r15): sequential run() calls are each EAGER, so
    * evaluating four tables back to back serializes their pools even
    * on an idle cluster. Used by the quickstart saga's evaluate step.
    */
  def runMany(inputs: Seq[(DataFrame, Seq[TestDef])],
              approxDistinct: Boolean = false): Seq[DataFrame] = {
    require(inputs.nonEmpty && inputs.forall(_._2.nonEmpty))
    val indexedPer = inputs.map { case (_, defs) =>
      defs.map(compile(_, approxDistinct)).zipWithIndex }
    val groups = inputs.zip(indexedPer).map { case ((df, defs), idx) =>
      graft.operators.PassMemo.passes(df, (defs, approxDistinct))(
        suitePasses(df, idx))
    }
    val aggeds = graft.operators.ConcurrentPasses.collectOneRowGroups(
      inputs.head._1.sparkSession, groups)
    indexedPer.zip(aggeds).map { case (idx, agged) => assemble(agged, idx) }
  }

  /** The aggregation passes one suite evaluation runs (base pass first),
    * exposed for plan-shape fences: QualitySpec asserts NO pass plans an
    * Expand — since the concurrent-collect rework the passes no longer
    * appear in the result frame's executed plan, so the fence must
    * target them directly (same pattern as Profiler.passesFor).
    */
  private[graft] def suitePasses(df: DataFrame,
                                 indexed: Seq[(Compiled, Int)])
      : Seq[DataFrame] = {
    val plain = indexed.filter(_._1.distinctKey.isEmpty)
    // plain measures split into ONE PASS PER COLUMN (plus the row-count
    // pass the count-family warning band needs, which always exists):
    // the generated autogen suites put ~100 aggregates on one table, and
    // a single agg() compiles an update method past the JVM's ~8 KB JIT
    // threshold — it runs interpreted (the same wide-agg pathology the
    // Profiler's per-column passes solved; measured here:
    // dq_approx_lineitem 4.4 s → per-column split ~2 s at sf0.1). Each
    // pass scans only the column(s) its measures reference (Catalyst
    // prunes), and the passes execute concurrently.
    val rcPass = df.agg(count(lit(1)).cast(D).as("__rc"))
    val basePasses = plain.groupBy(_._1.d.column).toSeq.sortBy(_._1)
      .map { case (_, ms) =>
        val aggs = ms.map { case (t, i) => t.measure.as(s"__m_$i") }
        df.agg(aggs.head, aggs.tail: _*)
      }
    // date-family distinct groups aggregate the distinct-DATES relation:
    // the identical distinct() subplans across the date:/month:/week:
    // groups of one column collapse to a single reused exchange
    (rcPass +: basePasses) ++ distinctSuitePasses(df, indexed)
  }

  /** Only the distinct-expression passes of a compiled suite (the
    * non-shared work the fused approx-check forks). Mirrors the
    * distinct-group construction in [[suitePasses]].
    */
  private def distinctSuitePasses(df: DataFrame,
                                  indexed: Seq[(Compiled, Int)])
      : Seq[DataFrame] = {
    val groups = indexed.groupBy(_._1.distinctKey)
      .collect { case (Some(k), ms) => k -> ms }.toSeq.sortBy(_._1)
    groups.map { case (key, ms) =>
      key.split(":", 2) match {
        case Array(k, c) if Set("date", "month", "week")(k) &&
            ms.forall(_._1.dateMeasure.isDefined) =>
          val dates = df.select(to_date(col(c)).as("__v")).distinct()
          val aggs = ms.map { case (t, i) =>
            t.dateMeasure.get.as(s"__m_$i") }
          dates.agg(aggs.head, aggs.tail: _*)
        case _ =>
          val aggs = ms.map { case (t, i) => t.measure.as(s"__m_$i") }
          df.agg(aggs.head, aggs.tail: _*)
      }
    }
  }

  /** Recombine the collected one-row measures (columns `__m_<i>` +
    * `__rc`) into the per-test result frame, built on the driver
    * (ConcurrentPasses.assembleRows) so reading it starts no Spark job.
    * Split out of [[run]] so the fused approx-check
    * ([[approxCheckFused]]) can assemble BOTH modes from one shared set
    * of collected passes.
    */
  private def assemble(agged: DataFrame,
                       indexed: Seq[(Compiled, Int)]): DataFrame = {
    // Per-test structs carry only literals + the measure reference; the
    // status/message/result_expr logic is applied ONCE generically over
    // the assembled rows (keyed by the test's comparison family).
    // Inlining that logic per test made the projection a ~3000-node
    // expression tree that cost more driver planning time than the
    // whole suite's execution.
    val structs = indexed.map { case (t, i) =>
      struct(
        lit(t.d.table).as("table_name"),
        lit(t.d.column).as("column_name"),
        lit(t.d.testType).as("test_type"),
        col(s"__m_$i").cast(D).as("measure"),
        p(t.threshold).as("threshold"),
        lit(t.family).as("family"),
        lit(t.op).as("op"),
        lit(t.message).as("message_raw"),
        col("__rc").as("rc"))
    }
    val m = col("measure"); val thr = col("threshold"); val rc = col("rc")
    val status = when(col("family") === "count",
        statusExpr("count", m, thr, rc))
      .when(col("family") === "floor", statusExpr("floor", m, thr, rc))
      .otherwise(statusExpr("sigma", m, thr, rc))
    // a projection over the assembled LocalRelation: folded on the
    // driver as well
    graft.operators.ConcurrentPasses
      .assembleRows(agged, structs, "column_name", "test_type")
      .select(
        col("table_name"), col("column_name"), col("test_type"), m, thr,
        status.as("status"),
        when(status === "PASSED", lit(null).cast(StringType))
          .otherwise(col("message_raw")).as("message"),
        when(m.isNull, lit(null).cast(StringType))
          .otherwise(concat(format_string("%.4f", m), lit(" "), col("op"),
            lit(" "), format_string("%.4f", thr))).as("result_expr"))
  }

  /** Test types whose measures ride the HLL distinct sketches in
    * approx mode — the QualitySpec band-tolerance set. */
  val DistinctBackedTypes: Set[String] = Set("Unique_Pct", "Unique",
    "Distinct_Value_Ct", "LOV_All", "Distinct_Date_Ct", "Daily_Record_Ct",
    "Monthly_Rec_Ct", "Weekly_Rec_Ct")

  /** Driver gate for the approx-distinct evaluation mode (the one-scan
    * 100 TB shape): exact and approx runs of the SAME suite joined per
    * (column, test), emitting one row per violation of the mode's
    * contract — distinct-backed tests may move at most ONE status band
    * (sketch error near a tight threshold), every other test must match
    * exactly in status AND measure (their measures ride the identical
    * base aggregation pass in both modes). Expected EMPTY; the DuckDB
    * oracle is a typed zero-row SELECT ([[approxCheckOracleSql]]), so
    * the driver's row/hash compare gates the sketch wiring — the
    * QualitySpec property, promoted to the correctness gate.
    *
    * The one-band contract assumes the suite's thresholds carry slack
    * (hand-authored suites do). A threshold sitting EXACTLY on the true
    * value (the autogen suites pin Distinct_Value_Ct's floor to the
    * baseline's true count) flips two bands under any sketch error —
    * gate such suites at the sketch source (ProfileCompare.approxCheck)
    * instead of at the verdict level.
    */
  def approxCheck(exact: DataFrame, approx: DataFrame): DataFrame = {
    def rank(st: Column): Column =
      when(st === "PASSED", 0).when(st === "WARNING", 1).otherwise(2)
    val e = exact.select(col("column_name"), col("test_type"),
      col("measure").as("exact_measure"), col("status").as("exact_status"))
    val a = approx.select(col("column_name"), col("test_type"),
      col("measure").as("approx_measure"),
      col("status").as("approx_status"))
    val bad = when(col("test_type").isin(DistinctBackedTypes.toSeq: _*),
        abs(rank(col("approx_status")) - rank(col("exact_status"))) > 1)
      .otherwise(col("approx_status") =!= col("exact_status") ||
        !(col("approx_measure") <=> col("exact_measure")))
    e.join(a, Seq("column_name", "test_type"))
      .filter(bad)
      .select(col("column_name"), col("test_type"), col("exact_status"),
        col("approx_status"), col("exact_measure"), col("approx_measure"))
      .orderBy("column_name", "test_type")
  }

  /** Fused exact-vs-approx audit gate: [[approxCheck]] over BOTH
    * evaluation modes of one suite computed from ONE shared base scan
    * (the r8 verdict's "What's wrong #2" applied to the dq tier: the
    * two modes ride identical plain measures by construction, so
    * running both pipelines in full pays a full extra table scan per
    * audit at 100 TB).
    *
    * One fused base pass carries the plain measures (bit-identical
    * Column trees in both modes), the approx mode's HLL sketch
    * measures (plain aggregates — no Expand, no extra pass), and the
    * shared row count; the exact mode's countDistinct passes remain
    * the only extra scans (narrow, one column each). Both result
    * frames are then assembled from selections of the one merged
    * LocalRelation row — values bit-identical to two standalone
    * [[run]] calls.
    */
  def approxCheckFused(df: DataFrame, defs: Seq[TestDef]): DataFrame = {
    require(defs.nonEmpty)
    val exactIdx = defs.map(compile(_)).zipWithIndex
    val approxIdx = defs.map(compile(_, approxDistinct = true)).zipWithIndex
    val distinctIdxs = exactIdx.collect {
      case (t, i) if t.distinctKey.isDefined => i
    }.toSet
    // fused base passes, one per column (see suitePasses on why a
    // single wide agg runs interpreted): exact plain measures (≡ approx
    // plain measures) as __m_i, approx sketch measures for the
    // distinct-backed tests as __am_i, plus the shared row-count pass
    val passes = graft.operators.PassMemo.passes(df, ("fusedDq", defs)) {
      val rcPass = df.agg(count(lit(1)).cast(D).as("__rc"))
      val fusedBase = approxIdx.groupBy(_._1.d.column).toSeq.sortBy(_._1)
        .map { case (_, ms) =>
          val aggs = ms.map { case (t, i) =>
            t.measure.as(if (distinctIdxs(i)) s"__am_$i" else s"__m_$i") }
          df.agg(aggs.head, aggs.tail: _*)
        }
      // the exact mode's distinct passes are the only non-shared scans
      (rcPass +: fusedBase) ++ distinctSuitePasses(df, exactIdx)
    }
    val merged = graft.operators.ConcurrentPasses.collectOneRow(
      df.sparkSession, passes)
    val exactSide = merged.select(merged.columns.collect {
      case c if !c.startsWith("__am_") => col(c)
    }: _*)
    val approxSide = merged.select(merged.columns.collect {
      case c if c.startsWith("__am_") =>
        col(c).as("__m_" + c.stripPrefix("__am_"))
      case c if !c.startsWith("__m_") || {
        val i = c.stripPrefix("__m_").toInt; !distinctIdxs(i)
      } => col(c)
    }: _*)
    approxCheck(assemble(exactSide, exactIdx),
      assemble(approxSide, approxIdx))
  }

  /** Typed zero-row oracle for [[approxCheck]]. */
  val approxCheckOracleSql: String =
    """SELECT CAST(NULL AS VARCHAR) AS column_name,
      |  CAST(NULL AS VARCHAR) AS test_type,
      |  CAST(NULL AS VARCHAR) AS exact_status,
      |  CAST(NULL AS VARCHAR) AS approx_status,
      |  CAST(NULL AS DOUBLE) AS exact_measure,
      |  CAST(NULL AS DOUBLE) AS approx_measure
      |WHERE false""".stripMargin

  /** DuckDB oracle mirror of [[run]] for a suite on one table. */
  def oracleSql(table: String, defs: Seq[TestDef]): String = {
    val parts = defs.map { d =>
      val t = compile(d)
      s"""SELECT table_name, column_name, test_type, measure, threshold, status,
         |  CASE WHEN status = 'PASSED' THEN CAST(NULL AS VARCHAR) ELSE '${esc(t.message)}' END AS message,
         |  CASE WHEN measure IS NULL THEN CAST(NULL AS VARCHAR) ELSE printf('%.4f', measure) || ' ${t.op} ' || printf('%.4f', threshold) END AS result_expr
         |FROM (SELECT *, ${statusSql(t.family)} AS status FROM
         |  (SELECT '${t.d.table}' AS table_name, '${t.d.column}' AS column_name, '${t.d.testType}' AS test_type,
         |    ${t.measureSql} AS measure, CAST(${t.threshold} AS DOUBLE) AS threshold, $nAllSql AS rc
         |   FROM $table))""".stripMargin
    }
    parts.mkString(
      "SELECT table_name, column_name, test_type, measure, threshold, status, message, result_expr FROM (\n",
      "\nUNION ALL\n",
      "\n) ORDER BY column_name, test_type")
  }
}
