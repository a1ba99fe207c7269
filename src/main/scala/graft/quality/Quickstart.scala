package graft.quality

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.jobs.MultiStepJob
import graft.profile.{ColProfile, Profiler}

/** The reference's FLAGSHIP quick-start flow as ONE registered query
  * (r10 verdict #4; reference `testgen quick-start` +
  * `export-observability`, dk-installer.py:2798,3342-3350): profile the
  * configured tables at RUNTIME → generate a test suite FROM that
  * profile → evaluate the generated suite on the same data → pack the
  * outcomes into API-shaped events and roll up per-(table, status)
  * counts — the four stages driven by the saga runner
  * ([[MultiStepJob]]), exactly the composition the reference's
  * MultiStepAction orchestrates.
  *
  * Oracle strategy — the curation_funnel CTE-chain pattern, taken one
  * level deeper: because the suite is generated from the SAME data it
  * evaluates, every generated threshold is a deterministic function of
  * statistics DuckDB can recompute. [[oracleSql]] therefore mirrors the
  * WHOLE chain in SQL: each generated test becomes a SELECT whose
  * baseline parameters are scalar subqueries built from
  * [[graft.profile.ProfileOracle]]'s stat expressions (identical
  * rounding and expression trees — the profiler parity rules), whose
  * measure is the SAME fragment [[TestEvaluator]]'s oracle emits for
  * that type, and whose tri-state status reuses
  * [[TestEvaluator.statusSql]]; the rollup aggregation then mirrors the
  * export tail. A hash match proves profile → generation → evaluation →
  * export END TO END: a wrong profiled stat, a mis-derived threshold, a
  * wrong measure, or a broken rollup all break it.
  *
  * WHICH tests generate is decided by the runtime profile on the Spark
  * side and by the pinned [[ColCfg]] facts on the oracle side — the
  * facts (null-freeness, uniqueness, cardinality bands, value domains,
  * pattern skeletons, date density) are properties of the harness data
  * family, pinned at the driver's verification scale (sf ≥ 0.01; two —
  * Unique vs Unique_Pct on the money columns, daily density on
  * l_shipdate — genuinely differ at sf0.001). QuickstartSpec asserts
  * the two decision paths emit the IDENTICAL (column, test_type) set at
  * sf0.01, the same parity contract ControlPlaneSpec pins for the
  * journey fixtures.
  *
  * Scale shape: profiling is [[Profiler.profileMany]] (one shared pass
  * pool over all four tables); generation is driver-side over the
  * per-column profile rows (control-plane-sized at any scale);
  * evaluation is the one-scan-per-table evaluator; export is a tiny
  * aggregation. Nothing here collects a data row.
  */
object Quickstart {

  /** Per-column generation facts, pinned for the verification scale
    * (sf ≥ 0.01) — the oracle-side twin of the runtime profile's
    * trigger decisions. All configured columns are null-free (the
    * harness tables carry no nulls in these columns at any SF).
    */
  final case class ColCfg(
      column: String, kind: String, // "num" | "str" | "ts"
      sqlCol: Option[String] = None, // oracle-side column expr override
      unique: Boolean = false, // distinct == valueCt
      distinctValueCt: Boolean = false, // 2 <= distinct <= 50
      lov: Seq[String] = Nil, // full value domain (static, SF-stable)
      pattern: Option[String] = None, // Pattern_Match skeleton
      decTrunc: Boolean = false, // frac_sum > 0
      dateFamily: Boolean = false, // timestamp test family
      monthlyDense: Boolean = false, // distinct dates >= 60
      dailyDense: Boolean = false) // span + 1 == distinct dates

  final case class TableCfg(table: String, cols: Seq[ColCfg])

  /** The quick-start column selection — three representative columns
    * per table (numeric / low-cardinality string / pattern or
    * timestamp), the reference's table-group include-list posture.
    * Facts verified against sf0.01/sf0.1 data (see scaladoc).
    */
  val Config: Seq[TableCfg] = Seq(
    TableCfg("customer", Seq(
      ColCfg("c_acctbal", "num", decTrunc = true),
      ColCfg("c_mktsegment", "str", distinctValueCt = true,
        lov = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY"),
        pattern = Some("[A-Za-z]+")),
      ColCfg("c_name", "str", unique = true,
        pattern = Some("[A-Za-z]+#[0-9]+")))),
    TableCfg("events", Seq(
      ColCfg("event_type", "str", distinctValueCt = true,
        lov = Seq("click", "error", "purchase", "signup", "view"),
        pattern = Some("[A-Za-z]+")),
      ColCfg("ts", "ts", sqlCol = Some("CAST(ts AS TIMESTAMP)"),
        unique = true, dateFamily = true),
      ColCfg("value", "num", decTrunc = true))),
    TableCfg("lineitem", Seq(
      ColCfg("l_quantity", "num", distinctValueCt = true),
      ColCfg("l_returnflag", "str", distinctValueCt = true,
        lov = Seq("A", "N", "R"), pattern = Some("[A-Za-z]+")),
      ColCfg("l_shipdate", "ts", dateFamily = true,
        monthlyDense = true, dailyDense = true))),
    TableCfg("orders", Seq(
      ColCfg("o_orderstatus", "str", distinctValueCt = true,
        lov = Seq("F", "O", "P"), pattern = Some("[A-Za-z]+")),
      ColCfg("o_totalprice", "num", decTrunc = true))))

  /** The export component the packed outcomes carry — shared with the
    * rollup gate (see [[OutcomeExport.RelationalComponent]]).
    */
  val Component: OutcomeExport.TestgenComponent =
    OutcomeExport.RelationalComponent

  val SuiteName = "quickstart-suite-1"

  /** The generate step's per-table core: configured-column filter, LOV
    * domain derivation from the data (count desc, value asc —
    * Profiler.topK order; the d ∈ (1, 20] bound is the generator's own
    * LOV trigger), then [[TestGenerator.generate]]. ONE definition:
    * QuickstartSpec's parity/non-vacuousness tests call this same code,
    * so a change to the trigger or ordering cannot pass the spec while
    * the registered query diverges.
    */
  def generateDefs(df: DataFrame, prof: DataFrame,
                   t: TableCfg): Seq[TestDef] = {
    val wanted = t.cols.map(_.column).toSet
    val cps = ColProfile.fromRows(prof).filter(cp => wanted(cp.column))
    val lovCols = cps
      .filter(cp => cp.dataType == "string" &&
        cp.distinctCt.exists(d => d > 1 && d <= 20))
      .map(_.column)
    val lovs =
      if (lovCols.isEmpty) Map.empty[String, Seq[String]]
      else {
        // ONE job for ALL LOV columns (r11 verdict #5; was one
        // groupBy-collect PER column — at 100 TB each LOV column cost
        // an extra full-table scan): unpivot the triggered columns to
        // (col_name, value) rows in the same scan and count in a
        // single grouped pass. The collect is control-plane-sized by
        // the trigger itself (≤ 20 values per column); the (count
        // desc, value asc) LOV order is imposed driver-side on those
        // bounded rows, identical to the old per-column orderBy.
        val counts = df
          .select(explode(array(lovCols.map(c =>
              struct(lit(c).as("col_name"),
                col(c).cast("string").as("value"))): _*)).as("kv"))
          .select(col("kv.col_name"), col("kv.value"))
          .filter(col("value").isNotNull)
          .groupBy("col_name", "value")
          .agg(count(lit(1)).as("ct"))
          .collect()
        // count ties break on the value's UTF-8 BYTE sequence, not Java
        // String order (r12 advice): the old per-column Spark orderBy
        // compared UTF8-binary, and Java's UTF-16 code-unit compare
        // disagrees with it for supplementary-vs-BMP characters — the
        // LOV order (hence the generated LOV tests) must not change
        // with the derivation strategy or diverge from a
        // binary-collating oracle.
        counts.groupBy(_.getString(0)).map { case (c, rows) =>
          c -> rows.sortBy(r => (-r.getLong(2), r.getString(1)))(
              Ordering.Tuple2(Ordering.Long,
                graft.operators.ConcurrentPasses.Utf8Order))
            .map(_.getString(1)).toSeq
        }
      }
    TestGenerator.generate(cps, lovs)
  }

  // ---- Spark side: the saga -----------------------------------------------

  /** profile → generate → evaluate → export, as saga steps sharing a
    * ctx. Any required-step failure marks the job failed and the caller
    * refuses to serve a partial rollup. (The compensation matrix itself
    * — skip/abort/finalizer ordering — is PipelineSpec's subject;
    * QuickstartSpec's failure-injection case kills THIS saga
    * mid-evaluate and asserts the compensation order and the rerun's
    * convergence.)
    */
  def run(s: SparkSession, dir: String): DataFrame = {
    val res = runJob(s, dir)
    require(res.succeeded, "quickstart saga failed: " +
      res.steps.map(st => s"${st.name}=${st.status}${
        st.message.map(m => s"($m)").getOrElse("")}").mkString(", "))
    res.ctx("rollup").asInstanceOf[DataFrame]
  }

  /** The saga with its full result exposed, plus a failure-injection
    * seam (r11 verdict #7, the `stream_liveness_availablenow` pattern):
    * `failHook(stepName)` runs at the top of every step's execute —
    * a hook that throws kills the job at that step. On failure each
    * EXECUTED step's compensation discards its partial ctx outputs in
    * REVERSE order (the saga contract), recording itself under
    * `compensated` so a harness can assert the order; a rerun then
    * starts from nothing and must converge to the uninterrupted
    * rollup.
    */
  def runJob(s: SparkSession, dir: String,
             failHook: String => Unit = _ => ())
      : MultiStepJob.JobResult = {
    import MultiStepJob._
    val tables = Config.map(_.table)
    def compensate(ctx: Ctx, name: String, keys: Seq[String]): Unit = {
      keys.foreach(ctx.remove)
      ctx.update("compensated", ctx.getOrElse("compensated",
        Seq.empty[String]).asInstanceOf[Seq[String]] :+ name)
    }
    val steps = Seq(
      new Step {
        val name = "profile"
        override def preExecute(ctx: Ctx): Unit =
          Config.foreach { t =>
            val missing = t.cols.map(_.column)
              .filterNot(Tables.load(s, dir, t.table).columns.contains)
            if (missing.nonEmpty)
              throw new AbortJob(
                s"${t.table} lacks configured columns $missing")
          }
        def execute(ctx: Ctx): Unit = {
          failHook(name)
          // profile only the CONFIGURED columns (r15, guide §1.2 "don't
          // compute things you throw away"): the generate step consumes
          // exactly the configured columns' stats (generateDefs filters
          // the profile to `t.cols`), so profiling every column of all
          // four tables paid ~4× the passes for rows nobody read. The
          // projection changes only `ordinal` in the dropped-anyway
          // rows; TestGenerator reads no ordinal, and QuickstartSpec's
          // parity gate pins the generated (column, test_type) set.
          val profiles = Profiler.profileMany(
            Config.map(t => (Tables.load(s, dir, t.table)
              .select(t.cols.map(c => col(c.column)): _*), t.table)))
          tables.zip(profiles).foreach { case (t, p) =>
            ctx.update(s"profile:$t", p)
          }
        }
        override def onJobFail(ctx: Ctx): Unit =
          compensate(ctx, name, tables.map(t => s"profile:$t"))
      },
      new Step {
        val name = "generate"
        def execute(ctx: Ctx): Unit = {
          failHook(name)
          Config.foreach { t =>
            val prof = ctx(s"profile:${t.table}").asInstanceOf[DataFrame]
            val defs = generateDefs(Tables.load(s, dir, t.table), prof, t)
            if (defs.isEmpty)
              throw new AbortJob(
                s"generation produced no tests for ${t.table}")
            ctx.update(s"defs:${t.table}", defs)
          }
        }
        override def onJobFail(ctx: Ctx): Unit =
          compensate(ctx, name, tables.map(t => s"defs:$t"))
      },
      new Step {
        val name = "evaluate"
        def execute(ctx: Ctx): Unit = {
          failHook(name)
          // all four tables' suites through ONE shared pass pool
          // (TestEvaluator.runMany, r15) instead of four serialized
          // eager evaluations — same values, widest-wave wall clock
          val outcomes = TestEvaluator.runMany(Config.map { t =>
            (Tables.load(s, dir, t.table),
              ctx(s"defs:${t.table}").asInstanceOf[Seq[TestDef]])
          })
          tables.zip(outcomes).foreach { case (t, o) =>
            ctx.update(s"outcomes:$t", o)
          }
        }
        override def onJobFail(ctx: Ctx): Unit =
          compensate(ctx, name, tables.map(t => s"outcomes:$t"))
      },
      new Step {
        val name = "export"
        def execute(ctx: Ctx): Unit = {
          failHook(name)
          val all = tables
            .map(t => ctx(s"outcomes:$t").asInstanceOf[DataFrame])
            .reduce(_ unionByName _)
          ctx.update("rollup", OutcomeExport.statusRollup(
            OutcomeExport.pack(all, SuiteName, component = Component)))
        }
        override def onJobFail(ctx: Ctx): Unit =
          compensate(ctx, name, Seq("rollup"))
      })
    MultiStepJob.execute(steps)
  }

  // ---- oracle side: the symbolic suite ------------------------------------

  /** One symbolically-generated test: the evaluator's measure fragment
    * with every baseline parameter a scalar subquery over the table.
    */
  final case class SymTest(column: String, testType: String,
                           family: String, measureSql: String,
                           thresholdSql: String)

  /** Mirror of [[TestGenerator.generate]]'s trigger/threshold logic with
    * profile statistics as DuckDB scalar-subquery expressions (stat
    * formulas from [[graft.profile.ProfileOracle]] — identical rounding
    * and expression-tree order, the profiler parity contract).
    */
  def symbolicTests(t: TableCfg): Seq[SymTest] = {
    val tbl = t.table
    def sub(agg: String) = s"(SELECT $agg FROM $tbl)"
    val nAll = "CAST(count(*) AS DOUBLE)"
    val rowCt = Seq(
      SymTest("N/A", "Row_Ct", "floor", nAll, sub(nAll)),
      SymTest("N/A", "Row_Ct_Pct", "sigma",
        s"round(abs($nAll - ${sub(nAll)})/${sub(nAll)}*100, 4)", "10.0"))

    val colTests = t.cols.flatMap { cc =>
      val cs = cc.sqlCol.getOrElse(cc.column)
      val c = cc.column
      def cnt(cond: String) =
        s"CAST(count(CASE WHEN $cond THEN 1 END) AS DOUBLE)"
      val nVal = s"CAST(count($cs) AS DOUBLE)"
      val nDist = s"CAST(count(DISTINCT $cs) AS DOUBLE)"
      // ProfileOracle stat expressions, verbatim shapes
      val s1 = s"sum(CAST($cs AS DECIMAL(28,6)))"
      val s2 = s"sum(CAST(CAST($cs AS DOUBLE)*CAST($cs AS DOUBLE) AS DECIMAL(28,6)))"
      val stdNum =
        s"CAST($s2 AS DOUBLE) - CAST($s1 AS DOUBLE)*CAST($s1 AS DOUBLE)/count($cs)"
      val avgB = sub(s"round(CAST($s1 AS DOUBLE)/count($cs), 4)")
      val sdB = sub(s"round(sqrt(greatest($stdNum, 0.0)/(count($cs) - 1)), 4)")
      val sumB = sub(s"CAST($s1 AS DOUBLE)")
      val mnB = sub(s"CAST(min($cs) AS DOUBLE)")
      val mxB = sub(s"CAST(max($cs) AS DOUBLE)")
      val fracB = sub(s"CAST(sum(CAST($cs AS DECIMAL(28,6)) - " +
        s"CAST(floor($cs) AS DECIMAL(28,6))) AS DOUBLE)")
      val p25B = sub(s"round(quantile_cont(CAST($cs AS DOUBLE), 0.25), 4)")
      val p75B = sub(s"round(quantile_cont(CAST($cs AS DOUBLE), 0.75), 4)")
      val vcB = sub(nVal)
      val dcB = sub(nDist)
      // two-proportion z with expression-valued baselines — the same
      // term order as TestEvaluator.zPropSql, p0 the same division
      def zProp(x1: String, n1: String, x0: String, n0: String) = {
        val p0 = s"($x0/$n0)"
        val pooled = s"(($x1 + $x0)/($n1 + $n0))"
        val se = s"sqrt($pooled * (1.0 - $pooled) * (1.0/$n0 + 1.0/$n1))"
        s"CASE WHEN $se > 0 THEN round(abs($x1/$n1 - $p0)/$se, 4) ELSE 0.0 END"
      }
      def inList(vs: Seq[String]) =
        vs.map(v => s"'${v.replace("'", "''")}'")
          .mkString(s"$cs IN (", ", ", ")")

      val b = Seq.newBuilder[SymTest]
      // all configured columns are null-free → Required
      b += SymTest(c, "Required", "count", s"($nAll - $nVal)", "0.0")
      if (cc.unique)
        b += SymTest(c, "Unique", "count", s"($nVal - $nDist)", "0.0")
      else
        b += SymTest(c, "Unique_Pct", "sigma",
          zProp(nDist, nVal, dcB, vcB), "0.5")
      if (cc.distinctValueCt)
        b += SymTest(c, "Distinct_Value_Ct", "floor", nDist, dcB)

      if (cc.kind == "str") {
        b += SymTest(c, "Alpha_Trunc", "floor",
          s"CAST(max(length($cs)) AS DOUBLE)",
          sub(s"CAST(max(length($cs)) AS DOUBLE)"))
        if (cc.lov.nonEmpty) {
          b += SymTest(c, "LOV_Match", "count",
            cnt(s"$cs IS NOT NULL AND NOT ${inList(cc.lov)}"), "0.0")
          b += SymTest(c, "LOV_All", "count",
            s"(${cc.lov.size} - CAST(count(DISTINCT CASE WHEN " +
              s"${inList(cc.lov)} THEN $cs END) AS DOUBLE))", "0.0")
        }
        b += SymTest(c, "Valid_Characters", "count",
          cnt(s"regexp_matches($cs, '[\\x00-\\x1F\\x7F]')"), "0.0")
        cc.pattern.foreach { p =>
          val pat = s"^(?:$p)$$"
          b += SymTest(c, "Pattern_Match", "count",
            cnt(s"$cs IS NOT NULL AND NOT regexp_matches($cs, " +
              s"'${pat.replace("'", "''")}')"), "0.0")
        }
      }

      if (cc.kind == "num") {
        b += SymTest(c, "Min_Val", "count", cnt(s"$cs < $mnB"), "0.0")
        b += SymTest(c, "Max_Val", "count",
          cnt(s"$cs > ($mxB + abs($mxB - $mnB))"), "0.0")
        b += SymTest(c, "Avg_Shift", "sigma",
          s"CASE WHEN $nVal > 0 THEN round(abs(CAST($s1 AS DOUBLE)/$nVal" +
            s" - $avgB)/$sdB, 4) ELSE 0.0 END", "0.5")
        b += SymTest(c, "Outlier_Pct_Above", "sigma",
          s"CASE WHEN $nVal > 0 THEN round(${cnt(s"$cs > ($avgB + 2*$sdB)")}" +
            s"/$nVal, 6) ELSE 0.0 END", "0.05")
        b += SymTest(c, "Outlier_Pct_Below", "sigma",
          s"CASE WHEN $nVal > 0 THEN round(${cnt(s"$cs < ($avgB - 2*$sdB)")}" +
            s"/$nVal, 6) ELSE 0.0 END", "0.05")
        b += SymTest(c, "Incr_Avg_Shift", "sigma",
          s"CASE WHEN $nVal > $vcB THEN round(abs((CAST($s1 AS DOUBLE) - " +
            s"$sumB)/($nVal - $vcB) - $avgB)/$sdB, 4) ELSE 0.0 END", "2.0")
        if (cc.decTrunc)
          b += SymTest(c, "Dec_Trunc", "floor",
            s"CAST(sum(CAST($cs AS DECIMAL(28,6)) - " +
              s"CAST(floor($cs) AS DECIMAL(28,6))) AS DOUBLE)", fracB)
        b += SymTest(c, "Outlier_IQR", "sigma",
          s"CASE WHEN $nVal > 0 THEN round(${cnt(
            s"$cs < ($p25B - 1.5*($p75B - $p25B)) OR " +
              s"$cs > ($p75B + 1.5*($p75B - $p25B))")}/$nVal, 4) " +
            "ELSE 0.0 END", "0.1")
      }

      if (cc.kind == "ts") {
        val asOf = TestEvaluator.AsOfDate
        b += SymTest(c, "Min_Date", "count",
          cnt(s"$cs < ${sub(s"min($cs)")}"), "0.0")
        b += SymTest(c, "Distinct_Date_Ct", "floor",
          s"CAST(count(DISTINCT CAST($cs AS DATE)) AS DOUBLE)",
          sub(s"CAST(count(DISTINCT CAST($cs AS DATE)) AS DOUBLE)"))
        b += SymTest(c, "Future_Date", "count",
          cnt(s"$cs > TIMESTAMP '${TestEvaluator.AsOfTs}'"), "0.0")
        b += SymTest(c, "Future_Date_1Y", "count",
          cnt(s"$cs > TIMESTAMP '${TestEvaluator.AsOfPlus1YTs}'"), "0.0")
        b += SymTest(c, "Recency", "sigma",
          s"CAST(date_diff('day', max(CAST($cs AS DATE)), DATE '$asOf') " +
            "AS DOUBLE)",
          s"CAST(${sub(s"date_diff('day', max(CAST($cs AS DATE)), " +
            s"DATE '$asOf')")} + 30 AS DOUBLE)")
        if (cc.monthlyDense) {
          b += SymTest(c, "Monthly_Rec_Ct", "count",
            s"((CAST(date_diff('month', date_trunc('month', " +
              s"CAST(min($cs) AS DATE)), date_trunc('month', " +
              s"CAST(max($cs) AS DATE))) AS DOUBLE) + 1.0) - " +
              s"CAST(count(DISTINCT date_trunc('month', " +
              s"CAST($cs AS DATE))) AS DOUBLE))", "0.0")
          b += SymTest(c, "Weekly_Rec_Ct", "count",
            s"((CAST(floor(date_diff('day', DATE '1970-01-05', " +
              s"max(CAST($cs AS DATE)))/7.0) - " +
              s"floor(date_diff('day', DATE '1970-01-05', " +
              s"min(CAST($cs AS DATE)))/7.0) AS DOUBLE) + 1.0) - " +
              s"CAST(count(DISTINCT floor(date_diff('day', " +
              s"DATE '1970-01-05', CAST($cs AS DATE))/7.0)) AS DOUBLE))",
            "0.0")
        }
        if (cc.dailyDense)
          b += SymTest(c, "Daily_Record_Ct", "count",
            s"((CAST(date_diff('day', min(CAST($cs AS DATE)), " +
              s"max(CAST($cs AS DATE))) AS DOUBLE) + 1.0) - " +
              s"CAST(count(DISTINCT CAST($cs AS DATE)) AS DOUBLE))",
            "0.0")
      }
      b.result()
    }
    rowCt ++ colTests
  }

  /** The expected (column, test_type) set per table — the parity hook
    * QuickstartSpec compares against the runtime generator's output.
    */
  def expectedTypes(t: TableCfg): Set[(String, String)] =
    symbolicTests(t).map(st => (st.column, st.testType)).toSet

  /** The full CTE-chain oracle: every symbolic test evaluated with the
    * shared tri-state status SQL, rolled up per (table, status) with the
    * component fields as literals — the exportRollup mirror over four
    * tables.
    */
  def oracleSql: String = {
    val perTest = Config.flatMap { t =>
      symbolicTests(t).map { st =>
        s"""SELECT '${t.table}' AS table_name,
           |  ${TestEvaluator.statusSql(st.family)} AS status
           |FROM (SELECT ${st.measureSql} AS measure,
           |  CAST(${st.thresholdSql} AS DOUBLE) AS threshold,
           |  CAST(count(*) AS DOUBLE) AS rc FROM ${t.table})""".stripMargin
      }
    }
    val c = Component
    val inL = c.includeList.map(v => s"'$v'").mkString(", ")
    s"""SELECT '${c.databaseName}' AS database_name,
       |  '${c.schemaName}' AS schema_name,
       |  '${c.connectionName}' AS connection_name,
       |  CAST(${c.version} AS BIGINT) AS cfg_version,
       |  '${c.groupId}' AS group_id,
       |  '${c.projectCode}' AS project_code,
       |  ${c.usesSampling} AS uses_sampling,
       |  table_name, table_name IN ($inL) AS include_listed,
       |  status, CAST(count(*) AS BIGINT) AS n_outcomes
       |FROM (
       |${perTest.mkString("\nUNION ALL\n")}
       |)
       |GROUP BY table_name, status ORDER BY table_name, status""".stripMargin
  }
}
