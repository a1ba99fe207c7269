package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.profile.Profiler
import graft.quality._

class QualitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def results(df: org.apache.spark.sql.DataFrame,
                      defs: Seq[TestDef]): Map[(String, String), (Double, String)] =
    TestEvaluator.run(df, defs).collect().map { r =>
      (r.getAs[String]("column_name"), r.getAs[String]("test_type")) ->
        (Option(r.getAs[Double]("measure")).getOrElse(Double.NaN),
         r.getAs[String]("status"))
    }.toMap

  test("param string parsing matches reference vocabulary") {
    val p = TestDef.parseParams("Baseline_Value=('No','Yes'), Threshold_Value=0 ")
    assert(p("Baseline_Value") == "('No','Yes')")
    assert(p("Threshold_Value") == "0")
    assert(TestDef.parseLov("('No','Yes')") == Seq("No", "Yes"))
    assert(TestDef.parseParams("Threshold_Value=0") ==
      Map("Threshold_Value" -> "0"))
  }

  test("parseLov is quote-aware: embedded commas and doubled quotes") {
    assert(TestDef.parseLov("('a,b','c')") == Seq("a,b", "c"))
    assert(TestDef.parseLov("('it''s','x')") == Seq("it's", "x"))
    assert(TestDef.parseLov("('No','Yes')") == Seq("No", "Yes"))
  }

  test("skeleton collapses char classes for pattern inference") {
    assert(TestGenerator.skeleton("Customer#000000001") ==
      "[A-Za-z]+#[0-9]+")
    assert(TestGenerator.skeleton("A") == "[A-Za-z]+")
    assert(TestGenerator.skeleton("a.b") == "[A-Za-z]+\\.[A-Za-z]+")
  }

  test("pinned-baseline generated suite is broad and self-consistent") {
    val defs = PinnedBaselines.lineitemDefs
    val types = defs.map(_.testType).toSet
    assert(types.size >= 18, s"only ${types.size} types: $types")
    assert(types.contains("LOV_Match") && types.contains("Pattern_Match") &&
      types.contains("Recency") && types.contains("Weekly_Rec_Ct"))
    // evaluated against its own baseline data → everything passes
    val df = Tables.load(spark, SparkTestSession.sf, "lineitem")
    val st = TestEvaluator.run(df, defs).collect()
      .map(_.getAs[String]("status")).toSet
    assert(st == Set("PASSED"))
    // same for the text-table generation path
    val docs = Tables.load(spark, SparkTestSession.sf, "documents")
    val docSt = TestEvaluator
      .run(docs, PinnedBaselines.documentsDefs).collect()
      .map(_.getAs[String]("status")).toSet
    assert(docSt == Set("PASSED"))
    assert(PinnedBaselines.documentsDefs.map(_.testType)
      .toSet.contains("LOV_All"))
  }

  test("re-evaluating a suite whose baselines moved compiles no new " +
      "code: baselines are run-time parameters, not inlined literals") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // every numeric or timestamp baseline and threshold moved, as a
    // refresh re-profile moves them; LOVs and patterns kept
    def shifted(k: Int): Seq[TestDef] = PinnedBaselines.lineitemDefs.map {
      d => d.copy(params = d.params.map {
        case (key, v) if key.startsWith("Baseline_") ||
            key == "Threshold_Value" =>
          key -> scala.util.Try(v.trim.toDouble).map(x =>
              (x * (1 + 0.1 * k) + k).toString)
            .orElse(scala.util.Try(java.sql.Timestamp.valueOf(v.trim))
              .map(t => new java.sql.Timestamp(
                t.getTime + k * 86400000L).toString))
            .getOrElse(v)
        case kv => kv
      })
    }
    val df = Tables.load(spark, SparkTestSession.sf, "lineitem")
    def thresholds(defs: Seq[TestDef]) =
      TestEvaluator.run(df, defs).collect().map(r =>
        (r.getAs[String]("column_name"), r.getAs[String]("test_type")) ->
          r.getAs[Double]("threshold")).toMap
    thresholds(shifted(1))
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val got = thresholds(shifted(2))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiles == 0, s"$compiles classes recompiled for new baselines")
    // ...and the new values did reach the plan
    val want = shifted(2).map(TestEvaluator.compile(_)).map(t =>
      (t.d.column, t.d.testType) -> t.threshold).toMap
    assert(got == want)
    assert(want != shifted(1).map(TestEvaluator.compile(_)).map(t =>
      (t.d.column, t.d.testType) -> t.threshold).toMap)
  }

  test("generator emits format tests when LOV evidence fits") {
    val df = Seq("a@x.com", "b@y.org", "a@x.com").toDF("email")
      .withColumn("state",
        org.apache.spark.sql.functions.lit("CA"))
    val defs = TestGenerator.generate(Profiler.profile(df, "t"),
      lovs = Map("email" -> Seq("a@x.com", "b@y.org"),
        "state" -> Seq("CA")))
    val types = defs.groupBy(_.column).view
      .mapValues(_.map(_.testType).toSet)
    assert(types("email").contains("Email_Format"))
    assert(types("state").contains("US_State"))
    assert(types("state").contains("Constant"))
    assert(!types("email").contains("US_State"))
  }

  test("extended test types: months, zips, control chars, LOV_All, daily") {
    val df = Seq(
      (1, "90210", "ok", "2024-01-01 00:00:00"),
      (13, "1234", "bad\u0001", "2024-01-02 00:00:00"),
      (6, "12345-6789", "fine", "2024-01-04 00:00:00"),
    ).toDF("m", "zip", "s", "d")
      .withColumn("d", org.apache.spark.sql.functions.to_timestamp(
        org.apache.spark.sql.functions.col("d")))
    val r = results(df, Seq(
      TestDef("t", "m", "Valid_Month", Map("Threshold_Value" -> "0")),
      TestDef("t", "zip", "Valid_US_Zip", Map("Threshold_Value" -> "0")),
      TestDef("t", "s", "Valid_Characters", Map("Threshold_Value" -> "0")),
      TestDef("t", "s", "LOV_All",
        Map("Baseline_Value" -> "('ok','fine','gone')",
          "Threshold_Value" -> "0")),
      TestDef("t", "d", "Daily_Record_Ct", Map("Threshold_Value" -> "0")),
      TestDef("t", "N/A", "Row_Ct_Pct",
        Map("Baseline_Ct" -> "4", "Threshold_Value" -> "30"))))
    assert(r(("m", "Valid_Month"))._1 == 1.0)       // 13
    assert(r(("zip", "Valid_US_Zip"))._1 == 1.0)    // 1234
    assert(r(("s", "Valid_Characters"))._1 == 1.0)  // control char
    assert(r(("s", "LOV_All"))._1 == 1.0)           // 'gone' missing
    assert(r(("d", "Daily_Record_Ct"))._1 == 1.0)   // Jan 3 missing
    assert(r(("N/A", "Row_Ct_Pct"))._1 == 25.0)     // 3 vs 4 → 25%
    assert(r(("N/A", "Row_Ct_Pct"))._2 == "PASSED")
  }

  test("hygiene detectors fire on planted dirt") {
    val df = Seq(
      (" padded ", "42", Some(0.0), "1970-01-01 00:00:00"),
      ("clean", "7", Some(0.0), "2024-05-01 00:00:00"),
      ("x", "9", None, "2030-01-01 00:00:00"),
    ).toDF("s", "numstr", "z", "d")
      .withColumn("d", org.apache.spark.sql.functions.to_timestamp(
        org.apache.spark.sql.functions.col("d")))
    val fired = Hygiene.report(df, "t").collect()
      .filter(_.getAs[Boolean]("triggered"))
      .map(r => (r.getAs[String]("column_name"),
        r.getAs[String]("detector"))).toSet
    assert(fired.contains(("s", "untrimmed_values")))
    assert(fired.contains(("numstr", "numeric_as_string")))
    assert(fired.contains(("z", "zero_heavy")))
    assert(fired.contains(("z", "zero_variance")))
    assert(fired.contains(("z", "high_missing"))) // 1 of 3 null
    assert(fired.contains(("d", "future_dates")))
    assert(fired.contains(("d", "epoch_defaults")))
    assert(!fired.contains(("s", "numeric_as_string")))
  }

  test("round-2 hygiene detectors fire on planted dirt") {
    val df = Seq(
      ("007", "N/A", "ABC", Some(3.0), Some(-1.0), "1940-01-01 00:00:00"),
      ("12", "ok  dbl", "abc", Some(4.0), Some(50.0), "2024-05-06 00:00:00"),
      ("9", "café", "Mixed", Some(5.0), Some(60.0), "2024-05-13 00:00:00"),
    ).toDF("numstr", "s", "cased", "intish", "sent", "d")
      .withColumn("d", org.apache.spark.sql.functions.to_timestamp(
        org.apache.spark.sql.functions.col("d")))
    val rows = Hygiene.report(df, "t").collect()
    val fired = rows.filter(_.getAs[Boolean]("triggered"))
      .map(r => (r.getAs[String]("column_name"),
        r.getAs[String]("detector"))).toSet
    assert(fired.contains(("numstr", "leading_zero_numbers")))
    assert(fired.contains(("s", "dummy_values")))
    assert(fired.contains(("s", "multi_space_values")))
    assert(fired.contains(("s", "non_ascii_values")))
    assert(fired.contains(("cased", "case_inconsistency")))
    assert(fired.contains(("intish", "integer_as_float")))
    assert(fired.contains(("sent", "sentinel_values"))) // -1
    assert(fired.contains(("d", "far_past_dates")))
    assert(fired.contains(("d", "single_weekday"))) // all Mondays
    assert(fired.contains(("d", "midnight_only")))
    // 27 distinct detectors across the registered type classes
    val names = rows.map(_.getAs[String]("detector")).toSet
    assert(names.size == 27, names)
  }

  test("IQR outlier test fires on heavy tails, passes on uniform data") {
    // uniform 0..99: fences are far outside the data → fraction 0
    val uniform = Seq.tabulate(100)(_.toDouble).toDF("x")
    val defs = Seq(TestDef("t", "x", "Outlier_IQR",
      Map("Baseline_P25" -> "25.0", "Baseline_P75" -> "75.0",
        "Threshold_Value" -> "0.1")))
    assert(results(uniform, defs)(("x", "Outlier_IQR")) == (0.0, "PASSED"))
    // shifted regime: most values land outside the old fences → FAILED
    val shifted = Seq.tabulate(100)(i => 500.0 + i).toDF("x")
    val (m, s) = results(shifted, defs)(("x", "Outlier_IQR"))
    assert(m == 1.0 && s == "FAILED")
    // generator emits it when quantile characteristics are present
    val prof = graft.profile.ColProfile.fromRows(
      graft.profile.Profiler.profile(uniform, "t"))
    val gen = TestGenerator.generate(prof, Map.empty)
    assert(gen.exists(_.testType == "Outlier_IQR"))
  }

  test("custom condition and aggregate tests evaluate user SQL") {
    val df = Seq((1.0, 10.0), (2.0, 20.0), (60.0, 30.0)).toDF("q", "p")
    val r = results(df, Seq(
      TestDef("t", "q", "Custom_Condition",
        Map("Condition" -> "q >= 1 AND q <= 50", "Threshold_Value" -> "0")),
      TestDef("t", "p", "Custom_Agg",
        Map("Expression" -> "CAST(sum(p) AS DOUBLE)",
          "Threshold_Value" -> "100"))))
    assert(r(("q", "Custom_Condition"))._1 == 1.0) // 60.0 violates
    assert(r(("p", "Custom_Agg")) == (60.0, "FAILED")) // 60 < 100 floor
  }

  test("approx-distinct mode evaluates in one scan with matching statuses") {
    val df = Tables.load(spark, SparkTestSession.sf, "lineitem")
    val exact = TestEvaluator.run(df, Suites.lineitem)
    val approx = TestEvaluator.run(df, Suites.lineitem,
      approxDistinct = true)
    // one scan: no crossJoin recombination in the plan
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    // sketch error (~2%) may move a distinct-backed verdict into the
    // adjacent band near a tight threshold; it must never cross two
    // bands, and non-distinct tests are untouched by the mode
    val distinctBacked = Set("Unique_Pct", "Unique", "Distinct_Value_Ct",
      "LOV_All", "Distinct_Date_Ct", "Daily_Record_Ct", "Monthly_Rec_Ct",
      "Weekly_Rec_Ct")
    def statuses(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getAs[String]("column_name"),
        r.getAs[String]("test_type")) -> r.getAs[String]("status")).toMap
    val e = statuses(exact); val a = statuses(approx)
    val rank = Map("PASSED" -> 0, "WARNING" -> 1, "FAILED" -> 2)
    e.foreach { case (k @ (_, tt), es) =>
      if (distinctBacked(tt))
        assert(math.abs(rank(a(k)) - rank(es)) <= 1, s"$k: $es -> ${a(k)}")
      else assert(a(k) == es, s"$k: $es -> ${a(k)}")
    }
  }

  test("outcome export round-trips the nested TestOutcomes shape") {
    import graft.quality.OutcomeExport
    val df = Tables.load(spark, SparkTestSession.sf, "customer")
    val results = TestEvaluator.run(df, Suites.customer)
    val n = results.count()
    val events = OutcomeExport.pack(results, "suite-1", chunkSize = 7)
    val evs = events.collect()
    assert(evs.length == ((n + 6) / 7).toInt) // ceil(n/7) chunks of ≤7
    assert(evs.map(_.getAs[Long]("n_outcomes")).sum == n)
    val back = OutcomeExport.unpack(events).collect()
    assert(back.length == n.toInt)
    // content round-trips (order within a chunk is not significant)
    val got = back.map(r => (r.getAs[String]("table_name"),
      r.getAs[String]("column_name"), r.getAs[String]("name"),
      r.getAs[String]("status"))).toSet
    val want = results.collect().map(r => (r.getAs[String]("table_name"),
      r.getAs[String]("column_name"), r.getAs[String]("test_type"),
      r.getAs[String]("status"))).toSet
    assert(got == want)
    // the A7-style threshold lift out of the nested params array works
    assert(back.forall(r => r.getAs[String]("threshold_param") ==
      f"${r.getAs[Double]("max_threshold")}%.4f"))
  }

  test("packed events carry the 4-level component-integration block and " +
    "the reference's last-outcome parameter lifts") {
    import graft.quality.OutcomeExport
    val df = Tables.load(spark, SparkTestSession.sf, "customer")
    val results = TestEvaluator.run(df, Suites.customer)
    val comp = OutcomeExport.TestgenComponent(
      includeList = Seq("customer", "nope"))
    val events = OutcomeExport.pack(results, "s1", chunkSize = 7,
      component = comp)
    val ev = events.collect()
    // dataset-level block: every 4-level field survives verbatim
    ev.foreach { r =>
      val tg = r.getAs[org.apache.spark.sql.Row]("component_integrations")
        .getAs[org.apache.spark.sql.Row]("integrations")
        .getAs[org.apache.spark.sql.Row]("testgen")
      assert(tg.getAs[String]("database_name") == comp.databaseName)
      assert(tg.getAs[String]("schema") == comp.schemaName)
      assert(tg.getAs[org.apache.spark.sql.Row]("tables")
        .getSeq[String](tg.getAs[org.apache.spark.sql.Row]("tables")
          .fieldIndex("include_list")).toSeq == comp.includeList)
      val cfg = tg.getAs[org.apache.spark.sql.Row](
        "table_group_configuration")
      assert(cfg.getAs[String]("group_id") == comp.groupId)
      assert(cfg.getAs[String]("project_code") == comp.projectCode)
      assert(!cfg.getAs[Boolean]("uses_sampling"))
    }
    // event-level lift: max_threshold/metric_value come from the LAST
    // outcome of the chunk in the deterministic packing order
    // (demo_helper.py:880-886 keeps overwriting while iterating)
    val ordered = results.orderBy("table_name", "column_name", "test_type")
      .collect()
    ev.foreach { r =>
      val chunk = r.getAs[Long]("chunk").toInt
      val last = ordered(math.min((chunk + 1) * 7, ordered.length) - 1)
      assert(r.getAs[Double]("max_threshold") ==
        last.getAs[Double]("threshold"))
      assert(r.getAs[Double]("metric_value") ==
        last.getAs[Double]("measure"))
    }
    // the rollup traverses both nested paths and lands on the flat truth
    val roll = OutcomeExport.statusRollup(events).collect()
    val want = results.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(roll.map(r => r.getAs[String]("status") ->
      r.getAs[Long]("n_outcomes")).toMap == want)
    assert(roll.forall(_.getAs[Boolean]("include_listed")))
    assert(roll.forall(_.getAs[String]("group_id") == comp.groupId))
  }

  test("count-family tri-state: pass, warn band, fail") {
    val df = Seq.tabulate(1000)(i => (i.toLong,
      if (i < 3) null else "x")).toDF("id", "s")
    // 3 nulls, T=0, warn band = max(1, 0.005*1000=5) → WARNING
    val warn = results(df, Seq(TestDef("t", "s", "Required",
      Map("Threshold_Value" -> "0"))))
    assert(warn(("s", "Required")) == (3.0, "WARNING"))
    // T=3 → PASSED
    val pass = results(df, Seq(TestDef("t", "s", "Required",
      Map("Threshold_Value" -> "3"))))
    assert(pass(("s", "Required"))._2 == "PASSED")
    // 30 nulls → beyond band → FAILED
    val df2 = Seq.tabulate(1000)(i => (i.toLong,
      if (i < 30) null else "x")).toDF("id", "s")
    val fail = results(df2, Seq(TestDef("t", "s", "Required",
      Map("Threshold_Value" -> "0"))))
    assert(fail(("s", "Required")) == (30.0, "FAILED"))
  }

  test("floor and sigma families") {
    val df = Seq.tabulate(100)(i => i.toDouble).toDF("x")
    val r = results(df, Seq(
      TestDef("t", "x", "Row_Ct", Map("Threshold_Value" -> "100")),
      TestDef("t", "x", "Distinct_Value_Ct",
        Map("Baseline_Value" -> "100", "Threshold_Value" -> "104")),
      TestDef("t", "x", "Avg_Shift", Map("Baseline_Value_Ct" -> "100",
        "Baseline_Avg" -> "49.5", "Baseline_SD" -> "29.0114919758820247",
        "Threshold_Value" -> "0.5"))))
    assert(r(("x", "Row_Ct")) == (100.0, "PASSED"))
    // 100 >= 0.95*104=98.8 → WARNING
    assert(r(("x", "Distinct_Value_Ct"))._2 == "WARNING")
    // identical mean → z=0 → PASSED
    assert(r(("x", "Avg_Shift")) == (0.0, "PASSED"))
  }

  test("violation detectors count correctly") {
    val df = Seq("AL", "CA", "XX", "aa@bb.com", null)
      .toDF("v")
    val r = results(df, Seq(
      TestDef("t", "v", "US_State", Map("Threshold_Value" -> "0")),
      TestDef("t", "v", "Email_Format", Map("Threshold_Value" -> "0")),
      TestDef("t", "v", "LOV_Match",
        Map("Baseline_Value" -> "('AL','CA')", "Threshold_Value" -> "0")),
      TestDef("t", "v", "Unique", Map("Threshold_Value" -> "0"))))
    assert(r(("v", "US_State"))._1 == 2.0)     // XX + email
    assert(r(("v", "Email_Format"))._1 == 3.0) // AL, CA, XX
    assert(r(("v", "LOV_Match"))._1 == 2.0)
    assert(r(("v", "Unique"))._1 == 0.0)
  }

  test("date tests: gaps and future dates") {
    val days = Seq("2024-01-01", "2024-01-08", "2024-01-22", // week gap
      "2024-03-05", "2030-01-01")
    val df = days
      .map(d => java.sql.Timestamp.valueOf(d + " 00:00:00"))
      .toDF("d")
    val r = results(df, Seq(
      TestDef("t", "d", "Future_Date", Map("Threshold_Value" -> "0")),
      TestDef("t", "d", "Monthly_Rec_Ct", Map("Threshold_Value" -> "0")),
      TestDef("t", "d", "Min_Date", Map(
        "Baseline_Value" -> "2024-01-01 00:00:00", "Threshold_Value" -> "0"))))
    assert(r(("d", "Future_Date"))._1 == 1.0) // 2030
    // months 2024-01..2030-01 = 73 expected, 3 distinct → 70 missing
    assert(r(("d", "Monthly_Rec_Ct"))._1 == 70.0)
    assert(r(("d", "Min_Date"))._1 == 0.0)
  }

  test("sampled profile feeds generation and the suite passes on the " +
      "full table") {
    // the 100 TB loop: profile a 50% sample (counts scaled back), generate
    // a suite from it, evaluate against the FULL table — thresholds must
    // absorb the sampling error (statuses PASSED/WARNING, never FAILED)
    val df = spark.read
      .parquet(s"${SparkTestSession.sf}/lineitem.parquet")
    val sampled = Profiler.profileSampled(df, "lineitem", fraction = 0.5,
      seed = 42L)
    val defs = TestGenerator.generate(sampled, lovs = Map.empty)
    assert(defs.size > 20, s"only ${defs.size} tests generated")
    // a sample has no unbiased distinct estimate: sampled profiles carry
    // null distinct counts, so distinct-RATIO tests must not be generated
    // (their baselines would mix scaled and unscaled counts)
    val distinctFamily = Set("Unique", "Unique_Pct", "Distinct_Value_Ct")
    assert(!defs.exists(d => distinctFamily(d.testType)))
    // count/sum/shape tests generate normally
    assert(defs.exists(_.testType == "Avg_Shift"))
    assert(defs.exists(_.testType == "Row_Ct"))
    val st = TestEvaluator.run(df, defs).collect()
      .map(r => (r.getAs[String]("column_name"),
        r.getAs[String]("test_type")) -> r.getAs[String]("status")).toMap
    val failed = st.collect { case (k, "FAILED") => k }
    assert(failed.isEmpty, s"sampling error broke: $failed")
  }

  test("generator emits a sensible suite from a profile") {
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "b", 3.5))
      .toDF("id", "s", "x")
    val defs = TestGenerator.generate(Profiler.profile(df, "t"),
      lovs = Map("s" -> Seq("a", "b")))
    val types = defs.groupBy(_.column).view.mapValues(_.map(_.testType).toSet)
    assert(types("N/A").contains("Row_Ct"))
    assert(types("id").contains("Unique"))
    assert(types("s").contains("Alpha_Trunc"))
    assert(types("s").contains("LOV_Match"))
    assert(types("x").contains("Avg_Shift"))
    assert(types("x").contains("Dec_Trunc"))
    // generated suite must evaluate all-PASSED on its own baseline data
    val st = TestEvaluator.run(df, defs).collect()
      .map(_.getAs[String]("status")).toSet
    assert(st == Set("PASSED"))
  }

  private def oddDefs: Seq[TestDef] = SparkJobs.OddNames.flatMap(n => Seq(
    TestDef("odd", n, "Required", Map("Threshold_Value" -> "0")),
    TestDef("odd", n, "Row_Ct", Map("Threshold_Value" -> "30")),
    TestDef("odd", n, "Distinct_Value_Ct", Map("Threshold_Value" -> "5"))))

  test("evaluator results are built on the driver: reading them twice " +
      "starts no Spark job") {
    val odd = SparkJobs.oddFrame(spark)
    val orders = Tables.load(spark, SparkTestSession.sf, "orders")
    val orderDefs = TestGenerator.generate(Profiler.profile(orders, "orders"))
    val frames = Seq(TestEvaluator.run(odd, oddDefs),
        TestEvaluator.run(odd, oddDefs, approxDistinct = true)) ++
      TestEvaluator.runMany(Seq(odd -> oddDefs, orders -> orderDefs))
    val (rows, jobs) = SparkJobs.during(spark) {
      frames.map { f =>
        val once = f.collect().toSeq
        assert(f.collect().toSeq == once)
        once
      }
    }
    assert(jobs == 0, s"collecting the evaluator frames started $jobs jobs")
    assert(rows.map(_.size) == Seq(24, 24, 24, orderDefs.size))
  }

  test("evaluator rows keep the explode form's schema and Spark's " +
      "orderBy order for mixed-case, non-ASCII and non-BMP column names") {
    val out = TestEvaluator.run(SparkJobs.oddFrame(spark), oddDefs)
    // the schema the former explode + status projection gave
    assert(SparkJobs.schemaOf(out) == Seq("table_name:string:false",
      "column_name:string:false", "test_type:string:false",
      "measure:double:false", "threshold:double:false",
      "status:string:false", "message:string:true",
      "result_expr:string:true"))
    def keys(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(r => (r.getAs[String]("column_name"), r.getAs[String]("test_type")))
    val got = keys(out)
    assert(got == keys(out.orderBy("column_name", "test_type")))
    assert(got.map(_._1).distinct != SparkJobs.OddNames.sorted)
  }
}
