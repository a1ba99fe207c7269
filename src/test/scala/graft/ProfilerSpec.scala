package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.profile.{ColProfile, Profiler}

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Sessions.local("4", "4")
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

class ProfilerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("profile computes exact counts on a tiny frame") {
    val df = Seq(
      (1L, Some("a"), Some(1.5)), (2L, Some("bb"), Some(2.5)),
      (3L, None, Some(-1.0)), (4L, Some("a"), None),
    ).toDF("id", "s", "x")
    val p = Profiler.profile(df, "t").collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    assert(p("id").getAs[Long]("record_ct") == 4)
    assert(p("id").getAs[Long]("distinct_ct") == 4)
    assert(p("s").getAs[Long]("null_ct") == 1)
    assert(p("s").getAs[Long]("distinct_ct") == 2)
    assert(p("s").getAs[Long]("max_len") == 2)
    assert(p("x").getAs[Double]("min_num") == -1.0)
    assert(p("x").getAs[Long]("neg_ct") == 1)
    assert(p("x").getAs[Double]("sum_num") == 3.0)
    // frac parts: 0.5 + 0.5 + 0.0 (=-1 - floor(-1)) = 1.0
    assert(p("x").getAs[Double]("frac_sum") == 1.0)
  }

  test("sampled profile scales extensive stats back to table scale") {
    val full = spark.read.parquet(s"${SparkTestSession.sf}/lineitem.parquet")
    val whole = Profiler.profile(full, "lineitem").collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    val sampled = Profiler
      .profileSampled(full, "lineitem", fraction = 0.5, seed = 42L)
      .collect().map(r => r.getAs[String]("column_name") -> r).toMap
    assert(sampled.keySet == whole.keySet)
    for (c <- Seq("l_orderkey", "l_quantity", "l_returnflag")) {
      val (s, w) = (sampled(c), whole(c))
      // extensive counts scaled by 1/fraction land within ±10% of truth
      assert(math.abs(s.getAs[Long]("record_ct").toDouble -
        w.getAs[Long]("record_ct")) < 0.1 * w.getAs[Long]("record_ct"), c)
      assert(math.abs(s.getAs[Long]("value_ct").toDouble -
        w.getAs[Long]("value_ct")) < 0.1 * w.getAs[Long]("value_ct"), c)
    }
    // extensive sum scaled; intensive stats unscaled and close
    val (sq, wq) = (sampled("l_quantity"), whole("l_quantity"))
    assert(math.abs(sq.getAs[Double]("sum_num") - wq.getAs[Double]("sum_num"))
      < 0.1 * wq.getAs[Double]("sum_num"))
    assert(math.abs(sq.getAs[Double]("avg_num") - wq.getAs[Double]("avg_num"))
      < 0.05 * wq.getAs[Double]("avg_num"))
    // sample extrema are bounded by the true range
    assert(sq.getAs[Double]("min_num") >= wq.getAs[Double]("min_num"))
    assert(sq.getAs[Double]("max_num") <= wq.getAs[Double]("max_num"))
    // deterministic under the seed
    val again = Profiler
      .profileSampled(full, "lineitem", fraction = 0.5, seed = 42L)
      .collect().map(r => r.getAs[String]("column_name") -> r).toMap
    assert(again("l_quantity").getAs[Double]("sum_num") ==
      sq.getAs[Double]("sum_num"))
  }

  test("shape characteristics: percentiles, moments, string classes") {
    val df = Seq(
      (1.0, Some(" padded"), Some("2024-01-02 00:00:00")),
      (2.0, Some("user@example.com"), Some("2024-01-02 10:30:00")),
      (3.0, Some("N/A"), Some("2024-01-06 12:00:00")),
      (10.0, Some("hello world two"), None),
    ).toDF("x", "s", "tstr")
      .withColumn("ts", org.apache.spark.sql.functions.to_timestamp(
        org.apache.spark.sql.functions.col("tstr")))
      .drop("tstr")
    val p = Profiler.profile(df, "t").collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    // percentiles: sorted [1,2,3,10]; p50 = 2.5, p25 = 1.75
    assert(p("x").getAs[Double]("median_num") == 2.5)
    assert(p("x").getAs[Double]("p25_num") == 1.75)
    assert(p("x").getAs[Double]("range_num") == 9.0)
    assert(p("x").getAs[Long]("round_num_ct") == 1) // 10.0
    // right-skewed data → positive skewness
    assert(p("x").getAs[Double]("skew_num") > 0)
    assert(p("s").getAs[Long]("lead_space_ct") == 1)
    assert(p("s").getAs[Long]("email_ct") == 1)
    assert(p("s").getAs[Long]("dummy_ct") == 1)
    assert(p("s").getAs[Double]("avg_words") == 1.5) // 1+1+1+3 over 4
    assert(p("ts").getAs[Long]("midnight_ct") == 1)
    assert(p("ts").getAs[Long]("work_hours_ct") == 2) // 10:30 and 12:00
    assert(p("ts").getAs[Long]("span_days") == 4)
  }

  test("profile of harness tables yields one row per profilable column") {
    for ((t, cols) <- Tables.meta) {
      val df = Tables.load(spark, SparkTestSession.sf, t)
      val n = Profiler.profile(df, t).count()
      assert(n == cols.size, s"table $t")
    }
  }

  test("array columns profile cardinality and element-count stats") {
    val df = Tables.load(spark, SparkTestSession.sf, "embeddings")
    val p = Profiler.profile(df, "embeddings").collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    val emb = p("embedding")
    assert(emb.getAs[String]("data_type") == "floatarr")
    assert(emb.getAs[Long]("min_len") == 64 &&
      emb.getAs[Long]("max_len") == 64)
    assert(emb.getAs[Long]("distinct_ct") == 500)
  }

  test("profile compare: identical sides all match, drift surfaces") {
    import graft.profile.{ProfileCompare, Profiler}
    val df = Tables.load(spark, SparkTestSession.sf, "customer")
    val p = Profiler.profile(df, "customer")
    val same = ProfileCompare.diff(p, p).collect()
    assert(same.nonEmpty && same.forall(_.getAs[Boolean]("matches")))
    // drop rows → record_ct must surface as drift
    val p2 = Profiler.profile(df.limit(100), "customer")
    val drift = ProfileCompare.diff(p, p2).collect()
      .filter(r => r.getAs[String]("stat") == "record_ct")
    assert(drift.forall(!_.getAs[Boolean]("matches")))
    assert(drift.head.getAs[Double]("delta") == -50.0)
  }

  test("approx mode profiles with near-exact distincts and no Expand " +
      "in any scan pass") {
    val df = Tables.load(spark, SparkTestSession.sf, "customer")
    val approx = Profiler.profile(df, "customer", exactDistinct = false)
    // the multi-countDistinct hazard plans as Expand → partial
    // HashAggregate → Exchange (row replication crossing a shuffle). The
    // shipped profiler runs per-column passes with at most ONE distinct
    // aggregate each, so the strict assertion holds: no ExpandExec in
    // ANY pass, in any mode. (Since the concurrent-collect rework the
    // passes execute before the result frame exists, so the fence
    // targets the pass plans directly via Profiler.passesFor.)
    def hasExpand(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.isInstanceOf[org.apache.spark.sql.execution.ExpandExec] ||
        p.children.exists(hasExpand)
    for (mode <- Seq("exact", "hll", "dates", "none", "sketch");
         pass <- Profiler.passesFor(df, mode, exactPercentiles = true))
      assert(!hasExpand(pass.queryExecution.executedPlan),
        s"$mode: ${pass.queryExecution.executedPlan}")
    val exact = Profiler.profile(df, "customer").collect()
      .map(r => r.getAs[String]("column_name") ->
        r.getAs[Long]("distinct_ct")).toMap
    approx.collect().foreach { r =>
      val c = r.getAs[String]("column_name")
      val a = r.getAs[Long]("distinct_ct").toDouble
      val e = exact(c).toDouble
      assert(math.abs(a - e) <= math.max(2.0, 0.1 * e), s"$c: $a vs $e")
    }
  }

  test("schema drift: added, removed, and type-changed columns surface") {
    import graft.profile.SchemaDrift
    val df = Tables.load(spark, SparkTestSession.sf, "events")
      .drop("props")                                     // removed
      .withColumn("value",
        org.apache.spark.sql.functions.col("value").cast("string")) // changed
      .withColumn("extra", org.apache.spark.sql.functions.lit(1L))  // added
    val rows = SchemaDrift.againstPinned(df, "events", spark).collect()
      .map(r => r.getAs[String]("column_name") ->
        r.getAs[String]("status")).toMap
    assert(rows("props") == "removed")
    assert(rows("value") == "type_changed")
    assert(rows("extra") == "added")
    assert(rows("event_id") == "ok")
  }

  test("PSI stays near zero in-distribution and alarms on planted drift") {
    import graft.profile.DriftPsi
    import org.apache.spark.sql.functions.{col, rand}
    val base = Seq.fill(4)(Seq.tabulate(1000)(i => i.toDouble)).flatten
      .toDF("x") // uniform over [0, 1000)
    val counts = Seq.fill(10)(100L)
    def total(df: org.apache.spark.sql.DataFrame) =
      DriftPsi.psi(df, "t", "x", 0.0, 999.0, counts, 1000L, spark)
        .collect().map(_.getAs[Double]("psi_term")).sum
    assert(math.abs(total(base)) < 0.01) // same distribution → PSI ≈ 0
    // planted drift: squash everything into the bottom half
    val drifted = base.select((col("x") / 2).as("x"))
    assert(total(drifted) > 0.2) // conventional re-baseline alarm
  }

  test("partial profiles merge to the whole-table profile") {
    import graft.profile.ColProfile
    val df = Tables.load(spark, SparkTestSession.sf, "orders")
    val half1 = df.filter(org.apache.spark.sql.functions
      .col("o_orderkey") % 2 === 0)
    val half2 = df.filter(org.apache.spark.sql.functions
      .col("o_orderkey") % 2 === 1)
    def prof(d: org.apache.spark.sql.DataFrame) =
      ColProfile.fromRows(Profiler.profile(d, "orders"))
        .map(p => p.column -> p).toMap
    val whole = prof(df)
    val merged = prof(half1).map { case (c, p) =>
      c -> ColProfile.merge(p, prof(half2)(c))
    }
    merged.foreach { case (c, m) =>
      val w = whole(c)
      assert(m.recordCt == w.recordCt && m.valueCt == w.valueCt &&
        m.nullCt == w.nullCt, c)
      assert(m.distinctCt.isEmpty, c) // not mergeable — None, not a sentinel
      assert(m.minNum == w.minNum && m.maxNum == w.maxNum, c)
      assert(m.minStr == w.minStr && m.maxStr == w.maxStr, c)
      assert(m.minTs == w.minTs && m.maxTs == w.maxTs, c)
      for (ms <- m.sumNum; ws <- w.sumNum)
        assert(math.abs(ms - ws) < 1e-6, c)
      for (ma <- m.avgNum; wa <- w.avgNum)
        assert(math.abs(ma - wa) < 1e-4, c)
    }
  }

  test("frame-level profile merge is EXACT and composes across splits") {
    // mergeProfiles is the engine-side twin of ColProfile.merge: on the
    // mergeable fields the merged frame must equal the full-table
    // profile bit-for-bit (decimal-recovered sums, re-derived avg/range/
    // span) — not approximately
    val df = Tables.load(spark, SparkTestSession.sf, "events")
    val k = org.apache.spark.sql.functions.col("event_id")
    def p(d: org.apache.spark.sql.DataFrame) = Profiler.profile(d, "events")
    val full = p(df)
      .select(Profiler.MergeableFields.map(
        org.apache.spark.sql.functions.col): _*)
      .orderBy("column_name")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().toSeq
    val twoWay = Profiler.mergeProfiles(p(df.filter(k % 2 === 0)),
      p(df.filter(k % 2 === 1)))
    assert(rows(twoWay) == rows(full))
    // three disjoint deltas folded pairwise — the standing-baseline +
    // nightly-delta usage pattern
    val threeWay = Profiler.mergeProfiles(
      Profiler.mergeProfiles(p(df.filter(k % 3 === 0)),
        p(df.filter(k % 3 === 1))),
      p(df.filter(k % 3 === 2)))
    assert(rows(threeWay) == rows(full))
  }

  test("merging an empty delta is the identity (sums are not " +
    "null-poisoned)") {
    // an incremental delta can legitimately be empty (no new partitions)
    // or all-null in a column: the merge law must still hold — sum over
    // zero values is NULL on that side and the other side passes through
    val df = Tables.load(spark, SparkTestSession.sf, "events")
    val k = org.apache.spark.sql.functions.col("event_id")
    def p(d: org.apache.spark.sql.DataFrame) = Profiler.profile(d, "events")
    val full = p(df)
      .select(Profiler.MergeableFields.map(
        org.apache.spark.sql.functions.col): _*)
      .orderBy("column_name")
    val withEmpty = Profiler.mergeProfiles(p(df), p(df.filter(k < 0)))
    assert(withEmpty.collect().toSeq == full.collect().toSeq)
    // the driver-side record twin obeys the same law
    def rec(n: Long, sum: Option[Double], mn: Option[Double],
            mx: Option[Double]) = ColProfile("t", "c", 0, "double",
      recordCt = n, valueCt = n, nullCt = 0, distinctCt = None,
      minLen = None, maxLen = None, avgLen = None, blankCt = None,
      minStr = None, maxStr = None, minNum = mn, maxNum = mx,
      avgNum = None, stdevNum = None, sumNum = sum, fracSum = None,
      zeroCt = None, negCt = None, minTs = None, maxTs = None,
      distinctDateCt = None)
    val cp = ColProfile.merge(
      rec(3, Some(6.5), Some(1.0), Some(3.5)),
      rec(0, None, None, None))
    assert(cp.sumNum.contains(6.5) && cp.minNum.contains(1.0) &&
      cp.maxNum.contains(3.5))
  }

  test("all five pass modes agree on the base statistics, and the " +
      "distinct/percentile slots degrade exactly as documented") {
    // the r7 streaming work found an assembly bug ("sketch" mode
    // referencing the exact-mode __d columns) that only the streaming
    // path exercised — this fences the mode matrix directly, on inputs
    // with nulls, an all-null column, empties, and every melt type
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, Some(2.5), Some("a b"), Some("2024-01-06 10:00:00")),
      (2L, None, Some(""), Some("2024-01-07 00:00:00")),
      (2L, Some(-7.0), None, None),
      (3L, Some(0.0), Some("N/A"), Some("2024-03-01 16:59:59"))
    ).toDF("k", "x", "s", "ts_raw")
      .withColumn("ts", col("ts_raw").cast("timestamp"))
      .withColumn("all_null", org.apache.spark.sql.functions
        .lit(null).cast("double"))
      .drop("ts_raw")
    val slices = Seq(df, df.limit(0))
    for (slice <- slices) {
      val modes = Seq("exact", "hll", "dates", "none", "sketch")
      val rows = modes.map { m =>
        m -> Profiler.profileWith(slice, "t", m,
            exactPercentiles = m == "exact")
          .drop("distinct_sketch").collect()
          .map(r => r.getAs[String]("column_name") -> r).toMap
      }.toMap
      val base = rows("exact")
      val pctSlots = Set("p25_num", "median_num", "p75_num")
      val distinctSlots = Set("distinct_ct", "distinct_date_ct")
      for (m <- modes.tail; (c, r) <- rows(m)) {
        val e = base(c)
        e.schema.fieldNames.foreach { f =>
          if (!pctSlots(f) && !distinctSlots(f))
            assert(r.getAs[Any](f) == e.getAs[Any](f),
              s"mode=$m col=$c field=$f: ${r.getAs[Any](f)} vs " +
                s"${e.getAs[Any](f)} (rows=${slice.count()})")
        }
        // distinct_ct: exact/hll carry a number (hll within the spec'd
        // bound, checked elsewhere); dates/none/sketch must be NULL
        if (m == "dates" || m == "none" || m == "sketch")
          assert(r.isNullAt(r.fieldIndex("distinct_ct")), s"$m/$c")
        if (m == "none" || m == "sketch") {
          assert(r.isNullAt(r.fieldIndex("distinct_date_ct")), s"$m/$c")
          pctSlots.foreach(f =>
            assert(r.isNullAt(r.fieldIndex(f)), s"$m/$c/$f"))
        }
      }
    }
    // the sketch survives the drop only in sketch mode, and estimates
    // the exact count on this tiny frame dead-on
    import org.apache.spark.sql.functions.hll_sketch_estimate
    val sk = Profiler.profileWith(df, "t", "sketch",
        exactPercentiles = false)
      .select(col("column_name"),
        hll_sketch_estimate(col("distinct_sketch")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Profiler.profile(df, "t").collect()
      .map(r => r.getAs[String]("column_name") ->
        r.getAs[Long]("distinct_ct")).toMap
    assert(sk == exact, s"$sk vs $exact")
  }

  test("topK returns most frequent first") {
    val df = Seq("a", "a", "a", "b", "b", "c").toDF("v")
    val rows = Profiler.topK(df, "t", "v", 2).collect()
    assert(rows.map(_.getAs[String]("value")).toSeq == Seq("a", "b"))
    assert(rows.head.getAs[Long]("value_ct") == 3)
  }

  test("exact percentiles are partitioning-invariant (the r15 pct-pass " +
      "fan-out must not move a single quantile bit)") {
    // near-unique doubles — the l_extendedprice shape whose exact
    // Percentile pass the fan-out parallelizes — plus ties and negatives
    val vals = (1 to 4001).map(i => (i * 37 % 4003) / 7.0 - 11.0) ++
      Seq(3.5, 3.5, 3.5)
    val df = vals.toDF("x")
    import org.apache.spark.sql.functions.{array, col, lit, percentile}
    val ps = array(lit(0.25), lit(0.5), lit(0.75))
    def q(d: org.apache.spark.sql.DataFrame): Seq[Double] =
      d.agg(percentile(col("x"), ps)).collect()(0)
        .getSeq[Double](0)
    val one = q(df.coalesce(1))
    Seq(2, 7, 32).foreach { n =>
      val r = q(df.repartition(n))
      assert(r == one, s"repartition($n): $r != $one")
    }
    // and through the profiler itself: fanned (default) vs fan-out
    // disabled via the probe flag must produce identical profile rows —
    // from DIFFERENT pass plans (the flag is part of the pass-plan memo
    // key; were it not, the second arm would re-collect the first's)
    val li = spark.read.parquet(s"${SparkTestSession.sf}/lineitem.parquet")
    val tag = Profiler.stdTag("exact", exactPercentiles = true)
    def roundRobin(): Boolean =
      graft.operators.PassMemo.passes(li, tag)(
          fail("profile must memoize its passes"))
        .exists(_.queryExecution.executedPlan.treeString
          .contains("RoundRobinPartitioning"))
    val fanned = Profiler.profile(li, "lineitem").collect().toSeq
    assert(roundRobin(), "the fanned arm fans its percentile passes out")
    System.setProperty("graft.fanout.off", "1")
    try {
      val plain = Profiler.profile(li, "lineitem").collect().toSeq
      assert(!roundRobin(), "the plain arm must not reuse fanned passes")
      assert(fanned == plain)
    } finally System.clearProperty("graft.fanout.off")
  }

  test("a table rewritten in place is profiled and evaluated afresh in " +
      "the same session (the pass-plan memo keys on the input files)") {
    import java.nio.file.{Files, StandardCopyOption}
    import graft.quality.{TestDef, TestEvaluator}
    val dir = Files.createTempDirectory("graft-rewrite")
    val live = dir.resolve("t.parquet")
    // one parquet file replaced at the SAME path, as a scheduled
    // refresh rewrites a table
    def install(rows: Int): Unit = {
      val out = dir.resolve(s"snap-$rows")
      spark.range(rows).selectExpr("id", "CAST(id % 7 AS DOUBLE) AS x")
        .coalesce(1).write.parquet(out.toString)
      val part = Files.list(out).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, live, StandardCopyOption.REPLACE_EXISTING)
    }
    def load() = spark.read.parquet(live.toString)
    val rowCt = Seq(TestDef("t", "id", "Row_Ct",
      Map("Threshold_Value" -> "0")))
    def counts(): (Long, Double) = (
      Profiler.profile(load(), "t").collect()
        .map(_.getAs[Long]("record_ct")).distinct.toSeq match {
        case Seq(n) => n
        case ns => fail(s"record_ct differs across columns: $ns")
      },
      TestEvaluator.run(load(), rowCt).head().getAs[Double]("measure"))
    install(100)
    assert(counts() == ((100L, 100.0)))
    assert(counts() == ((100L, 100.0)), "rerun over unchanged files")
    install(150)
    assert(counts() == ((150L, 150.0)), "the rewrite must not be served " +
      "from plans built over the old file")
  }

  test("profile results are built on the driver: reading them twice " +
      "starts no Spark job") {
    val odd = SparkJobs.oddFrame(spark)
    val orders = Tables.load(spark, SparkTestSession.sf, "orders")
    val lineitem = Tables.load(spark, SparkTestSession.sf, "lineitem")
    val frames = Seq(Profiler.profile(odd, "odd"),
        Profiler.profile(odd, "odd", exactDistinct = false),
        Profiler.profileMergeable(odd, "odd", withSketch = true),
        Profiler.profileSampled(orders, "orders", 0.5)) ++
      Profiler.profileMany(Seq(orders -> "orders", lineitem -> "lineitem"))
    val (rows, jobs) = SparkJobs.during(spark) {
      frames.map { f =>
        val once = f.collect().toSeq
        assert(f.collect().toSeq == once)
        once
      }
    }
    assert(jobs == 0, s"collecting the profile frames started $jobs jobs")
    assert(rows.map(_.size) == Seq(8, 8, 8, orders.columns.length,
      orders.columns.length, lineitem.columns.length))
    // the generator reads the same frames
    assert(SparkJobs.during(spark)(ColProfile.fromRows(frames.last))._2 == 0)
  }

  test("profile rows keep the explode form's schema and Spark's orderBy " +
      "order for mixed-case, non-ASCII and non-BMP column names") {
    val p = Profiler.profile(SparkJobs.oddFrame(spark), "odd")
    // the schema the former explode(array(structs)).select("p.*") gave
    val want = """table_name:string:false column_name:string:false
      |ordinal:bigint:false data_type:string:false record_ct:bigint:false
      |value_ct:bigint:false null_ct:bigint:false distinct_ct:bigint:false
      |min_len:bigint:true max_len:bigint:true avg_len:double:true
      |blank_ct:bigint:true min_str:string:true max_str:string:true
      |min_num:double:true max_num:double:true avg_num:double:true
      |stdev_num:double:true sum_num:double:true frac_sum:double:true
      |zero_ct:bigint:true neg_ct:bigint:true min_ts:timestamp:true
      |max_ts:timestamp:true embedded_space_ct:bigint:true
      |upper_ct:bigint:true lower_ct:bigint:true numeric_str_ct:bigint:true
      |date_str_ct:bigint:true pos_ct:bigint:true frac_value_ct:bigint:true
      |future_ct:bigint:true weekend_ct:bigint:true
      |lead_space_ct:bigint:true quote_ct:bigint:true
      |non_ascii_ct:bigint:true alpha_ct:bigint:true boolean_ct:bigint:true
      |email_ct:bigint:true zip_ct:bigint:true dummy_ct:bigint:true
      |avg_words:double:true p25_num:double:true median_num:double:true
      |p75_num:double:true skew_num:double:true kurt_num:double:true
      |range_num:double:true cv_num:double:true round_num_ct:bigint:true
      |midnight_ct:bigint:true work_hours_ct:bigint:true
      |span_days:bigint:true recency_days:bigint:true
      |distinct_date_ct:bigint:true""".stripMargin.split("\\s+").toSeq
    assert(SparkJobs.schemaOf(p) == want)
    val got = p.collect().map(_.getAs[String]("column_name")).toSeq
    assert(got == p.orderBy("column_name").collect()
      .map(_.getAs[String]("column_name")).toSeq)
    assert(got.toSet == SparkJobs.OddNames.toSet)
    // the fixture tells UTF-8 byte order from Java String order
    assert(got != SparkJobs.OddNames.sorted)
  }
}
