package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spark-job accounting and fixtures for the driver-assembly specs. */
object SparkJobs {

  /** `body`'s result and the number of Spark jobs it started. Listener
    * events arrive asynchronously but in order, so jobs are counted
    * between two marker jobs, and the count is read once the listener
    * has seen the second marker.
    */
  def during[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val marker = s"job-count-marker-${java.util.UUID.randomUUID()}"
    val markers = new AtomicInteger
    val jobs = new AtomicInteger
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
              _.getProperty("spark.jobGroup.id") == marker)) {
          if (markers.incrementAndGet() == 2) done.countDown()
        } else if (markers.get == 1) jobs.incrementAndGet()
    }
    def mark(): Unit = {
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      mark()
      val out = body
      mark()
      assert(done.await(60, TimeUnit.SECONDS), "marker job never seen")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Column names whose order differs by case, by accent, and between
    * UTF-8 byte order and Java's UTF-16 String order ("ﬀ" is U+FB00;
    * "𝒳" is outside the BMP, a surrogate pair below U+FB00 in UTF-16 but
    * a 4-byte sequence above it in UTF-8).
    */
  val OddNames: Seq[String] =
    Seq("beta", "Alpha", "alpha2", "été", "zed", "𝒳x", "ﬀ", "Zeta")

  /** 40 rows over [[OddNames]]: long, string, double, int, string,
    * string, double and string columns.
    */
  def oddFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until 40).map(i => (i.toLong, s"v${i % 7}", i * 1.25 - 3, i % 3,
        s"é${i % 4}", s"q$i", i.toDouble, s"w${i % 2}"))
      .toDF(OddNames: _*)
  }

  /** "name:type:nullable" per field. */
  def schemaOf(df: DataFrame): Seq[String] =
    df.schema.fields.toSeq.map(f =>
      s"${f.name}:${f.dataType.simpleString}:${f.nullable}")
}
