package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.array
import org.apache.spark.sql.types.{ArrayType, StructType}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** Executes a set of ONE-ROW aggregate passes as genuinely concurrent
  * Spark actions, recombines their single rows into one LocalRelation
  * row, and assembles the result rows from it on the driver — the
  * shared engine behind the profiler (Profiler.profileWith) and the
  * quality evaluator (TestEvaluator.run), replacing their former
  * crossJoin recombination (a pairwise BroadcastNestedLoopJoin tree).
  *
  * Why not crossJoin: each BNLJ executes its STREAMED side inside the
  * parent's stage, so a crossJoin tree's left spine serializes the
  * passes however many cores are free — and on single-row-group inputs
  * every pass is a one-task stage, so the serialized spine IS the wall
  * clock (measured in round 8, see git history for PROFILE_COST_r8.md:
  * ~7.4 s execution at sf0.1 lineitem collapsing to ~2.5 s under
  * concurrent actions, values bit-identical). Submitting each pass as
  * its own action from a bounded thread pool lets the scheduler
  * interleave the jobs across all cores. The recombined row and the
  * rows [[assembleRows]] builds from it are LocalRelations: reading a
  * result frame scans local rows and starts no Spark job.
  *
  * 100 TB note: concurrency here is ACROSS passes (columns/measures);
  * each pass itself distributes over the table's partitions, so both
  * axes scale — many row groups give per-pass parallelism, the pool
  * keeps narrow passes from idling the cluster between jobs. The pool
  * is per-invocation (cheap next to any pass) and bounded so a wide
  * table cannot flood the scheduler.
  *
  * CONTRACT — callers become EAGER: every pass executes (and this call
  * blocks) at DataFrame-construction time, not at first action.
  * Failures therefore surface at construction. The await is bounded by
  * `spark.graft.passTimeoutSec` (default 86400 s) so a wedged executor
  * cannot hang the driver thread forever; when a pass fails or the
  * await times out, the call's other jobs are cancelled before it
  * throws.
  */
object ConcurrentPasses {

  /** Collect each one-row pass concurrently; return the concatenated
    * single row and its schema (pass order preserved).
    */
  def collectRow(spark: SparkSession,
                 passes: Seq[DataFrame]): (StructType, Row) = {
    require(passes.nonEmpty, "no passes to collect")
    val rows = awaitAll(spark, passes)
    val schema = StructType(passes.flatMap(_.schema.fields).toArray)
    (schema, Row.fromSeq(rows.flatMap(_.toSeq)))
  }

  /** One row per pass, all passes in flight on one bounded pool.
    *
    * NEGATIVE RESULT (r15, kept so a later round does not re-try it):
    * collecting all passes in ONE Spark job — tagging each pass's
    * `queryExecution.toRdd` and collecting a single
    * `sparkContext.union` (one job, all pass tasks in one stage) — was
    * built and A/B-measured against this job-per-pass pool on sf0.1
    * lineitem (a round-15 probe, see git history): union 4.5-4.9 s vs
    * pool 2.7-3.0 s for the same 31 pre-planned passes. The union's
    * single task binary carries the lineage of ALL pass plans and every
    * task pays its deserialization; that costs more than the per-job
    * overhead it saves, and the pool path keeps per-pass AQE and
    * failure isolation.
    */
  private def awaitAll(spark: SparkSession,
                       passes: Seq[DataFrame]): Seq[Row] =
    awaitAllOn(spark, passes.map(p => () => p.collect()(0)))

  /** [[collectRow]] wrapped back into a one-row LocalRelation frame. */
  def collectOneRow(spark: SparkSession,
                    passes: Seq[DataFrame]): DataFrame = {
    val (schema, row) = collectRow(spark, passes)
    spark.createDataFrame(
      java.util.Collections.singletonList(row), schema)
  }

  /** The passes of SEVERAL independent groups through ONE shared pool —
    * one one-row frame per group, each identical to what
    * [[collectOneRow]] would return for that group alone. This is the
    * wall-clock fix for callers that profile multiple frames back to
    * back (merge-law queries, partition-sliced lakes): N sequential
    * collectOneRow calls serialize at the POOL level even though every
    * pass inside each call is concurrent; one flattened submission
    * makes the total ≈ the slowest pass wave, not the sum of groups.
    */
  def collectOneRowGroups(spark: SparkSession,
                          groups: Seq[Seq[DataFrame]]): Seq[DataFrame] = {
    require(groups.nonEmpty && groups.forall(_.nonEmpty),
      "no passes to collect")
    val flat = groups.flatten
    val rows = awaitAll(spark, flat)
    val byGroup = groups.foldLeft((Seq.empty[Seq[Row]], rows)) {
      case ((acc, rest), g) =>
        val (h, t) = rest.splitAt(g.size)
        (acc :+ h, t)
    }._1
    groups.zip(byGroup).map { case (g, rs) =>
      val schema = StructType(g.flatMap(_.schema.fields).toArray)
      spark.createDataFrame(
        java.util.Collections.singletonList(Row.fromSeq(rs.flatMap(_.toSeq))),
        schema)
    }
  }

  /** Strings in UTF-8 byte order: how Spark's `orderBy` compares string
    * values (UTF8String's unsigned byte compare). Java's String order
    * compares UTF-16 code units and disagrees with it for characters
    * outside the BMP.
    */
  val Utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The result rows of one invocation, built on the driver from its
    * one-row `agged` frame: one row per struct in `structs`, sorted by
    * the string fields `sortBy` in [[Utf8Order]] — the order
    * `explode(array(structs)).orderBy(sortBy)` gives, with the same
    * schema. `agged` is a LocalRelation, so the optimizer's
    * ConvertToLocalRelation folds the `array(structs)` projection and
    * the collect starts no job; the returned frame is a LocalRelation
    * too, so readers scan local rows instead of re-running an explode
    * and a global sort as Spark jobs on every read.
    */
  def assembleRows(agged: DataFrame, structs: Seq[Column],
                   sortBy: String*): DataFrame = {
    val arr = agged.select(array(structs: _*))
    val elem = arr.schema.head.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    val keys = sortBy.map(elem.fieldIndex)
    val rows = arr.collect()(0).getSeq[Row](0)
      .sortBy(r => keys.map(r.getString))(
        Ordering.Implicits.seqOrdering(Utf8Order))
    agged.sparkSession.createDataFrame(rows.asJava, elem)
  }

  /** The bound on any await of concurrent engine work:
    * `spark.graft.passTimeoutSec`, default 86400 s.
    */
  def passTimeout(spark: SparkSession): FiniteDuration =
    spark.conf.getOption("spark.graft.passTimeoutSec")
      .map(_.toLong).getOrElse(86400L).seconds

  /** How long a failed call waits for its cancelled jobs to end. */
  private val CancelGrace = 30.seconds

  /** Run the thunks on one bounded pool; preserves input order.
    *
    * Every job the thunks start carries one job tag per call. When a
    * thunk fails or the await times out, queued thunks are dropped,
    * the tag's jobs are cancelled, and the call waits (at most
    * [[CancelGrace]]) for the running thunks to return before it
    * throws — so no job of a failed call outlives it.
    */
  private def awaitAllOn[A](spark: SparkSession,
                            thunks: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val timeout = passTimeout(spark)
    val sc = spark.sparkContext
    val tag = s"graft-passes-${java.util.UUID.randomUUID()}"
    // pool bound 16: measured optimum on local[32] — a pool as wide as
    // the core count (32) oversubscribes (each in-flight pass holds a
    // driver submission thread AND an executor task slot; profile
    // passes are one-task jobs on single-row-group inputs, and 32-wide
    // submission measured ~15% SLOWER than 16-wide), while narrower
    // pools leave cores idle between waves. On many-row-group inputs
    // each pass fans out anyway and queued jobs wait in the scheduler.
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.min(thunks.size, 16))
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    val run = Future.sequence(thunks.map(t => Future {
      sc.addJobTag(tag)
      try t() finally sc.removeJobTag(tag)
    }))
    try Await.result(run, timeout)
    catch {
      case e: Throwable =>
        pool.shutdownNow()
        // a thunk that had just left the queue may start its job after
        // a cancel: cancel until every thunk has returned, then once
        // more — a returned thunk's job was submitted before that cancel
        def cancel(): Unit =
          sc.cancelJobsWithTag(tag, s"concurrent passes aborted: $e")
        val deadline = CancelGrace.fromNow
        do cancel()
        while (!pool.awaitTermination(100, MILLISECONDS) &&
               deadline.hasTimeLeft())
        cancel()
        throw e
    } finally pool.shutdown()
  }
}
