package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}

/** Bounded memo of BUILT one-row pass frames (r15, guide §1.2 driver
  * work): a profile/suite evaluation spends seconds of pure driver time
  * building, analyzing and planning its ~30 fresh pass DataFrames per
  * invocation, while the pass set is a pure function of (input plan,
  * input files, parameters). Re-invocations with a structurally
  * identical input over unchanged files reuse the built frames.
  *
  * Key:
  *  - the owning session, BY REFERENCE;
  *  - the input's CANONICALIZED analyzed plan (exprId-normalized
  *    structural equality). Parquet relations compare by root path
  *    only, so on its own this would serve a table rewritten in place
  *    from plans built over the old files;
  *  - the FILE SIGNATURE: (path, length, modificationTime) of every
  *    file listed by every file-backed leaf's
  *    `PartitioningAwareFileIndex`. A rerun over unchanged files hits;
  *    a rewrite in place (new sizes or times) misses;
  *  - the ambient `graft.fanout.off` flag, which `graft.Tables.fanout`
  *    reads while the passes are built;
  *  - a caller-supplied params component (value equality — e.g. the
  *    compiled TestDef list).
  *
  * What a hit reuses: the built frames, and with them their executed
  * (AQE) plans. A hit re-collects the SAME physical plan, whose
  * materialized shuffle stages are reused (the benchmark's quick-start
  * profile call runs 44 jobs on a rerun against 89 cold), so the file
  * signature is what keeps a hit from returning the previous
  * snapshot's results. True-LRU, bounded (64 entries);
  * per-micro-batch streaming callers have distinct batch plans and
  * churn one slot.
  */
object PassMemo {
  private val memo = new java.util.LinkedHashMap[Any, Seq[DataFrame]](
    16, 0.75f, true)

  /** (path, length, modificationTime) of every file under every
    * file-index-backed relation of `plan`, in plan order.
    */
  private def fileSignature(plan: LogicalPlan)
      : Seq[(String, Long, Long)] =
    plan.collectWithSubqueries {
      case l: LogicalRelation => l.relation
    }.flatMap {
      case HadoopFsRelation(idx: PartitioningAwareFileIndex, _, _, _, _, _) =>
        idx.allFiles().map(f =>
          (f.getPath.toString, f.getLen, f.getModificationTime))
      case _ => Seq.empty
    }

  def passes(df: DataFrame, params: Any)
            (build: => Seq[DataFrame]): Seq[DataFrame] = {
    val analyzed = df.queryExecution.analyzed
    val key = (df.sparkSession, analyzed.canonicalized,
      fileSignature(analyzed), sys.props.contains("graft.fanout.off"),
      params)
    val hit = memo.synchronized(Option(memo.get(key)))
    hit.getOrElse {
      val built = build
      memo.synchronized {
        Option(memo.get(key)).getOrElse {
          while (memo.size >= 64) {
            val it = memo.entrySet().iterator()
            if (it.hasNext) { it.next(); it.remove() }
          }
          memo.put(key, built)
          built
        }
      }
    }
  }
}
