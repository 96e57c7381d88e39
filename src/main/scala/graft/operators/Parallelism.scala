package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._

/**
 * Scale-adaptive input fan-out for expensive row-local expansions
 * (guide §2.2/§2.5: partitioning must be derived from the data, not a
 * constant tuned for one scale).
 *
 * The failure mode this fixes: a SMALL input table (one parquet split)
 * feeds an operator whose map-side work is orders of magnitude heavier
 * than the scan — gram explosion, window hashing, signature UDFs,
 * inverted-index pair generation. The whole expansion then runs in ONE
 * task on one core while the rest of the cluster idles (measured: the
 * boilerplate all-pairs join spent 80.5 of its 80.6 s in a single task).
 *
 * `fanOutScan` repartitions round-robin to the session default
 * parallelism, but ONLY when both hold:
 *
 *  1. the plan is scan-shaped — a file/local/cached relation under
 *     nothing heavier than Project/Filter/SubqueryAlias/Generate. Plans
 *     containing joins/aggregates/windows already run at
 *     `spark.sql.shuffle.partitions` parallelism downstream of their own
 *     exchanges, and probing their partition count under AQE could force
 *     early execution of query stages;
 *  2. the scan's partition count is below the default parallelism — a
 *     production-scale table has thousands of splits and is NEVER
 *     touched (the repartition would be a full shuffle of the payload,
 *     exactly what the 100 TB design forbids).
 *
 * The added exchange in the small regime moves only the small input
 * itself (KBs–MBs), after which every downstream expansion uses all
 * cores. Output of every operator is partitioning-independent, so this
 * is a pure physical change.
 */
private[graft] object Parallelism {

  private def scanShaped(p: LogicalPlan): Boolean = p match {
    case _: LeafNode => true // LogicalRelation / InMemoryRelation / LocalRelation / LogicalRDD
    case _: Project | _: Filter | _: SubqueryAlias | _: Generate =>
      p.children.forall(scanShaped)
    case _ => false
  }

  def fanOutScan(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (!scanShaped(df.queryExecution.logical)) df
    else {
      // safe on scan-shaped plans: no adaptive shuffle stages to trigger
      val current = try df.rdd.getNumPartitions catch { case e: Exception =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(s"fanOutScan: partition probe failed: $e")
        target
      }
      if (current >= target) df else df.repartition(target)
    }
  }
}
