package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.storage.RDDBlockId

/** Minimal bridge into Spark SQL's `private[sql]` surface: `Dataset.ofRows`
  * wraps graft's custom logical nodes (graft.plans) back into a
  * DataFrame, and `column`/`expression` convert between a Column and a
  * Catalyst expression so graft's native expressions (graft.functions)
  * go into a plan directly, with no function-registry lookup;
  * `drainListeners` waits until the listener bus has delivered every
  * posted event, so counts a SparkListener keeps are exact when read;
  * `storedBlocks` asks the block manager master what is stored;
  * `localCheckpoint` is `Dataset.localCheckpoint` that declares the hash
  * partitioning the executed plan proved. Lives in the Spark SQL
  * package for access; contains no operator logic.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The bytes (memory plus disk) the block managers hold for each
    * stored partition of `rdd`, keyed by partition index; a partition
    * no block manager holds is absent. Asked of the block manager
    * master, which a block put updates before the task that stored it
    * ends. `SparkContext.getRDDStorageInfo` reads the status store
    * instead, which the listener bus fills later, so right after a job
    * it can still miss blocks that job stored.
    */
  def storedBlocks(rdd: RDD[_]): Map[Int, Long] =
    rdd.sparkContext.env.blockManager.master.getStorageStatus.toSeq
      .flatMap(_.rddBlocks.collect {
        case (RDDBlockId(id, p), s) if id == rdd.id => p -> (s.memSize + s.diskSize)
      })
      .groupMapReduce(_._1)(_._2)(_ + _)

  /** `df.localCheckpoint(eager)` — the same blocks, the same lazy/eager
    * choice, the same origin statistics and constraints — whose
    * `LogicalRDD` declares the partitioning of the plan that actually
    * ran. Under AQE `Dataset.localCheckpoint` records the
    * `AdaptiveSparkPlanExec` root's partitioning, which is unknown, so a
    * join of two checkpoints hash-partitioned on its key shuffles both
    * again. The checkpoint's action (the eager count, or for a lazy one
    * the `execute()` that builds its RDD) finalizes the adaptive plan,
    * so its final physical plan is read here. The partitioning is
    * declared only when it is a `HashPartitioning` over output columns
    * with exactly the RDD's partition count (a coalesced shuffle read is
    * not a `HashPartitioning`); anything else is declared
    * `UnknownPartitioning`, never assumed. A join's output is partitioned
    * on each side's key at once (`a = b` hashes both ways), so every
    * proven leaf is kept.
    */
  def localCheckpoint(df: DataFrame, eager: Boolean): DataFrame = {
    val cp = df.localCheckpoint(eager)
    cp.queryExecution.logical match {
      case lr: LogicalRDD =>
        val ran = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        val out = AttributeSet(lr.output)
        val proven = leaves(ran.outputPartitioning).collect {
          case h: HashPartitioning if h.references.subsetOf(out) &&
              h.numPartitions == lr.rdd.getNumPartitions => h
        }.distinct
        val keyed = proven match {
          case Seq() => UnknownPartitioning(0)
          case Seq(h) => h
          case hs => PartitioningCollection(hs)
        }
        val session = cp.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(session, lr.copy(outputPartitioning = keyed)(
          session, Some(lr.computeStats()), Some(lr.constraints)))
      case _ => cp
    }
  }

  private def leaves(p: Partitioning): Seq[Partitioning] = p match {
    case c: PartitioningCollection => c.partitionings.flatMap(leaves)
    case other => Seq(other)
  }
}
