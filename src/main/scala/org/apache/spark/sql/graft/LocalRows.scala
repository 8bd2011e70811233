/* Bridge package (see HashExpressions.scala): QueryExecution's
 * executeCollect path, SQLExecution, LocalRelation and classic
 * Dataset.ofRows are private[sql], so the compact driver-local relation
 * helpers live in a subpackage of org.apache.spark.sql. */
package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.StructType

/** Driver-local relations held as Catalyst rows. `Dataset.collect`
  * deserializes every row into boxed JVM objects (an array column
  * becomes a sequence of boxed values): on shingle-set rows that is
  * about 4x the bytes of the UnsafeRows the executors already ship,
  * and both copies are live at the end of the collect. These helpers
  * keep the UnsafeRows and build a relation straight from them. */
object LocalRows {

  /** Collect `df` as UnsafeRows, under a SQL execution id exactly as
    * `Dataset.collect` runs (listeners and the SQL tab see it), with at
    * most `n` rows from each partition, in ONE job
    * over all partitions. A global limit's collect scans the first
    * partition alone, then the rest in a second job — serializing the
    * work of a multi-partition frame. The cut is not a planned
    * `LocalLimit`: its generated code names its row counter from a
    * JVM-global sequence (`_limit_counter_N`), so every call would
    * compile a class of its own, on the driver and again in the task. */
  def collectPerPartition(df: DataFrame, n: Int): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(
      TakePerPartitionExec(n, qe.executedPlan).executeCollect())
  }

  /** A DataFrame over driver-held rows of `schema` (no job to build). */
  def frame(spark: SparkSession, schema: StructType,
            rows: Seq[InternalRow]): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}

/** The first `n` rows of each partition of `child`, as an iterator
  * cut: no generated code, so the child's whole-stage classes stay the
  * same from call to call. `executeCollect` ships the rows as
  * compressed UnsafeRow bytes, as for any collected plan. */
private case class TakePerPartitionExec(n: Int, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitionsInternal(_.take(n))
  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}
