package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}

import graft.operators.IndexLifecycle

/** Plan observables the index specs share. */
object IndexPlans {

  /** (broadcast LeftAnti present, shuffled LeftAnti present) — the
    * [[IndexLifecycle.boundedIdJoin]] strategy observable. Node-TYPED,
    * not string matching: a node's toString covers its whole subtree,
    * so a string match would see the anti-join through the joins
    * above it. */
  def antiJoinKinds(df: DataFrame): (Boolean, Boolean) = {
    val ns = IndexLifecycle.executedPlanNodes(df)
    (ns.exists {
      case b: BroadcastHashJoinExec => b.joinType.toString == "LeftAnti"
      case _ => false
    },
     ns.exists {
      case j: ShuffledHashJoinExec => j.joinType.toString == "LeftAnti"
      case _ => false
    })
  }
}
