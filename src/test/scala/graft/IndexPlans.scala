package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}

import graft.operators.IndexLifecycle

import scala.jdk.CollectionConverters._

/** Plan and layout observables the index specs share. */
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

  /** Dot-prefixed dirs at an index root: the staging a crashed
    * compaction leaves behind. */
  def dotDirs(root: Path): Seq[Path] =
    scala.util.Using.resource(Files.list(root))(_.iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith(".")).toSeq)

  /** One row of `column` whose evaluation throws: a rewrite that
    * crashes mid-write. */
  def failingRows(column: String): DataFrame = {
    val crash = udf { (id: Long) =>
      if (id >= 0) throw new IllegalStateException("simulated crash mid-write")
      id
    }
    SparkTestSession.spark.range(1).select(crash(col("id")).as(column))
  }
}
