/* Bridge package (see org.apache.spark.sql.graft.HashExpressions): a
 * session's ArtifactManager is private[sql] and the root of the
 * sessions' artifact dirs is private[artifact], so the reads live in a
 * subpackage of org.apache.spark.sql.artifact. */
package org.apache.spark.sql.artifact.graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.artifact.ArtifactManager

/** A session's artifact scope: the jars, classes and files added to it
  * and, on the executors, the classloader its tasks run under. */
object ArtifactScope {

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Fix `spark`'s scope now. Spark builds a session's artifact manager
    * lazily and fixes the scope then, from the session's
    * `spark.sql.artifact.isolation.enabled` of that moment; after this
    * call a change of that conf no longer reaches the session. */
  def fix(spark: SparkSession): Unit = classic(spark).artifactManager.state

  /** Whether artifacts were added to `spark`'s own scope: code or files
    * the session's jobs may need and other sessions must not see. Each
    * added artifact lands under the session's artifact dir. */
  def hasSessionArtifacts(spark: SparkSession): Boolean = {
    val dir = ArtifactManager.artifactRootDirectory.resolve(classic(spark).sessionUUID)
    Files.isDirectory(dir) &&
      scala.util.Using.resource(Files.walk(dir))(_.anyMatch(Files.isRegularFile(_)))
  }
}
