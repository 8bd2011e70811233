package graft.storage

import java.io.File
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Tracklet persistence + compaction (SURVEY K3/K4/K7).
  *
  * Reference behavior reproduced:
  *  - saves land as one unit per (task, tracklet) — many small files
  *    (reference: one HDFS dir of info.txt + JPEGs per tracklet,
  *    `HadoopHelper.java:232-286`);
  *  - when a task is complete (CompletionCounter pack job, the K7
  *    queue), the task's files are packed into ONE file and the
  *    originals removed (reference: Hadoop Archive,
  *    `DataManagingApp.java:330-359`);
  *  - compaction is IDEMPOTENT: a packed task short-circuits
  *    (reference har-exists check, `DataManagingApp.java:298-316`);
  *  - readers resolve packed-first, then raw (reference HDFS→HAR
  *    fallback, `HadoopHelper.java:84-169`);
  *  - the metadata path is repointed after packing (reference Neo4j
  *    SET path, `DataManagingApp.java:349-354`).
  *
  * At scale this is the classic small-files compaction job: saves are
  * append-only partitioned writes; compaction reads one task partition
  * (partition-pruned) and rewrites it as one columnar file.
  */
class TrackletStore(spark: SparkSession, dir: String) {
  private def rawDir(taskId: String) = s"$dir/raw/task_id=$taskId"
  private def packedDir(taskId: String) = s"$dir/packed/task_id=$taskId"

  /** K3: append tracklet rows (must include task_id). One file per
    * save call per partition — deliberately small-file-shaped, like
    * the reference's per-tracklet dirs. */
  def save(tracklets: DataFrame): Unit =
    tracklets.write.mode(SaveMode.Append).partitionBy("task_id")
      .parquet(s"$dir/raw")

  /** K4: pack one complete task into a single file, delete the raw
    * partition, return the new path. Idempotent: returns immediately
    * if already packed. */
  def compactTask(taskId: String): String = {
    val packed = new File(packedDir(taskId))
    if (!packed.exists()) {
      // drop task_id so packed and raw reads share one schema (the raw
      // branch loses it as a partition column)
      val raw = spark.read.parquet(s"$dir/raw")
        .filter(col("task_id") === taskId)
        .drop("task_id")
      raw.coalesce(1).write.mode(SaveMode.Overwrite).parquet(packedDir(taskId))
      val rawPath = new File(rawDir(taskId))
      if (rawPath.exists()) org.apache.commons.io.FileUtils.deleteDirectory(rawPath)
    }
    packedDir(taskId)
  }

  /** S7/J5: read a task's tracklets, packed-first with raw fallback. */
  def readTask(taskId: String): DataFrame = {
    if (new File(packedDir(taskId)).exists())
      spark.read.parquet(packedDir(taskId))
    else
      spark.read.parquet(s"$dir/raw").filter(col("task_id") === taskId)
        .drop("task_id")
  }

  def isPacked(taskId: String): Boolean = new File(packedDir(taskId)).exists()
}

object CompactionJob {
  /** Wire the completion counter's pack jobs (K7) through compaction
    * (K4) and metadata repointing (G1-style upsert): the complete
    * maintenance loop of the reference's packing thread. */
  def run(spark: SparkSession, jobs: Seq[String], store: TrackletStore,
          graph: GraphStore): Seq[(String, String)] = {
    import spark.implicits._
    val repointed = jobs.map { taskId =>
      val newPath = store.compactTask(taskId)
      taskId -> newPath
    }
    if (repointed.nonEmpty) {
      graph.upsertPersons(repointed.toDF("id", "path"))
    }
    repointed
  }

  /** The full K4/K7 loop as ONE streaming job (the reference ran it as
    * a hand-rolled queue + thread, `DataManagingApp.java:92-108,298-359`):
    * save events → stateful completion counter → per-batch compaction +
    * metadata repoint via foreachBatch. Pack jobs are control-plane
    * rows (one per completed task), so collecting each micro-batch to
    * the driver is bounded by task arrival rate, not data volume —
    * exactly the reference's queue shape. Compaction itself is
    * idempotent, which is what makes foreachBatch's at-least-once
    * delivery exactly-once in effect (and what makes a TTL-expired task
    * re-firing after a very late save harmless). Caller stops the
    * returned query. Input carries event time + watermark so the
    * counter's state store stays TTL-bounded. */
  def startStream(saves: org.apache.spark.sql.Dataset[graft.streaming.CompletionCounter.SaveEventTs],
                  store: TrackletStore, graph: GraphStore,
                  checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = saves.sparkSession
    graft.streaming.StreamingOps.withStreamStart(spark)(
      graft.streaming.CompletionCounter.completionJobsTtl(saves)
        .writeStream
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.CompletionCounter.PackJob], _: Long) =>
          import spark.implicits._
          val jobs = batch.map(_.task_id).collect().toSeq.sorted
          run(spark, jobs, store, graph)
          ()
        }
        .start())
  }
}
