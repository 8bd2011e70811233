package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.{ArtifactCache, PartitionedStore}
import graft.streaming.StreamingOps

/** The build-once primitive under every fixture-derived artifact:
  * failed builds leave nothing behind, and cold builds of different
  * keys do not serialize. */
class ArtifactCacheSpec extends AnyFunSuite {
  import SparkTestSession._

  private def writeEmpty(sfDir: Path, table: String, schema: StructType): Unit =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      .write.parquet(sfDir.resolve(table).toString)

  private def orphans(keyDir: Path): List[Path] =
    if (!Files.isDirectory(keyDir)) Nil
    else scala.util.Using.resource(Files.list(keyDir))(
      _.iterator().asScala.filter(_.getFileName.toString.contains(".build_")).toList)

  test("a failing build fails descriptively and leaves no .build_ orphan") {
    val v = StreamingOps.StageFormatVersion
    // (what, family, source table, artifact name, the failing call, message)
    val cases: Seq[(String, String, String, String, String => Any, String)] = Seq(
      ("empty events", "stream", "events.parquet", "events_3",
        d => StreamingOps.stageEventBatches(spark, d, 3), "has no rows"),
      ("empty documents", "stream", "documents.parquet", "documents_3",
        d => StreamingOps.stageDocBatches(spark, d, 3), "has no rows"),
      ("empty embeddings", "stream", "embeddings.parquet", "vecinc_3",
        d => StreamingOps.stageVecBatches(spark, d, 3), "has no rows"),
      ("throwing layout build", "part", "events.parquet", "throws",
        d => PartitionedStore.cached(d, "throws") { p =>
          spark.range(1).write.parquet(p)
          throw new IllegalStateException("layout build failed half-way")
        }, "failed half-way"))
    for ((what, family, source, name, call, message) <- cases) {
      val sfDir = Files.createTempDirectory("graft_empty_sf_")
      try {
        writeEmpty(sfDir, "events.parquet", StreamingOps.eventsRawSchema)
        writeEmpty(sfDir, "documents.parquet", StreamingOps.documentsRawSchema)
        writeEmpty(sfDir, "embeddings.parquet", StreamingOps.embeddingsRawSchema)
        val keyDir = ArtifactCache.dir(family,
          if (family == "stream") v else PartitionedStore.FormatVersion,
          sfDir.toString, source, name)
        val e = intercept[Exception](call(sfDir.toString))
        assert(e.getMessage.contains(message), s"$what: ${e.getMessage}")
        assert(orphans(keyDir.getParent).isEmpty && !Files.exists(keyDir),
          s"$what: orphaned build dirs ${orphans(keyDir.getParent)}")
        org.apache.commons.io.FileUtils.deleteDirectory(keyDir.getParent.toFile)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(sfDir.toFile)
    }
  }

  test("cold builds of two keys overlap: neither waits behind the other") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val tag = System.nanoTime()
    val aBuilding, bBuilt = new CountDownLatch(1)
    // key A's build can only finish once key B's build has run
    val a = Future(PartitionedStore.cached(sf, s"lock_a_$tag") { p =>
      aBuilding.countDown()
      assert(bBuilt.await(30, TimeUnit.SECONDS),
        "key B's build never ran while key A's was in progress")
      Files.createDirectories(Paths.get(p))
    })
    assert(aBuilding.await(30, TimeUnit.SECONDS), "key A's build never started")
    val b = Future(PartitionedStore.cached(sf, s"lock_b_$tag") { p =>
      Files.createDirectories(Paths.get(p))
      bBuilt.countDown()
    })
    val built = Await.result(a.zip(b), 90.seconds)
    built.productIterator.foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p.toString)))
  }
}
