package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps
import scala.jdk.CollectionConverters._

/** Regression coverage for the round-5 staleness defect: derived-cache
  * keys carried (source size+mtime) but NOT the staged-format version,
  * so a code change to the staged layout (ts micros→nanos) silently
  * served a previous round's staged dir in the old format — the event
  * timeline compressed 1000× and the windowed-agg twin diverged.
  * These tests plant exactly that situation (an old-format staged dir
  * whose source fingerprint still matches) and prove the version bump
  * — not luck — is what forces a fresh staging.
  */
class CacheVersionSpec extends AnyFunSuite {
  import SparkTestSession._

  // test-only format versions, far away from the real constants so a
  // crashed run's leftovers never collide with production staging
  private val vOld = 9998
  private val vNew = 9999

  private def deleteQuietly(p: java.nio.file.Path): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(p.getParent.toFile)
    catch { case _: java.io.IOException => () }

  test("stale-format staged dir: served without a version bump, ignored with one") {
    val planted = StreamingOps.stageDir(sf, 3, vOld)
    val fresh = StreamingOps.stageDir(sf, 3, vNew)
    deleteQuietly(planted); deleteQuietly(fresh)
    try {
      // plant the round-4 format: same source fingerprint, ts in MICROS
      val micros = StreamingOps.rawEventsNs(spark, s"$sf/events.parquet")
        .withColumn("ts", expr("ts div 1000L"))
      micros.coalesce(1).write.parquet(planted.toString)

      // sensitivity control — WITHOUT a version bump the stale dir IS
      // the cache hit (this is the round-5 failure mode, reproduced):
      val servedOld = StreamingOps.stageEventBatches(spark, sf, 3, vOld)
      assert(servedOld == planted.toString,
        "control failed: planted dir was not addressed at its own version")
      val maxOld = spark.read.schema(StreamingOps.eventsRawSchema)
        .parquet(servedOld).agg(max(col("ts"))).head().getLong(0)
      assert(maxOld < 1e16.toLong,
        s"control failed: planted staged ts should be micros-scale, got $maxOld")

      // the fix — a bumped format version never addresses the stale dir
      // and re-stages from source in the current (nanos) format:
      val servedNew = StreamingOps.stageEventBatches(spark, sf, 3, vNew)
      assert(servedNew != servedOld, "version bump must change the cache key")
      val staged = spark.read.schema(StreamingOps.eventsRawSchema).parquet(servedNew)
      val maxNew = staged.agg(max(col("ts"))).head().getLong(0)
      assert(maxNew > 1e17.toLong,
        s"re-staged ts must be nanos-scale, got $maxNew (stale format leaked through)")
      val srcRows = StreamingOps.rawEventsNs(spark, s"$sf/events.parquet").count()
      assert(staged.count() == srcRows, "re-staged batches must cover the full source")
    } finally { deleteQuietly(planted); deleteQuietly(fresh) }
  }

  test("default staging path embeds the current format version") {
    val dir = StreamingOps.stageDir(sf, 3)
    assert(dir.toString.contains(s"graft_stream_v${StreamingOps.StageFormatVersion}_"),
      s"staging dir must be format-versioned: $dir")
  }

  test("index caches embed the manifest-era format versions; an older index is not read") {
    import graft.operators.{AnnIndex, IndexLifecycle, SignatureIndex}
    // version 2: every mutable index table is read through the layout
    // manifest; a version-1 index (directory reads) must be rebuilt
    assert(SignatureIndex.FormatVersion == 2 && AnnIndex.FormatVersion == 2)
    val key = "cv_spec_" + System.nanoTime()
    val sig = SignatureIndex.ensureIndex(graft.operators.Dedup.shingleHashSets(
      Tables.documents(spark, sf).limit(20), "doc_id", "text", 5), sf, key)
    assert(sig.contains(s"graft_sigindex_v${SignatureIndex.FormatVersion}_"),
      s"signature index cache dir must be format-versioned: $sig")
    val ann = AnnIndex.ensureAnnIndex(sf, key)(tinyAnnIndex)
    assert(ann.contains(s"graft_annindex_v${AnnIndex.FormatVersion}_"),
      s"ANN index cache dir must be format-versioned: $ann")
    try {
      // an index stamped by the previous generation fails loudly
      val root = java.nio.file.Paths.get(sig)
      IndexLifecycle.writeMetaProps(root, "planted", 1, Nil)
      val e = intercept[IllegalArgumentException](SignatureIndex.readMeta(sig))
      assert(e.getMessage.contains("this build reads 2"), e.getMessage)
    } finally Seq(sig, ann).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
  }

  private def tinyAnnIndex(p: String) =
    graft.operators.AnnIndex.buildAnnIndex(spark.range(4).select(col("id").as("vec_id"),
      array(col("id"), lit(0L)).as("qv")), Seq((0L, Array(0L, 0L))), p)

  test("each artifact family: one build per version, a bumped version rebuilds") {
    import graft.operators.{AnnIndex, Dedup, SignatureIndex}
    import graft.storage.{ArtifactCache, PartitionedStore}
    val name = "cv_family_" + System.nanoTime()
    // (family, source table, artifact name, the family's entry point)
    val families: Seq[(String, String, String, Int => String)] = Seq(
      ("stream", "events.parquet", "events_3",
        v => StreamingOps.stageEventBatches(spark, sf, 3, v)),
      ("part", "events.parquet", name,
        v => PartitionedStore.cached(sf, name, version = v)(
          spark.range(1).write.parquet(_))),
      ("sigindex", "documents.parquet", name,
        v => SignatureIndex.ensureIndex(Dedup.shingleHashSets(
          Tables.documents(spark, sf).limit(20), "doc_id", "text", 5), sf, name, v)),
      ("annindex", "embeddings.parquet", name,
        v => AnnIndex.ensureAnnIndex(sf, name, v)(tinyAnnIndex)))
    for ((family, source, artifact, call) <- families) {
      val dirs = Seq(vOld, vNew).map(ArtifactCache.dir(family, _, sf, source, artifact))
      dirs.foreach(deleteQuietly) // a crashed run's leftovers
      try {
        val (first, firstJobs) = jobsDuring(call(vOld))
        val (again, againJobs) = jobsDuring(call(vOld))
        val (bumped, bumpedJobs) = jobsDuring(call(vNew))
        assert(first == dirs(0).toString, s"$family: $first is not its key's dir")
        assert(firstJobs > 0 && again == first && againJobs == 0,
          s"$family: the same version must be a cache hit ($againJobs jobs)")
        assert(bumped == dirs(1).toString && bumped != first && bumpedJobs > 0,
          s"$family: a bumped version must build fresh")
      } finally dirs.foreach(deleteQuietly)
    }
  }

  test("windowed-agg twin stays green off the versioned staging path") {
    // end-to-end: the production (default-version) staging path feeds
    // the streaming windowed agg and matches its batch twin — the exact
    // check that failed in round 5 when a stale-format dir was served
    val streamed = SparkEntry.queries("stream_windowed_agg")(spark, sf)
    val batch = Tables.events(spark, sf)
      .select((floor(unix_timestamp(col("ts")) / 300) * 300).cast("long").as("bucket_start"),
        col("event_type"), col("value"))
      .groupBy(col("bucket_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
      .orderBy(col("bucket_start"), col("event_type"))
    assert(streamed.collect().sameElements(batch.collect()))
  }

  test("v3 sentinel staging: sentinel rides the last batch file, no extra file") {
    // StageFormatVersion v3: the sentinel row is co-batched with the
    // last data slice instead of staged as a 4th file — one fewer
    // trigger per sentinel stream. Pin the layout (exactly nBatches
    // files) and the semantics that make the merge sound: the sentinel
    // is in the LAST-arriving file (so it cannot late-drop real rows —
    // the watermark only advances at batch end) and every real row of
    // the source is still staged exactly once.
    val dir = StreamingOps.stageEventBatches(spark, sf, 3, sentinel = true,
      sentinelType = "purchase")
    val files = scala.util.Using.resource(java.nio.file.Files.list(
      java.nio.file.Paths.get(dir)))(_.iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toVector)
        .sortBy(_.getFileName.toString)
    assert(files.size == 3, s"v3 layout must stage exactly nBatches files: $files")
    val last = spark.read.schema(StreamingOps.eventsRawSchema)
      .parquet(files.last.toString)
    assert(last.filter(col("event_id") === -1L).count() == 1,
      "sentinel row must ride in the last-arriving batch file")
    (0 until 2).foreach { i =>
      val f = spark.read.schema(StreamingOps.eventsRawSchema)
        .parquet(files(i).toString)
      assert(f.filter(col("event_id") === -1L).count() == 0,
        s"no sentinel outside the last file: ${files(i)}")
    }
    val staged = spark.read.schema(StreamingOps.eventsRawSchema).parquet(dir)
    val srcRows = StreamingOps.rawEventsNs(spark, s"$sf/events.parquet").count()
    assert(staged.filter(col("event_id") >= 0).count() == srcRows,
      "staged batches must cover every real source row exactly once")
  }
}
