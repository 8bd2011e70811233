package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{CompletionCounter, StreamingOps}

/** Multi-batch streaming semantics (what the single-batch Verify run
  * can't show): late-data buffering in the ReID assembly join and
  * exactly-once firing of the completion counter across batch splits.
  * Mirrors reference behavior: instant match / late match within the
  * buffer / drop beyond it (PedestrianReIDUsingAttrApp.java:156-198)
  * and idempotent pack triggering (DataManagingApp.java:298-325). */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("reid assembly join: instant match, late match within buffer, drop beyond") {
    implicit val sqlCtx = spark.sqlContext
    val trackletsIn = MemoryStream[(String, Timestamp)]
    val attrsIn = MemoryStream[(String, Timestamp)]
    val tracklets = trackletsIn.toDF().toDF("key", "ts")
    val attrs = attrsIn.toDF().toDF("key", "ts")
    val joined = StreamingOps.reidAssemblyJoin(tracklets, attrs, "key", "ts")
      .select(col("key"))

    val q = joined.writeStream.format("memory")
      .queryName("reid_join_test").outputMode("append").start()
    try {
      // batch 1: both legs same batch -> instant match (J1)
      trackletsIn.addData(("t1", ts(0)))
      attrsIn.addData(("t1", ts(1)))
      q.processAllAvailable()
      assert(spark.table("reid_join_test").as[String].collect().toSet == Set("t1"))

      // batch 2: tracklet alone -> buffered, no output yet (J2 buffer)
      trackletsIn.addData(("t2", ts(5)))
      q.processAllAvailable()
      assert(spark.table("reid_join_test").count() == 1)

      // batch 3: attr arrives 3 min later, within the 10-min buffer -> late match (J2/J3)
      attrsIn.addData(("t2", ts(8)))
      q.processAllAvailable()
      assert(spark.table("reid_join_test").as[String].collect().toSet == Set("t1", "t2"))

      // batch 4: attr 50 min after its tracklet -> outside the buffer, dropped (W3)
      trackletsIn.addData(("t3", ts(10)))
      attrsIn.addData(("t3", Timestamp.valueOf("2024-01-01 11:00:00")))
      q.processAllAvailable()
      assert(spark.table("reid_join_test").as[String].collect().toSet == Set("t1", "t2"))
    } finally q.stop()
  }

  test("stream oracles run MULTI-batch on the RocksDB state store") {
    // the registered oracle queries must genuinely exercise cross-batch
    // state: 3 staged files → batchId ≥ 2, and the state store metrics
    // must come from the RocksDB provider (off-heap/disk state — the
    // 100-TB shape), not the HDFS-backed in-memory store. The provider
    // is PINNED here: the auto size-driven choice picks the in-memory
    // provider at spec SF (identical results, cheaper state), and this
    // test exists to prove the RocksDB path works for the oracle query
    // shapes, exactly like ScaleBench pins it for every ladder rung.
    val prevPin = spark.conf.getOption("graft.stateProvider")
    spark.conf.set("graft.stateProvider", "rocksdb")
    val out = try SparkEntry.queries("stream_session_agg")(spark, sf)
      finally prevPin match {
        case Some(v) => spark.conf.set("graft.stateProvider", v)
        case None    => spark.conf.unset("graft.stateProvider")
      }
    assert(out.count() > 0)
    val pj = StreamingOps.lastProgressJson.getOrElse(
      fail("no streaming progress recorded"))
    val batchId = "\"batchId\"\\s*:\\s*(\\d+)".r
      .findFirstMatchIn(pj).map(_.group(1).toInt)
      .getOrElse(fail(s"no batchId in progress: $pj"))
    assert(batchId >= 2, s"expected ≥3 micro-batches, last batchId=$batchId")
    assert(pj.toLowerCase.contains("rocksdb"),
      s"RocksDB state-store metrics expected in progress: $pj")
    val stateRows = "\"numRowsTotal\"\\s*:\\s*(\\d+)".r
      .findFirstMatchIn(pj).map(_.group(1).toLong)
      .getOrElse(fail("no state operator metrics in progress"))
    assert(stateRows > 0, "session state rows expected")
  }

  test("routed producer: crash after sink write, before commit — restart leaves no duplicates") {
    // the exactly-once window under test: foreachBatch has WRITTEN a
    // micro-batch's files but the checkpoint has not committed the
    // batch. A restart re-delivers that batch with the SAME batchId;
    // the batchId-partitioned dynamic overwrite must make the replay a
    // content no-op instead of a second copy (the blind-append form
    // duplicated the whole batch here).
    val base = java.nio.file.Files.createTempDirectory("graft_routed_eo_")
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def routed = StreamingOps.eventsStream(spark, sf)
      .select(col("event_id"), col("value"),
        array_compact(array(
          lit("archive"),
          when(col("event_type") === "purchase", lit("billing")),
          when(col("user_id") % 2 === 0, lit("audit")))).as("dest_ports"))
    def start() = routed.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.storage.RoutedStore.appendBatchExactlyOnce(b, id, out)
        if (id == 1 && !crashed.getAndSet(true))
          throw new RuntimeException("injected crash between write and commit")
      }
      .option("checkpointLocation", ckpt)
      .start()
    val q1 = start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    assert(crashed.get, "the injected crash never fired")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // every (event, port) copy exactly once, equal to the batch twin
    val got = spark.read.parquet(out)
      .groupBy(col("port"), col("event_id")).count()
    assert(got.filter(col("count") =!= 1).isEmpty,
      "replayed batch left duplicate copies")
    val expected = Tables.events(spark, sf)
      .select(col("event_id"),
        explode(array_compact(array(
          lit("archive"),
          when(col("event_type") === "purchase", lit("billing")),
          when(col("user_id") % 2 === 0, lit("audit"))))).as("port"))
      .count()
    assert(got.count() == expected)
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("auto state-provider size derives from the stream's OWN file sources") {
    // regression for the shared-conf staleness (round-6 ADVICE): the
    // size driving the provider choice must come from the plan's own
    // source paths, not from whichever staging ran last in the session
    val staged = StreamingOps.eventsStream(spark, sf)
    val bytes = StreamingOps.streamSourceBytes(staged)
    assert(bytes.exists(_ > 0), s"staged file stream must resolve a size: $bytes")
    // a memory stream has no file source: size is None (ephemeral toy
    // state), regardless of any staged stream built before it
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long].toDF()
    assert(StreamingOps.streamSourceBytes(mem).isEmpty)
    // a union of both legs still sees the staged leg's files
    val both = staged.select(col("event_id"))
      .unionByName(mem.select(col("value").as("event_id")))
    assert(StreamingOps.streamSourceBytes(both) == bytes)
  }

  test("Trigger.AvailableNow drains the staged batches incrementally and stops") {
    // the scheduled-incremental-batch execution mode (run-as-a-cron-job
    // streaming): the query processes everything available respecting
    // maxFilesPerTrigger, then terminates on its own — no
    // processAllAvailable babysitting. Same staged source, same
    // watermark semantics, and the result must equal the batch twin.
    val stream = StreamingOps.eventsStream(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_avnow_").toString
    val q = stream.writeStream
      .format("memory").queryName("avnow_test")
      .option("checkpointLocation", ckpt)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(120000), "AvailableNow query must self-terminate")
      val lastBatch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      assert(lastBatch >= 2, s"staged files must drain as multiple batches, got $lastBatch")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    }
    val got = spark.table("avnow_test").orderBy(col("event_type")).collect()
    val want = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
      .orderBy(col("event_type")).collect()
    assert(got.sameElements(want), "AvailableNow result must equal the batch twin")
  }

  test("checkpoint recovery: killed query resumes the batch sequence with state intact") {
    // stream_recover kills its query after the first committed batch and
    // restarts from the same checkpoint; here we assert the restart
    // genuinely RESUMED — run 2's last batchId strictly extends run 1's
    // (offsets recovered; a state-less restart would re-begin at 0) —
    // and that the recovered run still ran on RocksDB with live state
    val out = SparkEntry.queries("stream_recover")(spark, sf)
    // capture the RECOVER run's progress before the twin below
    // overwrites it (the twin may run on the auto-chosen provider; the
    // recovery harness itself is pinned to RocksDB)
    val pj = StreamingOps.lastProgressJson.getOrElse(
      fail("no streaming progress recorded"))
    val (b1, b2) = StreamingOps.lastRestartBatchIds.getOrElse(
      fail("no restart batch ids recorded"))
    val batchTwin = SparkEntry.queries("stream_completion")(spark, sf)
    assert(out.collect().toSeq == batchTwin.collect().toSeq,
      "recovered run must land on the uninterrupted run's exact table")
    assert(b1 >= 0, s"run 1 committed no batch (b1=$b1)")
    assert(b2 > b1, s"run 2 must continue past run 1's batches ($b1 -> $b2)")
    assert(pj.toLowerCase.contains("rocksdb"),
      s"RocksDB state-store metrics expected in recovered run: $pj")
  }

  test("per-key quota counts across batches; a filled quota never re-opens") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val ev = in.toDF().toDF("user_id", "ts", "event_id")
    val kept = graft.streaming.QuotaSampler.perKeyQuota(ev, 2).toDF()
    val q = kept.writeStream.format("memory")
      .queryName("quota_test").outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // batch 1: user 7 sends one event -> kept, rank 1
      in.addData((7L, ts("2024-01-01 10:00:00"), 100L))
      q.processAllAvailable()
      assert(spark.table("quota_test").count() == 1)
      // batch 2: two more from user 7 (out of id order inside the
      // batch) -> only ONE fits the quota, and it's the event-time
      // smaller one; plus user 8's first
      in.addData((7L, ts("2024-01-01 10:02:00"), 103L),
        (7L, ts("2024-01-01 10:01:00"), 101L),
        (8L, ts("2024-01-01 10:00:30"), 200L))
      q.processAllAvailable()
      val rows2 = spark.table("quota_test").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("quota_rank"))).toMap
      assert(rows2 == Map(100L -> 1L, 101L -> 2L, 200L -> 1L), s"$rows2")
      // batch 3: more traffic for user 7 must NOT re-open the quota,
      // even though earlier batch-2 overflow already pushed its seen
      // count past k
      in.addData((7L, ts("2024-01-01 10:05:00"), 104L))
      q.processAllAvailable()
      assert(spark.table("quota_test").count() == 3)
    } finally q.stop()
  }

  test("completion counter fires exactly once, at the batch completing the set") {
    implicit val sqlCtx = spark.sqlContext
    val savesIn = MemoryStream[(String, Int, Int)]
    val saves = savesIn.toDF().toDF("task_id", "serial", "num_tracklets")
      .as[CompletionCounter.SaveEvent]
    val jobs = {
      // intentionally exercising the deprecated bounded-key-space form
      import scala.annotation.nowarn
      (CompletionCounter.completionJobs(saves): @nowarn("cat=deprecation")).toDF()
    }

    val q = jobs.writeStream.format("memory")
      .queryName("completion_test").outputMode("append").start()
    try {
      // task A needs 3 tracklets; first two arrive split across batches
      savesIn.addData(("A", 0, 3), ("A", 1, 3))
      q.processAllAvailable()
      assert(spark.table("completion_test").count() == 0)

      // duplicate save of serial 1 (reference: "duplicated storing
      // request") must not advance the count
      savesIn.addData(("A", 1, 3))
      q.processAllAvailable()
      assert(spark.table("completion_test").count() == 0)

      // final serial arrives -> exactly one pack job
      savesIn.addData(("A", 2, 3))
      q.processAllAvailable()
      val rows = spark.table("completion_test").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("task_id") == "A")
      assert(rows.head.getAs[Int]("n_saved") == 3)

      // replayed saves after completion must not re-fire (idempotent,
      // like the har-exists short-circuit)
      savesIn.addData(("A", 0, 3))
      q.processAllAvailable()
      assert(spark.table("completion_test").count() == 1)
    } finally q.stop()
  }

  test("completion counter TTL: abandoned state expires, late save re-opens cleanly") {
    implicit val sqlCtx = spark.sqlContext
    val savesIn = MemoryStream[(String, Int, Int, Timestamp)]
    val saves = savesIn.toDF().toDF("task_id", "serial", "num_tracklets", "ts")
      .withWatermark("ts", "0 seconds")
      .as[CompletionCounter.SaveEventTs]
    // 1-minute event-time TTL: expiry driven by the watermark, so the
    // test is deterministic (no wall-clock sleeps)
    val jobs = CompletionCounter.completionJobsTtl(saves, stateTtlMs = 60_000L).toDF()

    val q = jobs.writeStream.format("memory")
      .queryName("completion_ttl_test").outputMode("append").start()
    try {
      // task A saves 1 of 2 serials at 10:00, then goes silent
      savesIn.addData(("A", 0, 2, ts(0)))
      q.processAllAvailable()
      // unrelated traffic carries the watermark past 10:01 = A's last
      // activity + TTL (two batches: one to advance the wm, one to run
      // with it), expiring A's state
      savesIn.addData(("B", 0, 9, ts(5)))
      q.processAllAvailable()
      savesIn.addData(("B", 1, 9, ts(6)))
      q.processAllAvailable()
      assert(spark.table("completion_ttl_test").count() == 0)

      // A's second serial arrives AFTER expiry: had the state survived,
      // {0,1} would complete the pair and fire — expired state means the
      // task re-opens with only {1}, still incomplete
      savesIn.addData(("A", 1, 2, ts(7)))
      q.processAllAvailable()
      assert(spark.table("completion_ttl_test").count() == 0)

      // the missing serial re-sent within the TTL: the re-opened task
      // completes and fires exactly once
      savesIn.addData(("A", 0, 2, ts(8)))
      q.processAllAvailable()
      val rows = spark.table("completion_ttl_test").collect()
      assert(rows.length == 1 && rows.head.getAs[String]("task_id") == "A")
      assert(rows.head.getAs[Int]("n_saved") == 2)
    } finally q.stop()
  }

  test("session windows merge across micro-batches, split at the gap") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val agg = in.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("n"))
    val q = agg.writeStream.format("memory")
      .queryName("session_merge_test").outputMode("complete").start()
    try {
      in.addData((1L, ts(0)))
      q.processAllAvailable()
      // arrives in a LATER batch but within the 5-min gap: must merge
      // into the existing session, not open a second one
      in.addData((1L, ts(3)))
      q.processAllAvailable()
      // 17 min after the last event: past the gap, a new session
      in.addData((1L, ts(20)))
      q.processAllAvailable()
      val sessions = spark.table("session_merge_test")
        .collect().map(r => r.getLong(1)).sorted.toSeq
      assert(sessions == Seq(1L, 2L),
        s"expected one merged 2-event session + one new session, got $sessions")
    } finally q.stop()
  }

  test("streaming compaction loop: saves stream -> pack -> repoint, end to end") {
    import graft.storage.{CompactionJob, GraphStore, TrackletStore}
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graftcompact")
    val store = new TrackletStore(spark, base.resolve("store").toString)
    val graph = new GraphStore(spark, base.resolve("graph").toString)
    graph.upsertPersons(Seq(("A", "raw/A"), ("B", "raw/B")).toDF("id", "path"))

    val savesIn = MemoryStream[(String, Int, Int, Timestamp)]
    val saves = savesIn.toDF().toDF("task_id", "serial", "num_tracklets", "ts")
      .withWatermark("ts", "10 minutes")
      .as[CompletionCounter.SaveEventTs]
    val q = CompactionJob.startStream(saves, store, graph,
      base.resolve("ckpt").toString)
    try {
      // the data-plane saves land in the store; the control-plane save
      // events drive the counter (reference: saving stream + queue)
      store.save(Seq(("A", 0, 10), ("A", 1, 11)).toDF("task_id", "serial", "start_frame"))
      savesIn.addData(("A", 0, 2, ts(0)))
      q.processAllAvailable()
      assert(!store.isPacked("A")) // incomplete -> no compaction yet

      savesIn.addData(("A", 1, 2, ts(1)), ("B", 0, 2, ts(1)))
      q.processAllAvailable()
      assert(store.isPacked("A")) // A complete -> packed in this batch
      assert(!store.isPacked("B")) // B still incomplete
      assert(store.readTask("A").count() == 2)
      assert(graph.getPerson("A").head().getAs[String]("path").contains("packed"))
      assert(graph.getPerson("B").head().getAs[String]("path") == "raw/B")

      // replays after completion must not disturb the packed task
      savesIn.addData(("A", 1, 2, ts(2)))
      q.processAllAvailable()
      assert(store.readTask("A").count() == 2)
    } finally q.stop()
  }

  test("chained streaming topology: stage edges as durable storage (reference app-chaining)") {
    // The reference chains apps via Kafka topics; here stage 1 writes a
    // durable edge (files) that stage 2 consumes as its own stream —
    // the same topology shape with storage as the broker.
    val base = java.nio.file.Files.createTempDirectory("graftchain")
    val edge = base.resolve("edge").toString
    val ckpt1 = base.resolve("ckpt1").toString

    // stage 1: tracking-ish projection of the event stream -> edge files
    val stage1 = graft.streaming.StreamingOps.eventsStream(spark, sf)
      .select($"event_id", $"user_id", $"event_type", $"value")
    val q1 = stage1.writeStream.format("parquet")
      .option("path", edge).option("checkpointLocation", ckpt1)
      .outputMode("append").start()
    try q1.processAllAvailable() finally q1.stop()

    // stage 2: consumes the edge as ITS stream, aggregates per type
    val stage2 = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "event_id LONG, user_id LONG, event_type STRING, value DOUBLE"))
      .parquet(edge)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
    val out = graft.streaming.StreamingOps.runToMemory(
      spark, stage2, "graft_chain_out", "complete")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val expected = Tables.events(spark, sf).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == expected)
  }

  private def compiles(): Long = org.apache.spark.metrics.source.CodegenMetrics
    .METRIC_COMPILATION_TIME.getCount

  /** The identity of the context classloader each task of `ds` runs
    * under, one row per input row. */
  private def taskLoaders(ds: org.apache.spark.sql.Dataset[Int]) =
    ds.mapPartitions { it =>
      val loader = System.identityHashCode(
        Thread.currentThread.getContextClassLoader)
      it.map(_ => loader)
    }

  /** One run of the same memory-sink stream: the task loaders it saw
    * and the generated classes compiled during the run. */
  private def loaderStreamRun(name: String): (Set[Int], Long) = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    in.addData(1 to 8)
    val before = compiles()
    val out = StreamingOps.runToMemory(spark,
      taskLoaders(in.toDS()).toDF("loader"), name, "append")
    val compiled = compiles() - before
    (out.as[Int].collect().toSet, compiled)
  }

  test("stream start scope: runs share one task classloader; a rerun compiles nothing") {
    // each stream runs in a clone of the starting session; an isolated
    // clone gets a classloader of its own on the executor, and the
    // generated-code cache is keyed on the loader, so every run would
    // compile its classes again in its tasks
    val (first, _) = loaderStreamRun("loader_run_1")
    val (second, compiled) = loaderStreamRun("loader_run_2")
    assert(first.size == 1 && first == second,
      s"runs ran their tasks under different loaders: $first vs $second")
    assert(compiled == 0, s"the second run compiled $compiled classes")
  }

  test("stream start scope restores the parent's settings, also after a stream that throws") {
    implicit val sqlCtx = spark.sqlContext
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "spark.sql.artifact.isolation.enabled")
    def settings() = {
      val all = spark.conf.getAll
      keys.map(k => k -> all.get(k))
    }
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    // above the state cap of 4, so the scope must change and restore it
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try {
      val found = settings()
      val ok = MemoryStream[Int]
      ok.addData(1 to 4)
      assert(StreamingOps.runToMemory(spark, ok.toDF(), "scope_ok", "append")
        .count() == 4)
      assert(settings() == found)
      val bad = MemoryStream[Int]
      bad.addData(1 to 4)
      val boom = bad.toDS().map(i =>
        if (i > 0) throw new IllegalStateException("boom") else i)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        StreamingOps.runToMemory(spark, boom.toDF(), "scope_throws", "append"))
      assert(settings() == found)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("a fresh session whose first action is a stream run keeps its own artifact scope") {
    val fresh = spark.newSession()
    implicit val sqlCtx = fresh.sqlContext
    import fresh.implicits._
    val in = MemoryStream[Int]
    in.addData(1 to 4)
    // the fresh session first needs its artifact scope for the clone
    // its stream starts in, and then for the batch function's job,
    // both while the stream start scope is open
    val out = StreamingOps.runForeachBatch(fresh, in.toDF(), "fresh_first",
      (batch, _) => { fresh.range(1).count(); batch })
    assert(out.count() == 4)
    // its batch jobs still run under a loader of their own, not the
    // executor's shared loader the streams run under
    val batchLoader = taskLoaders(fresh.range(0, 4, 1, 2).as[Long].map(_.toInt))
      .collect().toSet
    val (streamLoader, _) = loaderStreamRun("loader_run_fresh")
    assert(batchLoader.size == 1 && batchLoader != streamLoader,
      s"batch loaders $batchLoader, stream loaders $streamLoader")
  }

  test("streaming windowed agg equals its batch twin") {
    val streamed = StreamingQueriesAccess.windowedAgg(spark, sf)
    val batch = Tables.events(spark, sf)
      .select((floor(unix_timestamp(col("ts")) / 300) * 300).cast("long").as("bucket_start"),
        col("event_type"), col("value"))
      .groupBy(col("bucket_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
      .orderBy(col("bucket_start"), col("event_type"))
    assert(streamed.collect().sameElements(batch.collect()))
  }
}

/** Test access to the streaming query registry. */
object StreamingQueriesAccess {
  def windowedAgg(spark: org.apache.spark.sql.SparkSession, sf: String) =
    SparkEntry.queries("stream_windowed_agg")(spark, sf)
}
