package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIndex, Dedup, IndexLifecycle, Similarity}

import scala.jdk.CollectionConverters._

/** The persisted IVF ANN index: build-once / probe-per-increment must
  * (a) reproduce the live ivfTopKQ frame exactly, (b) read ONLY the
  * probed cell partitions (literal PartitionFilters, metadata
  * predicates pushed to the same scan), (c) keep the bulk mapPartitions
  * assignment kernel bit-identical to the inline Catalyst one, and
  * (d) make appends equal a fresh build over the same frozen
  * quantizer.
  */
class AnnIndexSpec extends AnyFunSuite {
  import SparkTestSession._

  private def newIndexDir(): String = {
    val d = Files.createTempDirectory("graft_test_annidx_")
    Dedup.registerScratchDir(d)
    d.toString
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  private lazy val vecsQ = Tables.embeddings(spark, sf)
    .select(col("vec_id"), col("label"),
      Similarity.quantize(col("embedding")).as("qv"))

  private lazy val probes = Tables.embeddings(spark, sf)
    .filter(col("vec_id") >= 16 && col("vec_id") < 26)
    .select(col("vec_id").as("probe_id"),
      Similarity.quantize(col("embedding")).as("pqv"))

  /** First-n raw vectors as a deterministic centroid table. */
  private def rawCentroids(n: Int): Seq[(Long, Array[Long])] =
    vecsQ.filter(col("vec_id") < n).select(col("vec_id"), col("qv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1).toSeq

  test("indexed probe equals the live ivfTopKQ frame") {
    val cents = Similarity.kmeansQuantized(vecsQ.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ, cents, idx)
    val live = Similarity.ivfTopKQ(
      Similarity.assignCellsQ(vecsQ, cents), probes, cents,
      "vec_id", nProbe = 4, k = 3)
    val expected = canon(live)
    assert(expected.nonEmpty, "fixture must produce neighbors")
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes,
      nProbe = 4, k = 3)) == expected)
  }

  test("bulk assignment kernel is bit-identical to the inline one") {
    // 80 centroids: above InlineCellsMax, so both build and probe
    // dispatch the bulk kernels — compared against the inline forms
    // invoked directly on the same centroid table
    val cents = rawCentroids(80)
    assert(cents.size > AnnIndex.InlineCellsMax)
    val bulk = AnnIndex.assignBulk(vecsQ, cents)
      .select(col("vec_id"), col("cell"))
    val inline = Similarity.assignCellsQ(vecsQ, cents)
      .select(col("vec_id"), col("cell"))
    assert(canon(bulk) == canon(inline))

    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ, cents, idx)
    val live = Similarity.ivfTopKQ(
      Similarity.assignCellsQ(vecsQ, cents), probes, cents,
      "vec_id", nProbe = 4, k = 3)
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes,
      nProbe = 4, k = 3)) == canon(live))
  }

  test("append equals a fresh build over the same frozen quantizer") {
    val base = vecsQ.filter(col("vec_id") < 400)
    val inc = vecsQ.filter(col("vec_id") >= 400)
    val cents = Similarity.kmeansQuantized(base.select(col("qv")),
      rawCentroids(16), iters = 2)

    val appended = newIndexDir()
    AnnIndex.buildAnnIndex(base, cents, appended)
    val meta = AnnIndex.appendToAnnIndex(inc, appended)
    assert(meta.appendedVecs > 0 && meta.nVecs == 500)

    val fresh = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ, cents, fresh)

    val a = canon(AnnIndex.probeAnnIndex(spark, appended, probes, 4, 3))
    val f = canon(AnnIndex.probeAnnIndex(spark, fresh, probes, 4, 3))
    assert(a.nonEmpty && a == f)
  }

  test("probe reads only the probed cell partitions, predicates pushed") {
    val cents = Similarity.kmeansQuantized(vecsQ.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ, cents, idx)
    val plan = AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3,
      candidateFilter = col("label") === 3)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"cells scan must carry literal cell partition filters:\n$plan")
    assert("PushedFilters: \\[[^\\]]*label".r.findFirstIn(plan).isDefined,
      s"metadata predicate must push to the pruned parquet scan:\n$plan")
  }

  test("probing never rewrites the persisted cells") {
    val cents = Similarity.kmeansQuantized(vecsQ.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ, cents, idx)
    def cellsState(): Seq[(String, Long, Long)] =
      scala.util.Using.resource(Files.walk(Paths.get(idx, "cells")))(
        _.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => (p.toString, Files.size(p),
            Files.getLastModifiedTime(p).toMillis))
          .toSeq.sortBy(_._1))
    val before = cellsState()
    AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3).collect()
    assert(cellsState() == before)
  }

  test("compaction merges fragmented cells without changing results") {
    val cents = Similarity.kmeansQuantized(vecsQ.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ.filter(col("vec_id") < 350), cents, idx)
    // three small appends fragment the touched cells
    for (lo <- Seq(350, 400, 450)) {
      AnnIndex.appendToAnnIndex(
        vecsQ.filter(col("vec_id") >= lo && col("vec_id") < lo + 50), idx)
    }
    val before = canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3))
    def nFiles(): Int =
      scala.util.Using.resource(Files.walk(Paths.get(idx)))(
        _.iterator().asScala.count(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet")))
    // appends land in delta/, not the cell partitions
    assert(Files.isDirectory(Paths.get(idx, "delta")))
    val filesBefore = nFiles()
    val compacted = AnnIndex.compactCells(spark, idx, maxFilesPerCell = 1)
    assert(compacted > 0, "the fold must fragment at least one cell")
    // the delta is folded OUT OF THE SNAPSHOT (its files are retained
    // on disk for in-flight snapshot readers) and the probe frame is
    // unchanged
    assert(graft.operators.IndexLifecycle
      .manifestFilesUnder(Paths.get(idx), "delta").get.isEmpty)
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3)) == before)
    // the NEXT maintenance entry reclaims the retained files
    AnnIndex.compactCells(spark, idx, maxFilesPerCell = 1)
    assert(nFiles() < filesBefore)
    assert(!Files.isDirectory(Paths.get(idx, "delta")))
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3)) == before)
  }

  test("compaction leaves unfragmented cells byte-untouched") {
    val cents = Similarity.kmeansQuantized(vecsQ.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ, cents, idx)
    def state(): Seq[(String, Long, Long)] =
      scala.util.Using.resource(Files.walk(Paths.get(idx, "cells")))(
        _.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => (p.toString, Files.size(p),
            Files.getLastModifiedTime(p).toMillis))
          .toSeq.sortBy(_._1))
    val before = state()
    // fresh build: one file per cell, nothing above the threshold
    assert(AnnIndex.compactCells(spark, idx, maxFilesPerCell = 4) == 0)
    assert(state() == before)
  }

  test("knn join matches per-probe search and survives the shuffle path") {
    val cents = Similarity.kmeansQuantized(vecsQ.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ, cents, idx)
    // the per-probe contract run over every vector must equal the join
    val expected = canon(AnnIndex.probeAnnIndex(spark, idx,
      vecsQ.select(col("vec_id").as("probe_id"), col("qv").as("pqv")),
      nProbe = 4, k = 3))
    val joined = AnnIndex.knnJoinIndex(spark, idx, vecsQ, nProbe = 4, k = 3)
    assert(canon(joined) == expected)
    // corpus-class contract: with broadcast disabled the cell join
    // must still plan (shuffle) and produce the identical frame
    val thresholdBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val shuffled = AnnIndex.knnJoinIndex(spark, idx, vecsQ, 4, 3)
      val plan = shuffled.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"broadcast disabled, yet the cell join broadcast:\n$plan")
      assert(canon(shuffled) == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
      thresholdBefore)
  }

  test("rebuild clears a stale delta from the previous lifecycle") {
    val cents = Similarity.kmeansQuantized(vecsQ.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ.filter(col("vec_id") < 450), cents, idx)
    AnnIndex.appendToAnnIndex(vecsQ.filter(col("vec_id") >= 450), idx)
    assert(Files.isDirectory(Paths.get(idx, "delta")))
    // rebuild over the full corpus at the same path (an in-place
    // rebuild, as maintenance runs it): the old delta must not survive
    // to duplicate the previously-appended vectors
    AnnIndex.buildAnnIndex(vecsQ, cents, idx)
    assert(!Files.isDirectory(Paths.get(idx, "delta")))
    val fresh = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ, cents, fresh)
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3)) ==
      canon(AnnIndex.probeAnnIndex(spark, fresh, probes, 4, 3)))
  }

  test("append rejects an increment whose columns diverge from the cells") {
    val cents = Similarity.kmeansQuantized(vecsQ.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ.filter(col("vec_id") < 400), cents, idx)
    val bad = vecsQ.filter(col("vec_id") >= 400).drop("label")
    val e = intercept[IllegalArgumentException] {
      AnnIndex.appendToAnnIndex(bad, idx)
    }
    assert(e.getMessage.contains("do not match"))
  }

  test("the compaction fold is idempotent across a crash window") {
    val cents = Similarity.kmeansQuantized(vecsQ.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ.filter(col("vec_id") < 400), cents, idx)
    AnnIndex.appendToAnnIndex(vecsQ.filter(col("vec_id") >= 400), idx)
    // snapshot the delta bytes, then compact (fold writes into cells/,
    // delta deleted)
    val deltaDir = Paths.get(idx, "delta")
    val snapshot = scala.util.Using.resource(Files.list(deltaDir))(
      _.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => (p.getFileName.toString, Files.readAllBytes(p)))
        .toSeq)
    assert(snapshot.nonEmpty)
    AnnIndex.compactCells(spark, idx, maxFilesPerCell = 1)
    val reference = canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3))
    // simulate the crash window: the fold's rows landed in the base,
    // but the delta files were never deleted — restore them and
    // re-run compaction; the anti-join must skip every already-folded
    // row, so the probe frame is unchanged (no rank-duplicated
    // candidates)
    Files.createDirectories(deltaDir)
    snapshot.foreach { case (name, bytes) =>
      Files.write(deltaDir.resolve(name), bytes)
    }
    AnnIndex.compactCells(spark, idx, maxFilesPerCell = 1)
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3))
      == reference)
  }

  test("re-running a half-failed append is duplicate-safe") {
    val base = vecsQ.filter(col("vec_id") < 400)
    val inc = vecsQ.filter(col("vec_id") >= 400)
    val cents = Similarity.kmeansQuantized(base.select(col("qv")),
      rawCentroids(16), iters = 2)

    // reference lifecycle: exactly one append
    val ref = newIndexDir()
    AnnIndex.buildAnnIndex(base, cents, ref)
    AnnIndex.appendToAnnIndex(inc, ref)
    val refProbe = canon(AnnIndex.probeAnnIndex(spark, ref, probes, 4, 3))
    val refKnn = canon(AnnIndex.knnJoinIndex(spark, ref, vecsQ, 4, 3))

    // failure lifecycle: the append's delta files land but the meta
    // rewrite is lost (simulated by restoring the pre-append meta),
    // and the operator RETRIES the whole append
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(base, cents, idx)
    val metaBefore = Files.readAllBytes(Paths.get(idx, "_INDEX_META"))
    AnnIndex.appendToAnnIndex(inc, idx)
    Files.write(Paths.get(idx, "_INDEX_META"), metaBefore)
    AnnIndex.appendToAnnIndex(inc, idx)
    // delta now holds every appended vec twice; probes and knn joins
    // must collapse the duplicates (delta vec_id dedupe)
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3)) == refProbe)
    assert(canon(AnnIndex.knnJoinIndex(spark, idx, vecsQ, 4, 3)) == refKnn)
    // and compaction's fold dedupes too — the duplicate's bytes stop
    // costing here, same repair point as the signature index's rebuild
    AnnIndex.compactCells(spark, idx, maxFilesPerCell = 1)
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3)) == refProbe)
  }

  test("a wide probed-cell set plans one array literal, still pruned") {
    // 80 cells (above IsinCellsMax), probes = 70 of the centroids
    // themselves with nProbe=1 — each probe's nearest cell is its own
    // centroid, so exactly 70 distinct cells are probed: above the
    // literal-IN threshold, below nCells (the predicate must survive)
    val cents = rawCentroids(80)
    assert(cents.size > AnnIndex.IsinCellsMax)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ, cents, idx)
    import spark.implicits._
    val centProbes = cents.take(70)
      .map { case (cid, qc) => (cid + 100000L, qc.toSeq) }
      .toDF("probe_id", "pqv")
    val df = AnnIndex.probeAnnIndex(spark, idx, centProbes, nProbe = 1, k = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("array_contains"),
      s"wide cell set must plan as one array literal:\n$plan")
    assert(!"cell#\\d+L? IN \\(".r.findFirstIn(plan).isDefined &&
      !plan.contains("cell IN ("),
      s"wide cell set must not plan a literal IN chain:\n$plan")
    // pruning proven on the planned scan (pre-AQE physical plan — the
    // adaptive wrapper hides the scan leaves): ≤ 70 of the 80 cell
    // partitions selected (cells can be empty: ≤, plus a floor that
    // the filter was not dropped entirely)
    val scans = df.queryExecution.sparkPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("cells")) => f
    }
    assert(scans.nonEmpty, s"no cells scan found:\n$plan")
    val total = scala.util.Using.resource(Files.list(Paths.get(idx, "cells")))(
      _.iterator().asScala.count(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("cell=")))
    assert(scans.head.selectedPartitions.partitionCount <= 70 &&
      scans.head.selectedPartitions.partitionCount < total,
      s"scan must prune to the probed cells: " +
        s"${scans.head.selectedPartitions.partitionCount} of $total")
    // and the pruned frame equals the live (un-indexed) search
    val live = Similarity.ivfTopKQ(AnnIndex.assignBulk(vecsQ, cents),
      centProbes, cents, "vec_id", nProbe = 1, k = 3)
    assert(canon(df).nonEmpty && canon(df) == canon(live))
  }

  test("knn join skips cell pruning outright") {
    val cents = Similarity.kmeansQuantized(vecsQ.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ, cents, idx)
    val plan = AnnIndex.knnJoinIndex(spark, idx, vecsQ, 4, 3)
      .queryExecution.executedPlan.toString
    // corpus-class probes cover ~all cells: the STATIC predicate would
    // prune nothing while still being planned, and collecting the
    // distinct probed cells would cost a second corpus assignment
    // pass. (Catalyst's own dynamicpruningexpression from the cell
    // join is allowed — runtime pruning costs no extra pass.)
    assert(!plan.contains("array_contains") &&
      !"cell#\\d+L? IN \\(".r.findFirstIn(plan).isDefined,
      s"knn join must not plan a static cell predicate:\n$plan")
  }

  test("delete tombstones vectors immediately; compaction applies them physically") {
    val cents = Similarity.kmeansQuantized(vecsQ.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ, cents, idx)
    val del = vecsQ.filter(col("vec_id") % 10 === 7).select(col("vec_id"))
    val meta = AnnIndex.deleteFromAnnIndex(del, idx)
    assert(meta.deletedVecs == del.count() && meta.deletedVecs > 0)
    // ground truth: a fresh index built WITHOUT the deleted slice over
    // the same frozen quantizer
    val fresh = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ.filter(col("vec_id") % 10 =!= 7),
      cents, fresh)
    val expectProbe = canon(AnnIndex.probeAnnIndex(spark, fresh, probes, 4, 3))
    val expectKnn = canon(AnnIndex.knnJoinIndex(spark, fresh, vecsQ, 4, 3))
    assert(expectProbe.nonEmpty)
    // visible to the NEXT probe, before any compaction
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3))
      == expectProbe)
    assert(canon(AnnIndex.knnJoinIndex(spark, idx, vecsQ, 4, 3))
      == expectKnn)
    // retrying the delete is duplicate-safe AND counter-exact: the
    // retry must not re-decrement the live count or re-grow drift
    val meta2 = AnnIndex.deleteFromAnnIndex(del, idx)
    assert(meta2.deletedVecs == meta.deletedVecs &&
      meta2.nVecs == meta.nVecs)
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3))
      == expectProbe)
    // re-appending a tombstoned id is a LOUD error (the search
    // anti-join and the compaction fold would both destroy it
    // silently otherwise)
    val e = intercept[IllegalArgumentException] {
      AnnIndex.appendToAnnIndex(
        vecsQ.filter(col("vec_id") === 7), idx)
    }
    assert(e.getMessage.contains("tombstoned"))
    // compaction rewrites the affected cells and drops the tombstones
    // from the SNAPSHOT (files retained for in-flight readers)
    val rewritten = AnnIndex.compactCells(spark, idx)
    assert(rewritten > 0)
    assert(graft.operators.IndexLifecycle
      .manifestFilesUnder(Paths.get(idx), "tombstones").get.isEmpty)
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3))
      == expectProbe)
    // physical reclamation at the next maintenance entry
    AnnIndex.compactCells(spark, idx)
    assert(!Files.isDirectory(Paths.get(idx, "tombstones")))
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3))
      == expectProbe)
  }

  test("tombstone application over many affected cells equals a fresh build") {
    // 80 cells, every 3rd vector deleted: nearly every cell is affected
    val cents = rawCentroids(80)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ, cents, idx)
    val del = vecsQ.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    AnnIndex.deleteFromAnnIndex(del, idx)
    val fresh = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ.filter(col("vec_id") % 3 =!= 0),
      cents, fresh)
    val expect = canon(AnnIndex.probeAnnIndex(spark, fresh, probes, 4, 3))
    AnnIndex.compactCells(spark, idx)
    assert(graft.operators.IndexLifecycle
      .manifestFilesUnder(Paths.get(idx), "tombstones").get.isEmpty)
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3))
      == expect)
    // reclaimed physically at the next maintenance entry
    AnnIndex.compactCells(spark, idx)
    assert(!Files.isDirectory(Paths.get(idx, "tombstones")))
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3))
      == expect)
  }

  test("rebuild clears stale tombstones from the previous lifecycle") {
    val cents = Similarity.kmeansQuantized(vecsQ.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ, cents, idx)
    AnnIndex.deleteFromAnnIndex(
      vecsQ.filter(col("vec_id") % 10 === 7).select(col("vec_id")), idx)
    assert(Files.isDirectory(Paths.get(idx, "tombstones")))
    // rebuild over the full corpus: old tombstones must not erase
    // rebuilt vectors that share a previously-deleted vec_id
    AnnIndex.buildAnnIndex(vecsQ, cents, idx)
    assert(!Files.isDirectory(Paths.get(idx, "tombstones")))
    val fresh = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ, cents, fresh)
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3)) ==
      canon(AnnIndex.probeAnnIndex(spark, fresh, probes, 4, 3)))
  }

  test("rebuild policy flags drift past a quarter of the base corpus") {
    assert(!AnnIndex.needsRebuild(AnnIndex.Meta(16, 64, 125, 25)))
    assert(AnnIndex.needsRebuild(AnnIndex.Meta(16, 64, 131, 31)))
    // deletes drift too: base 100, 25 deleted (live 75) is at the
    // threshold; 26 deleted crosses it
    assert(!AnnIndex.needsRebuild(AnnIndex.Meta(16, 64, 75, 0, 25)))
    assert(AnnIndex.needsRebuild(AnnIndex.Meta(16, 64, 74, 0, 26)))
  }

  test("deleting never-indexed ids is a TRUE no-op (counters and side table)") {
    import spark.implicits._
    val cents = Similarity.kmeansQuantized(vecsQ.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    val before = AnnIndex.buildAnnIndex(vecsQ, cents, idx)
    def tombstoneFiles =
      IndexLifecycle.manifestFilesUnder(Paths.get(idx), "tombstones").get
    // all-foreign increment: nothing written, nothing counted
    // (it used to decrement nVecs and skew the drift policy)
    val foreign = (0L until 10L).map(_ + (1L << 41)).toDF("vec_id")
    val m1 = AnnIndex.deleteFromAnnIndex(foreign, idx)
    assert(m1.nVecs == before.nVecs && m1.deletedVecs == 0)
    assert(!Files.isDirectory(Paths.get(idx, "tombstones")))
    assert(tombstoneFiles.isEmpty)
    // mixed increment: exactly the present ids count, in one file
    val mixed = foreign.unionByName(Seq(3L, 4L).toDF("vec_id"))
    val m2 = AnnIndex.deleteFromAnnIndex(mixed, idx)
    assert(m2.nVecs == before.nVecs - 2 && m2.deletedVecs == 2)
    assert(tombstoneFiles.size == 1)
    // a retried delete is counted once
    val m3 = AnnIndex.deleteFromAnnIndex(mixed, idx)
    assert(m3.nVecs == m2.nVecs && m3.deletedVecs == 2)
    assert(tombstoneFiles.size == 1)
  }

  test("tombstone anti-join leaves broadcast above the byte budget, results intact") {
    val cents = Similarity.kmeansQuantized(vecsQ.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ, cents, idx)
    val expect = canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3))
    // a tombstone set written straight into the side table, replacing
    // the previous one: dropped from the snapshot, then committed the
    // way deleteFromAnnIndex commits its own files
    val root = Paths.get(idx)
    def plant(ids: org.apache.spark.sql.DataFrame): Seq[java.nio.file.Path] = {
      IndexLifecycle.commitSwap(root, Nil, Nil, dropSubs = Seq("tombstones"))
      IndexLifecycle.commitAddedWrite(root, "tombstones")(
        ids.write.mode("overwrite").parquet(s"$idx/tombstones"))
    }
    // synthetic LARGE cumulative tombstone set (the drift bound is
    // advisory — the code must survive one that outgrew broadcast):
    // ~3M hashed ids, incompressible; all foreign to the corpus id
    // space, so results must be IDENTICAL while the join strategy flips
    val bytes = IndexLifecycle.idSideBytes(spark, plant(
      spark.range(0, 3000000, 1, 8).select(xxhash64(col("id")).as("vec_id"))))
    val budget = spark.sessionState.conf.autoBroadcastJoinThreshold
    assert(bytes > budget,
      s"fixture must exceed the broadcast budget: $bytes <= $budget")
    val df = AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3)
    assert(canon(df) == expect, "foreign tombstones changed results")
    // shared AQE-aware node-typed detector (IndexLifecycle owns the
    // QueryStageExec unwrap subtlety)
    val (bigBroadcast, bigShuffled) =
      IndexPlans.antiJoinKinds(df)
    assert(!bigBroadcast,
      "an over-budget tombstone set must not ship as a broadcast")
    assert(bigShuffled,
      "expected a SHUFFLE_HASH anti-join for the over-budget set")
    // COMPRESSIBLE set: 2M strided ids RLE down to under the budget on
    // disk, but their hash relation cannot be smaller than rows × 8 B —
    // the size signal must not let parquet compression leak into the
    // broadcast decision (caught live at the 8M drift rung: a 2M-id
    // tombstone table read 9.7 MiB and slid under the 10 MiB bar)
    val compFiles = plant(spark.range(1L << 41, (1L << 41) + 16000000, 8, 8)
      .select(col("id").as("vec_id")))
    assert(IndexLifecycle.parquetBytes(Paths.get(idx, "tombstones")) <= budget,
      "fixture must compress under the budget on disk")
    assert(IndexLifecycle.idSideBytes(spark, compFiles) > budget)
    val comp = AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3)
    assert(canon(comp) == expect)
    val (compBroadcast, compShuffled) =
      IndexPlans.antiJoinKinds(comp)
    assert(!compBroadcast && compShuffled,
      "a compressible over-budget set must still plan SHUFFLE_HASH")
    // below the budget the oracle-SF plan is untouched: broadcast anti
    plant(spark.range(0, 10, 1, 1)
      .select((col("id") + (1L << 41)).as("vec_id")))
    val small = AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3)
    assert(canon(small) == expect)
    val (smallBroadcast, _) =
      IndexPlans.antiJoinKinds(small)
    assert(smallBroadcast,
      "an under-budget tombstone set must stay a broadcast anti-join")
  }

  test("maintainAnnIndex: drift fires a rebuild that reclaims everything; probes equal a fresh build") {
    // base 80% of ids, append 20%, delete ~14% — appended+deleted
    // drift crosses RebuildFraction of the base corpus
    val base = vecsQ.filter(col("vec_id") % 5 =!= 4)
    val incr = vecsQ.filter(col("vec_id") % 5 === 4)
    val centsA = Similarity.kmeansQuantized(base.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(base, centsA, idx)
    AnnIndex.appendToAnnIndex(incr, idx)
    val del = vecsQ.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
    AnnIndex.deleteFromAnnIndex(del, idx)
    assert(AnnIndex.needsRebuild(AnnIndex.readMeta(idx)),
      "fixture must cross the drift threshold")
    val report = AnnIndex.maintainAnnIndex(spark, idx)
    assert(report.rebuilt)
    // physically reclaimed: no side tables left, meta drift reset
    assert(!Files.isDirectory(Paths.get(idx, "tombstones")))
    assert(!Files.isDirectory(Paths.get(idx, "delta")))
    val meta = AnnIndex.readMeta(idx)
    assert(meta.appendedVecs == 0 && meta.deletedVecs == 0)
    // probe-equal to a fresh build over the survivors with the same
    // deterministic warm-start retrain maintainAnnIndex runs
    val survivors = vecsQ.filter(col("vec_id") % 7 =!= 0)
    assert(meta.nVecs == survivors.count())
    val centsR = AnnIndex.kmeansBulk(survivors.select(col("qv")),
      centsA, iters = 2)
    val fresh = newIndexDir()
    AnnIndex.buildAnnIndex(survivors, centsR, fresh)
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3)) ==
      canon(AnnIndex.probeAnnIndex(spark, fresh, probes, 4, 3)))
  }

  test("a crashed rebuild resumes from its staging, never from the damaged base") {
    // the round-12 self-review finding: buildAnnIndex deletes
    // tombstones/delta and overwrites cells/ BEFORE new bytes land; a
    // naive re-entry rebuilding from the base would lose vectors or
    // resurrect tombstoned ids. The maintainer stages live rows + the
    // retrained quantizer first and resumes from THAT.
    val base = vecsQ.filter(col("vec_id") % 5 =!= 4)
    val incr = vecsQ.filter(col("vec_id") % 5 === 4)
    val centsA = Similarity.kmeansQuantized(base.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(base, centsA, idx)
    AnnIndex.appendToAnnIndex(incr, idx)
    val del = vecsQ.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
    AnnIndex.deleteFromAnnIndex(del, idx)
    assert(AnnIndex.needsRebuild(AnnIndex.readMeta(idx)))
    AnnIndex.stageRebuildLive(spark, idx, trainIters = 2)
    // simulate the worst crash window: the build tore down both side
    // tables and half the cell partitions before dying
    for (side <- Seq("tombstones", "delta"))
      org.apache.commons.io.FileUtils.deleteDirectory(
        Paths.get(idx, side).toFile)
    val cellDirs = scala.util.Using.resource(
      Files.list(Paths.get(idx, "cells")))(
      _.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("cell=")).toSeq)
    cellDirs.take(cellDirs.size / 2).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
    // re-entry: meta still demands the rebuild, staging marker present
    val report = AnnIndex.maintainAnnIndex(spark, idx)
    assert(report.rebuilt)
    assert(!Files.isDirectory(Paths.get(idx, ".rebuild_live")))
    val survivors = vecsQ.filter(col("vec_id") % 7 =!= 0)
    val fresh = newIndexDir()
    AnnIndex.buildAnnIndex(survivors,
      AnnIndex.kmeansBulk(survivors.select(col("qv")), centsA, iters = 2),
      fresh)
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3)) ==
      canon(AnnIndex.probeAnnIndex(spark, fresh, probes, 4, 3)))
    assert(AnnIndex.readMeta(idx).nVecs == survivors.count())
  }

  test("a stale staging epoch is restaged, not resumed") {
    // committed-then-crashed staging reclaim is covered above; this is
    // the other stale case: mutations land AFTER a staging was cut and
    // drift re-flags — resuming the old staging would silently drop
    // them (round-12 second-pass finding)
    val base = vecsQ.filter(col("vec_id") % 5 =!= 4)
    val centsA = Similarity.kmeansQuantized(base.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(base, centsA, idx)
    AnnIndex.appendToAnnIndex(vecsQ.filter(col("vec_id") % 5 === 4), idx)
    AnnIndex.deleteFromAnnIndex(
      vecsQ.filter(col("vec_id") % 7 === 0).select(col("vec_id")), idx)
    assert(AnnIndex.needsRebuild(AnnIndex.readMeta(idx)))
    AnnIndex.stageRebuildLive(spark, idx, trainIters = 2)
    // mutations AFTER the staging was cut
    val extraDel = vecsQ
      .filter(col("vec_id") % 11 === 1 && col("vec_id") % 7 =!= 0)
      .select(col("vec_id"))
    val nExtra = extraDel.count()
    assert(nExtra > 0)
    AnnIndex.deleteFromAnnIndex(extraDel, idx)
    val report = AnnIndex.maintainAnnIndex(spark, idx)
    assert(report.rebuilt)
    // a stale resume would resurrect the extra deletions
    val survivors = vecsQ.filter(col("vec_id") % 7 =!= 0 &&
      !(col("vec_id") % 11 === 1))
    assert(AnnIndex.readMeta(idx).nVecs == survivors.count())
    assert(!Files.isDirectory(Paths.get(idx, "tombstones")))
  }

  test("gateAndAppendAnnBatch: replay with co-admitted intra-batch duplicates converges") {
    import spark.implicits._
    val cents = Similarity.kmeansQuantized(vecsQ.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ, cents, idx)
    // a real corpus vector's qv: its self-dot is the score a replayed
    // twin would reject at
    val q = vecsQ.orderBy(col("vec_id").desc).select(col("qv"))
      .head().getSeq[Long](0)
    val selfDot = q.map(x => x * x).sum
    val batch = Seq((9001L, 1, q), (9002L, 1, q))
      .toDF("vec_id", "label", "qv")
    // threshold ABOVE self-dot: nothing in the index rejects them, so
    // both co-admit on first delivery
    val thr = selfDot + 1
    val f1 = AnnIndex.gateAndAppendAnnBatch(batch, idx, thr, batchId = 7)
    // the decision comes back as a driver-local relation, never a checkpoint
    assert(f1.queryExecution.logical.find(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]).isEmpty)
    val a1 = f1.select(col("probe_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(a1 == Seq(9001L, 9002L), s"first delivery admitted $a1")
    // crash-redelivery of the SAME batchId: without the batch-scoped
    // exclusion each twin's top-1 is now the OTHER (score = self-dot
    // < thr... so use a SECOND check below with a tighter threshold);
    // here both must re-admit identically
    val a2 = AnnIndex.gateAndAppendAnnBatch(batch, idx, thr, batchId = 7)
      .select(col("probe_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(a2 == a1, s"replay diverged: $a2 vs $a1")
    // the sharp version: a threshold BELOW self-dot, fresh ids — both
    // admit (no neighbor scores >= thr in the index), then replay:
    // without the exclusion each would be rejected by its co-admitted
    // twin at exactly self-dot >= thr
    val far = q.map(_ + 1000L)
    val farDot = far.map(x => x * x).sum
    val batch2 = Seq((9101L, 1, far), (9102L, 1, far))
      .toDF("vec_id", "label", "qv")
    val b1 = AnnIndex.gateAndAppendAnnBatch(batch2, idx, farDot, batchId = 8)
      .select(col("probe_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(b1 == Seq(9101L, 9102L), s"batch2 first delivery admitted $b1")
    val b2 = AnnIndex.gateAndAppendAnnBatch(batch2, idx, farDot, batchId = 8)
      .select(col("probe_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(b2 == b1, s"batch2 replay diverged: $b2 vs $b1")
    // and a LATER batch carrying a copy of an admission is rejected
    val batch3 = Seq((9201L, 1, far)).toDF("vec_id", "label", "qv")
    val c1 = AnnIndex.gateAndAppendAnnBatch(batch3, idx, farDot, batchId = 9)
      .count()
    assert(c1 == 0, "a later copy of an admission must be rejected")
  }

  /** An index over the first 90% of the embeddings (16 trained cells)
    * and the rest as a gate batch (vec_id, label, qv) — the fixture of
    * the ANN gate pins. The centroid memo is warmed: reading the
    * quantizer is a one-time cost, not a gate cost. */
  private def annGateFixture(): (String, org.apache.spark.sql.DataFrame) = {
    val t = vecsQ.count() * 9 / 10
    val base = vecsQ.filter(col("vec_id") < t)
    val cents = Similarity.kmeansQuantized(base.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(base, cents, idx)
    AnnIndex.readCentroids(spark, idx)
    (idx, vecsQ.filter(col("vec_id") >= t))
  }

  private val GateThreshold = queries.DataPipelineQueries.EmbedDupThreshold

  test("ANN gate job-count pin: at most the signature gate's ceilings") {
    // the signature gate's ceilings (SignatureIndexSpec): 4 jobs for a
    // stateless trigger, 6 with the appends. Measured here: the batch
    // collect, the probe-cell broadcast and the cell scan (3); the
    // appends add the sidecar and delta writes, and a replayed trigger
    // the sidecar read
    val (idx, batch) = annGateFixture()
    spark.catalog.clearCache()
    val (admitted, gateJobs) = jobsDuring(
      AnnIndex.gateBatchThroughAnnIndex(batch, idx, GateThreshold, nProbe = 4))
    assert(gateJobs <= 4, s"gateBatchThroughAnnIndex ran $gateJobs jobs (ceiling 4)")
    // a driver-local relation: no lineage an executor loss could
    // recompute, and nothing registered with the CacheManager
    assert(admitted.queryExecution.logical.find(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]).isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
    // the decision is the top-1 search's: admitted exactly when the
    // best neighbor scores below the threshold
    val top1 = AnnIndex.probeAnnIndex(spark, idx,
      batch.select(col("vec_id").as("probe_id"), col("qv").as("pqv")),
      nProbe = 4, k = 1)
    val expected = batch.select(col("vec_id").as("probe_id"))
      .join(top1.select(col("probe_id"), col("candidate_id").as("nn_id"),
        col("score")), Seq("probe_id"), "left")
      .filter(col("score").isNull || col("score") < GateThreshold)
    assert(canon(admitted) == canon(expected))
    assert(canon(admitted).nonEmpty && canon(admitted).size < batch.count())
    // first delivery, its replay, and a next batch of copies under
    // fresh ids: the first two decide as the stateless gate, the copies
    // meet their originals' admissions
    val copies = batch.withColumn("vec_id", col("vec_id") + 1000000L)
    for ((b, bid) <- Seq((batch, 0L), (batch, 0L), (copies, 1L))) {
      val (appended, appendJobs) = jobsDuring(AnnIndex.gateAndAppendAnnBatch(
        b, idx, GateThreshold, batchId = bid, nProbe = 4))
      assert(appendJobs <= 6,
        s"gateAndAppendAnnBatch($bid) ran $appendJobs jobs (ceiling 6)")
      if (bid == 0L) assert(canon(appended) == canon(admitted))
      else assert(appended.count() == 0)
    }
  }

  test("ANN gate codegen pin: a second identical gate call compiles no class") {
    val (idx, batch) = annGateFixture()
    def gate() = AnnIndex
      .gateBatchThroughAnnIndex(batch, idx, GateThreshold, nProbe = 4).collect()
    def compiles() = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    val first = gate()
    val before = compiles()
    val second = gate()
    assert(compiles() - before == 0,
      s"the second gate call compiled ${compiles() - before} classes")
    assert(first.map(_.mkString("|")).sorted.sameElements(
      second.map(_.mkString("|")).sorted))
  }

  test("an ANN gate batch over the increment bound fails loudly, naming the caps") {
    val (idx, _) = annGateFixture()
    val big = spark.range(0, IndexLifecycle.MaxGateBatchRows + 1L)
      .select(col("id").as("vec_id"), lit(1).as("label"),
        array(lit(0L)).as("qv"))
    val e = intercept[IllegalArgumentException](
      AnnIndex.gateBatchThroughAnnIndex(big, idx, GateThreshold, nProbe = 4))
    assert(e.getMessage.contains(
      s"more than ${IndexLifecycle.MaxGateBatchRows} rows"), e.getMessage)
    assert(e.getMessage.contains("maxFilesPerTrigger/maxBytesPerTrigger"),
      e.getMessage)
  }

  /** Seed PQ books (M=8, sub=8) from the first n vectors' subvectors
    * RE-KEYED to dense 0..n-1 code ids (the ADC LUT is positional —
    * the contract buildAnnIndex enforces), trained one Lloyd round —
    * the trainedPqBooks arithmetic on an arbitrary seed width. */
  private def pqBooksOf(src: org.apache.spark.sql.DataFrame,
                        n: Int): Seq[Seq[(Long, Array[Long])]] = {
    val seedRows = src.orderBy(col("vec_id")).limit(n)
      .select(col("qv")).collect()
      .map(_.getSeq[Long](0).toArray).zipWithIndex
      .map { case (qc, i) => (i.toLong, qc) }
    val seeds = (0 until 8).map { m =>
      seedRows.toSeq.map { case (cid, qc) => (cid, qc.slice(m * 8, m * 8 + 8)) }
    }
    Similarity.pqTrain(src.select(col("qv")), seeds, 8, iters = 1)
  }

  test("bulk PQ encode kernel is bit-identical to the inline one") {
    // 32 codewords × 8 subspaces = 256 > InlinePqCodewordsMax, so a
    // PQ build at this width dispatches the bulk kernel — compared
    // against the inline expression invoked directly
    val books = pqBooksOf(vecsQ, 32)
    assert(books.map(_.size).sum > AnnIndex.InlinePqCodewordsMax)
    val inline = vecsQ.withColumn("codes",
      Similarity.pqEncode(col("qv"), books, 8).cast("array<int>"))
      .select(col("vec_id"), col("codes"))
    val bulk = AnnIndex.encodePqBulk(vecsQ, books, 8)
      .select(col("vec_id"), col("codes"))
    assert(canon(bulk) == canon(inline))
  }

  test("PQ layout: append, delete and rebuild work unchanged on coded cells") {
    val base = vecsQ.filter(col("vec_id") % 5 =!= 4)
    val incr = vecsQ.filter(col("vec_id") % 5 === 4)
    val cents = Similarity.kmeansQuantized(base.select(col("qv")),
      rawCentroids(16), iters = 2)
    val books = pqBooksOf(base, 16)
    def freshPq(src: org.apache.spark.sql.DataFrame,
                cs: Seq[(Long, Array[Long])],
                bs: Seq[Seq[(Long, Array[Long])]]): String = {
      val p = newIndexDir()
      AnnIndex.buildAnnIndex(src, cs, p, pqBooks = Some(bs))
      p
    }
    val idx = freshPq(base, cents, books)
    assert(AnnIndex.readMeta(idx).pqM == 8)
    // APPEND on the coded layout: increment arrives WITHOUT codes,
    // gets encoded against the frozen books — probe-equal to a fresh
    // PQ build over the same frozen artifacts
    AnnIndex.appendToAnnIndex(incr, idx)
    val freshAll = freshPq(vecsQ, cents, books)
    val pAll = canon(AnnIndex.probeAnnIndexPq(spark, idx, probes, 4, 3))
    assert(pAll.nonEmpty && pAll ==
      canon(AnnIndex.probeAnnIndexPq(spark, freshAll, probes, 4, 3)))
    // the full-vector exact probe rides the SAME coded index unchanged
    // (qv is still a stored column)
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3)) ==
      canon(AnnIndex.probeAnnIndex(spark, freshAll, probes, 4, 3)))
    // DELETE: tombstoned ids invisible to the compressed probe
    // immediately
    val del = vecsQ.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
    AnnIndex.deleteFromAnnIndex(del, idx)
    val survivors = vecsQ.filter(col("vec_id") % 7 =!= 0)
    val freshSurv = freshPq(survivors, cents, books)
    assert(canon(AnnIndex.probeAnnIndexPq(spark, idx, probes, 4, 3)) ==
      canon(AnnIndex.probeAnnIndexPq(spark, freshSurv, probes, 4, 3)))
    // MAINTAIN: drift crossed (20% append + ~14% delete) → rebuild
    // retrains quantizer AND books (warm-started, deterministic) and
    // re-encodes — probe-equal to a fresh build with the same retrain
    assert(AnnIndex.needsRebuild(AnnIndex.readMeta(idx)))
    val report = AnnIndex.maintainAnnIndex(spark, idx)
    assert(report.rebuilt)
    val metaR = AnnIndex.readMeta(idx)
    assert(metaR.pqM == 8 && metaR.pqSubDim == 8 &&
      metaR.nVecs == survivors.count())
    val centsR = AnnIndex.kmeansBulk(survivors.select(col("qv")),
      cents, iters = 2)
    val booksR = Similarity.pqTrain(survivors.select(col("qv")),
      books, 8, iters = 2)
    val freshR = freshPq(survivors, centsR, booksR)
    assert(canon(AnnIndex.probeAnnIndexPq(spark, idx, probes, 4, 3)) ==
      canon(AnnIndex.probeAnnIndexPq(spark, freshR, probes, 4, 3)))
  }

  test("the compressed probe scan reads only the code pages") {
    val cents = Similarity.kmeansQuantized(vecsQ.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ, cents, idx,
      pqBooks = Some(pqBooksOf(vecsQ, 16)))
    // audit the ADC stage's LAZY plan (probeAnnIndexPq collects it —
    // the hidden-plan lesson of gateBatchPlan): its cells scan must
    // NOT read qv (column pruning IS the compression win) and must
    // keep partition pruning
    val meta = AnnIndex.readMeta(idx)
    // same probe-cells frame the probe computes (nProbe=4)
    val distArr = array(cents.sortBy(_._1).map { case (cid, qc) =>
      struct(Similarity.l2sqLong(col("pqv"),
        array(qc.map(lit): _*)).as("d"), lit(cid).as("cid"))
    }: _*)
    val pcRows = probes.withColumn("_cells", slice(array_sort(distArr), 1, 4))
      .select(col("probe_id"), col("pqv"), explode(col("_cells")).as("_c"))
      .select(col("probe_id"), col("pqv"), col("_c.cid").as("cell"))
      .collect()
    val (_, shortFrame) = AnnIndex.pqAdcShortlist(spark, idx, pcRows,
      lit(true), 20, meta)
    val scans = shortFrame.queryExecution.sparkPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("cells")) =>
        f.requiredSchema.fieldNames.toSet
    }
    assert(scans.nonEmpty && scans.forall(s =>
        s.contains("codes") && !s.contains("qv")),
      s"ADC scan must project codes without qv: $scans")
    val plan = shortFrame.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"compressed probe must keep partition pruning:\n$plan")
    // and the end-to-end compressed probe returns k rows per probe
    assert(AnnIndex.probeAnnIndexPq(spark, idx, probes, 4, 3).count() == 30)
  }

  test("manifest-pinned probes see a consistent snapshot across a compaction swap") {
    import graft.operators.IndexLifecycle
    val cents = Similarity.kmeansQuantized(vecsQ.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ.filter(col("vec_id") < 400), cents, idx)
    AnnIndex.appendToAnnIndex(vecsQ.filter(col("vec_id") >= 400), idx)
    AnnIndex.deleteFromAnnIndex(
      vecsQ.filter(col("vec_id") % 10 === 7).select(col("vec_id")), idx)
    val expected = canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3))
    // resolve a probe under snapshot N: the frame pins its file lists
    // at construction (the manifest read + explicit-file scans)
    val pinned = AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3)
    // force the full swap BETWEEN resolution and scan: delta fold +
    // tombstone application + an every-cell merge — snapshot N+1
    // committed, every base file superseded
    AnnIndex.compactCells(spark, idx, maxFilesPerCell = 0)
    // the in-flight reader sees exactly snapshot N's rows — never a
    // merged+original duplicate, never a missing file (the old
    // listing-mid-swap failure modes the quiesce contract papered
    // over)
    assert(canon(pinned) == expected,
      "snapshot-N reader must return exactly the pre-state rows")
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3))
      == expected, "snapshot-N+1 reader must see the post-state")
    // superseded files are RETAINED on disk for exactly one
    // maintenance interval, invisible to the snapshot
    val root = Paths.get(idx)
    def onDisk(): Set[String] =
      Seq("cells", "delta", "tombstones")
        .flatMap(IndexLifecycle.listRelParquet(root, _)).toSet
    val live = IndexLifecycle.readManifest(root).get.toSet
    assert((onDisk() -- live).nonEmpty,
      "compaction must retain superseded files for in-flight readers")
    // the next maintenance entry reclaims them; probes unchanged
    AnnIndex.compactCells(spark, idx)
    assert(onDisk() == IndexLifecycle.readManifest(root).get.toSet,
      "after reclamation disk must equal the snapshot")
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3))
      == expected)
  }

  test("append/delete after a compaction never resurrect retained side files") {
    // the round-13 review findings: a full side-table RELIST at
    // append/delete commit time would re-manifest the files a
    // previous compaction folded/applied and RETAINED for its
    // snapshot readers — duplicate probe candidates from stale delta,
    // silently re-hidden ids from stale tombstones
    val cents = Similarity.kmeansQuantized(vecsQ.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ.filter(col("vec_id") < 350), cents, idx)
    AnnIndex.appendToAnnIndex(
      vecsQ.filter(col("vec_id") >= 350 && col("vec_id") < 400), idx)
    AnnIndex.compactCells(spark, idx) // folds the delta, RETAINS its file
    AnnIndex.appendToAnnIndex(
      vecsQ.filter(col("vec_id") >= 400 && col("vec_id") < 450), idx)
    // stale-delta resurrection would duplicate every 350..400 row
    val fresh1 = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ.filter(col("vec_id") < 450), cents, fresh1)
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3)) ==
      canon(AnnIndex.probeAnnIndex(spark, fresh1, probes, 4, 3)))
    // tombstone half: delete x, compact (applies + retains the
    // tombstone file), re-append x (legal: its tombstone is gone from
    // the snapshot), then delete y — x must STAY visible
    val x = vecsQ.filter(col("vec_id") === 5)
    AnnIndex.deleteFromAnnIndex(x.select(col("vec_id")), idx)
    AnnIndex.compactCells(spark, idx)
    AnnIndex.appendToAnnIndex(x, idx)
    AnnIndex.deleteFromAnnIndex(
      vecsQ.filter(col("vec_id") === 6).select(col("vec_id")), idx)
    val fresh2 = newIndexDir()
    AnnIndex.buildAnnIndex(
      vecsQ.filter(col("vec_id") < 450 && col("vec_id") =!= 6),
      cents, fresh2)
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3)) ==
      canon(AnnIndex.probeAnnIndex(spark, fresh2, probes, 4, 3)))
  }

  test("a fully-deleted index fails loudly on probes but is revivable by appends") {
    // the second review pass: the first cut THREW from the shared
    // cells scan, making the state unrecoverable (rebuild and append
    // both read through it). Now only a base-less AND delta-less
    // SEARCH fails; deletes are no-ops and appends revive the index.
    // Deleting every row of all 80 cells empties the manifest outright.
    val cents = rawCentroids(80)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ, cents, idx)
    AnnIndex.deleteFromAnnIndex(vecsQ.select(col("vec_id")), idx)
    AnnIndex.compactCells(spark, idx)
    assert(graft.operators.IndexLifecycle
      .manifestFilesUnder(Paths.get(idx), "cells").get.isEmpty)
    val e = intercept[IllegalStateException](
      AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3).collect())
    assert(e.getMessage.contains("no live rows"))
    // deleting against the empty index is a TRUE no-op
    val m0 = AnnIndex.readMeta(idx)
    assert(AnnIndex.deleteFromAnnIndex(
      vecsQ.limit(5).select(col("vec_id")), idx) == m0)
    // a fresh-id append REVIVES it: probes serve from delta alone
    val revived = vecsQ.filter(col("vec_id") < 200)
      .withColumn("vec_id", col("vec_id") + 100000L)
    AnnIndex.appendToAnnIndex(revived, idx)
    val fresh = newIndexDir()
    AnnIndex.buildAnnIndex(revived, cents, fresh)
    val expect = canon(AnnIndex.probeAnnIndex(spark, fresh, probes, 4, 3))
    assert(expect.nonEmpty)
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3)) == expect)
    // compaction folds the reviving delta back into base cells
    AnnIndex.compactCells(spark, idx)
    assert(graft.operators.IndexLifecycle
      .manifestFilesUnder(Paths.get(idx), "cells").get.nonEmpty)
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3)) == expect)
  }

  test("maintainAnnIndex is a no-op on a healthy index, compacts past the cadence") {
    val cents = Similarity.kmeansQuantized(vecsQ.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ.filter(col("vec_id") % 5 =!= 4), cents, idx)
    assert(AnnIndex.maintainAnnIndex(spark, idx) ==
      graft.operators.IndexLifecycle.Maintenance(rebuilt = false, 0))
    // fragment the delta past the cadence (8 part files per append ×
    // 5 appends) — drift stays under the rebuild bar, so maintenance
    // must choose compaction
    val incr = vecsQ.filter(col("vec_id") % 5 === 4).limit(8)
      .repartition(8).cache()
    incr.count()
    for (_ <- 0 until 5)
      AnnIndex.appendToAnnIndex(incr, idx)
    assert(AnnIndex.needsCompaction(idx))
    val report = AnnIndex.maintainAnnIndex(spark, idx)
    assert(!report.rebuilt)
    // the fold ran: delta out of the snapshot, cadence reset
    // (`compacted` counts REWRITTEN cells — a pure fold can
    // legitimately report 0; the retained files reclaim at the next
    // maintenance entry)
    assert(graft.operators.IndexLifecycle
      .manifestFilesUnder(Paths.get(idx), "delta").get.isEmpty)
    assert(!AnnIndex.needsCompaction(idx))
    incr.unpersist()
  }

  test("tombstone application runs the same jobs for one affected cell as for many") {
    val cents = rawCentroids(80)
    def compactAfterDelete(del: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val idx = newIndexDir()
      AnnIndex.buildAnnIndex(vecsQ, cents, idx)
      AnnIndex.deleteFromAnnIndex(del, idx)
      jobsDuring(AnnIndex.compactCells(spark, idx))
    }
    val oneCell = AnnIndex.assignBulk(vecsQ, cents)
      .filter(col("cell") === 3).select(col("vec_id"))
    val (one, oneJobs) = compactAfterDelete(oneCell)
    val (many, manyJobs) = compactAfterDelete(
      vecsQ.filter(col("vec_id") % 3 === 0).select(col("vec_id")))
    assert(one == 1 && many >= 16, s"rewrote $one and $many cells")
    // one staged write for every affected cell, not one job per cell
    assert(oneJobs == manyJobs,
      s"1 cell ran $oneJobs jobs, $many cells ran $manyJobs")
  }

  test("an ANN read resolves its snapshot tables with no Spark job") {
    val cents = Similarity.kmeansQuantized(vecsQ.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    AnnIndex.buildAnnIndex(vecsQ.filter(col("vec_id") < 400), cents, idx)
    AnnIndex.appendToAnnIndex(vecsQ.filter(col("vec_id") >= 400), idx)
    // the first call warms the centroid memo
    AnnIndex.knnJoinIndex(spark, idx, vecsQ, nProbe = 4, k = 3)
    // cells and delta take their schema from a footer, driver-side
    val (_, jobs) = jobsDuring(
      AnnIndex.knnJoinIndex(spark, idx, vecsQ, nProbe = 4, k = 3))
    assert(jobs == 0, s"building the k-NN join frame ran $jobs jobs")
  }

  test("a crash between a compaction's merge and its swap leaves snapshot N; re-entry reclaims the orphans") {
    val cents = Similarity.kmeansQuantized(vecsQ.select(col("qv")),
      rawCentroids(16), iters = 2)
    val idx = newIndexDir()
    val root = Paths.get(idx)
    AnnIndex.buildAnnIndex(vecsQ.filter(col("vec_id") < 400), cents, idx)
    AnnIndex.appendToAnnIndex(vecsQ.filter(col("vec_id") >= 400), idx)
    AnnIndex.deleteFromAnnIndex(
      vecsQ.filter(col("vec_id") % 10 === 7).select(col("vec_id")), idx)
    val expected = canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3))
    val cellFiles = IndexLifecycle.manifestFilesUnder(root, "cells").get
    val merge = IndexLifecycle.Rewrite("cells", cellFiles,
      spark.read.option("basePath", s"$idx/cells")
        .parquet(cellFiles.map(_.toString): _*), partitionBy = Some("cell"))
    // a crash mid-write: the second rewrite's job fails after the
    // first was staged; nothing moved, nothing committed
    intercept[org.apache.spark.SparkException](
      IndexLifecycle.compact(root, Nil, Seq(merge, IndexLifecycle.Rewrite(
        "tombstones", Nil, IndexPlans.failingRows("vec_id")))))
    assert(IndexPlans.dotDirs(root).nonEmpty,
      "the crashed write must leave its staging dir")
    assert(IndexLifecycle.manifestFilesUnder(root, "cells").get == cellFiles)
    // the writes finished and their files moved into cells/, the swap
    // never committed
    val orphans = IndexLifecycle.stageRewrites(root, Seq(merge))
    assert(orphans.nonEmpty && orphans.forall(Files.isRegularFile(_)))
    // sensitivity: a directory read would now see every base row twice
    assert(spark.read.parquet(s"$idx/cells").count() == 2L * 400)
    // readers see snapshot N: same results
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3)) == expected,
      "a reader saw the uncommitted merge")
    // re-entry reclaims the orphans and the staging before it rewrites
    assert(AnnIndex.compactCells(spark, idx, maxFilesPerCell = 0) > 0)
    assert(orphans.forall(f => !Files.exists(f)), "orphans survived re-entry")
    assert(IndexPlans.dotDirs(root).isEmpty, "a staging dir survived re-entry")
    val live = spark.read.parquet(IndexLifecycle.manifestFilesUnder(root, "cells")
      .get.map(_.toString): _*).select(col("vec_id")).collect().map(_.getLong(0))
    assert(live.length == live.distinct.length &&
      live.length == AnnIndex.readMeta(idx).nVecs)
    assert(canon(AnnIndex.probeAnnIndex(spark, idx, probes, 4, 3)) == expected)
  }
}
