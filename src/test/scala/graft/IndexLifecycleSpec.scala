package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IndexLifecycle

/** The shared index-lifecycle module: drift policy arithmetic, the
  * bounded fingerprint memo's eviction contract, and the content
  * fingerprint's sensitivity to renames (the rebuild-in-the-same-
  * millisecond staleness case size+mtime alone cannot see). */
class IndexLifecycleSpec extends AnyFunSuite {

  test("drift policy is the shared quarter-of-base-corpus rule") {
    // nTotal counts appends: base 100 + appended 25 = at threshold
    assert(!IndexLifecycle.driftExceeds(25, 125))
    assert(IndexLifecycle.driftExceeds(26, 126))
    assert(!IndexLifecycle.driftExceeds(0, 100))
  }

  test("fingerprint memo holds one live entry per stable key") {
    val memo = new IndexLifecycle.FingerprintMemo[String]
    var loads = 0
    def load(v: String): String = { loads += 1; v }
    assert(memo.get("k", "fp1")(load("a")) == "a")
    assert(memo.get("k", "fp1")(load("never")) == "a")
    assert(loads == 1)
    // fingerprint change: reload AND replace (no accumulation)
    assert(memo.get("k", "fp2")(load("b")) == "b")
    assert(loads == 2)
    // the old fingerprint's value is gone — a third state reloads
    assert(memo.get("k", "fp1")(load("c")) == "c")
    assert(loads == 3)
  }

  test("gate nProbe and compaction cadence policies are pinned") {
    // SCALING.md §4.18: planted-duplicate admit-error vs nProbe on the
    // √N-cell ladder index — exact re-ingests are caught at any width,
    // the strong near-dup band needs 16
    assert(graft.operators.AnnIndex.GateNProbe == 16)
    // SCALING.md §4.19: the measured probe-drag point was ~80 delta
    // files; the trigger fires at half
    assert(IndexLifecycle.CompactSmallFilesMax == 40)
    assert(!IndexLifecycle.needsCompaction(
      IndexLifecycle.CompactSmallFilesMax - 1))
    assert(IndexLifecycle.needsCompaction(
      IndexLifecycle.CompactSmallFilesMax))
  }

  /** Write a one-byte stand-in part file into `sub` and commit it into
    * the snapshot, as every add-only mutation commits its files. */
  private def commitFake(root: java.nio.file.Path, sub: String,
                         name: String): Unit =
    IndexLifecycle.commitAddedWrite(root, sub) {
      Files.createDirectories(root.resolve(sub))
      Files.write(root.resolve(sub).resolve(name), Array[Byte](1))
    }

  test("ann needsCompaction counts delta part files") {
    val dir = Files.createTempDirectory("graft_test_nc_")
    def needs = graft.operators.AnnIndex.needsCompaction(dir.toString)
    try {
      // a fresh build's snapshot: no side table, nothing to compact
      IndexLifecycle.commitFresh(dir, Nil)
      assert(!needs)
      (0 until IndexLifecycle.CompactSmallFilesMax - 1).foreach(i =>
        commitFake(dir, "delta", s"part-$i.parquet"))
      assert(!needs)
      // a file on disk that no commit named (a crashed write's orphan)
      // does not count
      Files.write(dir.resolve("delta").resolve("orphan.parquet"), Array[Byte](1))
      assert(!needs)
      // tombstone part files count toward the same trigger: a
      // delete-only lifecycle pays the identical per-file drag
      commitFake(dir, "tombstones", "part-t.parquet")
      assert(needs)
      // swapped out of the snapshot (retained on disk, as compaction
      // leaves it): no longer counted
      IndexLifecycle.commitSwap(dir,
        Seq(dir.resolve("tombstones").resolve("part-t.parquet")), Nil)
      assert(!needs)
      commitFake(dir, "gapp_batches", "part-g.parquet")
      assert(needs)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("signature needsCompaction counts small sig part files") {
    val dir = Files.createTempDirectory("graft_test_ncs_")
    def needs(minFileBytes: Long) =
      graft.operators.SignatureIndex.needsCompaction(dir.toString, minFileBytes)
    try {
      IndexLifecycle.commitFresh(dir, Nil)
      (0 until IndexLifecycle.CompactSmallFilesMax - 1).foreach(i =>
        commitFake(dir, "sig", s"part-$i.parquet"))
      assert(!needs(8L << 20))
      Files.write(dir.resolve("sig").resolve("orphan.parquet"), Array[Byte](1))
      assert(!needs(8L << 20), "an uncommitted file counted")
      // the gate-append sidecar's files count too
      commitFake(dir, "gateapp_md5", "part-g.parquet")
      assert(needs(8L << 20))
      // corpus-build parts above the size threshold never count
      assert(!needs(minFileBytes = 1))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("anyRow: a second identical existence probe compiles no class") {
    import SparkTestSession._
    // every production probe builds a fresh frame of the same shape; a
    // planned limit would name its counter per call and compile anew
    def frame = spark.range(0, 1000, 1, 4).toDF().filter("id % 7 = 3")
    def compiles() = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    assert(IndexLifecycle.anyRow(frame))
    val before = compiles()
    assert(IndexLifecycle.anyRow(frame))
    assert(compiles() - before == 0,
      s"the second probe compiled ${compiles() - before} classes")
    assert(!IndexLifecycle.anyRow(frame.filter("id < 0")))
  }

  test("dir fingerprint sees a rename even with identical bytes+mtime") {
    val dir = Files.createTempDirectory("graft_test_fp_")
    try {
      val f = dir.resolve("part-0001.parquet")
      Files.write(f, Array[Byte](1, 2, 3))
      val mtime = Files.getLastModifiedTime(f)
      val fp1 = graft.storage.ArtifactCache.fingerprint(dir)
      // same bytes, same mtime, different name — must miss
      val g = dir.resolve("part-0002.parquet")
      Files.move(f, g)
      Files.setLastModifiedTime(g, mtime)
      assert(graft.storage.ArtifactCache.fingerprint(dir) != fp1)
      // a single file is fingerprinted by its own size and mtime
      val fpFile = graft.storage.ArtifactCache.fingerprint(g)
      Files.setLastModifiedTime(g,
        java.nio.file.attribute.FileTime.fromMillis(mtime.toMillis + 1000))
      assert(graft.storage.ArtifactCache.fingerprint(g) != fpFile)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("boundedCollectIds enforces the increment-class contract loudly") {
    import SparkTestSession._
    import org.apache.spark.sql.functions._
    val ids = spark.range(0, 100).select(col("id").as("doc_id"))
    // within budget: the full set, exactly
    assert(IndexLifecycle.boundedCollectIds(ids, "doc_id", maxIds = 100)
      .sorted.toSeq == (0L until 100L))
    // over budget: a loud error, not a driver OOM — and the limit is
    // in the plan, so at most maxIds+1 rows ever shipped
    val e = intercept[IllegalArgumentException](
      IndexLifecycle.boundedCollectIds(ids, "doc_id", maxIds = 99))
    assert(e.getMessage.contains("increment-class"))
  }

  test("boundedIdJoin picks its strategy from measured bytes, results invariant") {
    import SparkTestSession._
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = spark.range(0, 1000).select(col("id").as("k"),
      (col("id") * 3).as("v"))
    val ids = spark.range(0, 1000, 7).select(col("id").as("k"))
    def nodes(d: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] = {
      d.count() // finalize AQE
      IndexLifecycle.executedPlanNodes(d)
    }
    val budget = spark.sessionState.conf.autoBroadcastJoinThreshold
    assert(budget > 0, "spec assumes the session default broadcast budget")
    // under budget: broadcast anti — the oracle-SF plan
    val under = IndexLifecycle.boundedIdJoin(df, ids, "k", budget, "left_anti")
    assert(nodes(under).exists(_.nodeName.contains("BroadcastHashJoin")))
    // over budget: SHUFFLE_HASH anti, never a broadcast of the id side
    val over = IndexLifecycle.boundedIdJoin(df, ids, "k", budget + 1, "left_anti")
    val on = nodes(over)
    assert(!on.exists(_.nodeName.contains("BroadcastHashJoin")))
    assert(on.exists(_.nodeName.contains("ShuffledHashJoin")))
    // identical results either way; semi flips the same switch
    assert(under.collect().map(_.getLong(0)).sorted.toSeq ==
      over.collect().map(_.getLong(0)).sorted.toSeq)
    val semiOver = IndexLifecycle.boundedIdJoin(df, ids, "k", budget + 1, "left_semi")
    assert(nodes(semiOver).exists(_.nodeName.contains("ShuffledHashJoin")))
    assert(semiOver.count() == ids.count())
    // far over budget: the §4.9 width policy widens the exchange
    // beyond the session default (64 MB budget per build task)
    val wide = IndexLifecycle.boundedIdJoin(df, ids, "k",
      4L << 30, "left_anti")
    val parts = wide.rdd.getNumPartitions
    assert(parts > spark.conf.get("spark.sql.shuffle.partitions").toInt,
      s"expected a widened exchange, saw $parts partitions")
  }
}
