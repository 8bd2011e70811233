package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIndex, Dedup, IndexLifecycle, SignatureIndex, Similarity}

import scala.jdk.CollectionConverters._

/** The shared index-lifecycle module: drift policy arithmetic, the
  * bounded fingerprint memo's eviction contract, the content
  * fingerprint's sensitivity to renames (the rebuild-in-the-same-
  * millisecond staleness case size+mtime alone cannot see), and the
  * mutation core both index families run (delete, tombstone read,
  * meta write), checked once over a table of the two families. */
class IndexLifecycleSpec extends AnyFunSuite {

  /** One index family as the mutation core sees it: its id column, the
    * fixture rows it indexes, its build and delete entry points, and
    * the `_INDEX_META` keys its meta writes. */
  private case class Family(name: String, key: String, source: DataFrame,
                            build: String => IndexLifecycle.Drift,
                            delete: (DataFrame, String) => IndexLifecycle.Drift,
                            metaKeys: Set[String])

  private lazy val families: Seq[Family] = {
    import SparkTestSession._
    val docs = Dedup.shingleHashSets(Tables.documents(spark, sf), "doc_id", "text", 5)
    val vecsQ = Tables.embeddings(spark, sf).select(col("vec_id"),
      col("label"), Similarity.quantize(col("embedding")).as("qv"))
    // the first 16 vectors as the (untrained) quantizer: the mutation
    // core does not depend on cell quality
    val cents = vecsQ.filter(col("vec_id") < 16).select(col("vec_id"), col("qv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toSeq
    Seq(
      Family("signature", "doc_id", docs,
        SignatureIndex.buildSignatureIndex(docs, _),
        SignatureIndex.deleteFromIndex,
        Set("version", "rowsPerBand", "capPop", "maxExtraBits", "nDocs",
          "sigBytes", "appendedDocs", "deletedDocs")),
      Family("ann", "vec_id", vecsQ,
        AnnIndex.buildAnnIndex(vecsQ, cents, _),
        AnnIndex.deleteFromAnnIndex,
        Set("version", "nCells", "dims", "nVecs", "appendedVecs",
          "deletedVecs", "pqM", "pqSubDim")))
  }

  private def newIndexDir(f: Family): String = {
    val d = Files.createTempDirectory(s"graft_test_lc_${f.name}_")
    Dedup.registerScratchDir(d)
    d.toString
  }

  /** The two smallest indexed ids of a family's fixture. */
  private def twoIndexed(f: Family): DataFrame =
    f.source.select(col(f.key)).orderBy(col(f.key)).limit(2)

  test("resolving a tombstone read runs no Spark job in either family") {
    import SparkTestSession._
    families.foreach { f =>
      val idx = newIndexDir(f)
      f.build(idx)
      f.delete(twoIndexed(f), idx)
      val root = Paths.get(idx)
      // a bare spark.read.parquet would schedule a schema-inference job
      // here; with the known one-column schema it resolves without one
      val (read, jobs) = jobsDuring(IndexLifecycle.tombstones(spark, root, f.key))
      assert(jobs == 0, s"${f.name}: resolving the tombstones ran $jobs jobs")
      val (live, antiJobs) = jobsDuring(
        IndexLifecycle.withoutTombstones(f.source.select(col(f.key)), root, f.key))
      assert(antiJobs == 0, s"${f.name}: planning the anti ran $antiJobs jobs")
      assert(read.get._1.count() == 2, f.name)
      assert(live.count() == f.source.count() - 2, f.name)
    }
  }

  test("collecting the tombstone anti runs no deduplicating shuffle") {
    import SparkTestSession._
    val f = families.find(_.name == "ann").get
    val idx = newIndexDir(f)
    f.build(idx) // 16 cells
    f.delete(f.source.select(col(f.key)).orderBy(col(f.key)).limit(50), idx)
    val root = Paths.get(idx)
    val cells = IndexLifecycle.snapshotScan(spark,
      IndexLifecycle.snapshotFiles(root, "cells"), Some(root.resolve("cells")))
    // the tombstone broadcast and the scan; a distinct on the tombstone
    // read would add a shuffle job, which an anti join does not need
    val (live, jobs) = jobsDuring(
      IndexLifecycle.withoutTombstones(cells, root, f.key).collect())
    assert(jobs == 2, s"collecting the tombstone anti ran $jobs jobs")
    assert(live.length == f.source.count() - 50)
  }

  test("a meta rewrite lands by atomic rename with the field names as keys") {
    families.foreach { f =>
      val idx = newIndexDir(f)
      f.build(idx)
      val meta = Paths.get(idx, "_INDEX_META")
      def inode = Files.getAttribute(meta, "unix:ino")
      val built = inode
      f.delete(twoIndexed(f), idx)
      // an in-place rewrite keeps the inode (and a crash after its
      // truncate leaves an empty, unreadable stamp); a rename replaces it
      assert(inode != built, s"${f.name}: _INDEX_META was rewritten in place")
      val props = new java.util.Properties()
      scala.util.Using.resource(Files.newInputStream(meta))(props.load)
      assert(props.stringPropertyNames().asScala.toSet == f.metaKeys, f.name)
      assert(props.getProperty("version") == "2", f.name)
    }
  }

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
