package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.apache.spark.sql.graft.{HashExpressions, LocalRows}
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Shared lifecycle machinery of the two persisted index families —
  * [[SignatureIndex]] (MinHash/LSH signatures for text dedup) and
  * [[AnnIndex]] (IVF cells for embedding search): meta properties IO
  * with a version gate, the appended-drift rebuild policy,
  * marker-stamped index-internal artifacts, bounded driver-side
  * memoization keyed by content fingerprint, the one staged rewrite
  * both compactions run, and the one streaming admission gate
  * ([[gate]]) both families' gate queries run.
  *
  * Extracted (round 11) because the two families had drifted on
  * exactly these contracts while duplicating the code: the ANN append
  * was not retry-duplicate-safe while the signature append was, and
  * the two compactions ordered their delete/move windows oppositely —
  * one risking row LOSS on a crash, the other transient duplicates.
  * One module now owns the contracts; the two layouts are instances.
  *
  * One snapshot layer serves both families. Every mutable sub-table —
  * `sig/`, `tombstones/` and `gateapp_md5/` of a signature index;
  * `cells/`, `delta/`, `tombstones/` and `gapp_batches/` of an ANN
  * index — is read through the [[ManifestName]] snapshot, never by a
  * directory listing. Build-once artifacts (`hot`, `hot2`, `gate_md5`,
  * `pairs`, `centroids`, `books`) keep their markers and directory
  * reads. The mutations reduce to three commits of one atomic
  * manifest write:
  *  - a build commits a fresh snapshot ([[commitFresh]]);
  *  - appends, deletes and sidecar writes add exactly the files they
  *    wrote ([[commitAddedWrite]]);
  *  - a compaction stages every rewritten sub-table and swaps the
  *    results in with ONE [[commitSwap]] ([[compact]]), RETAINING the
  *    superseded files until the next maintenance entry reclaims them
  *    ([[reclaimUnmanifested]]).
  *
  * The mutation core both families run is here too; a family keeps
  * only its layout, probe, gate steps, compaction phases and `Meta`
  * fields:
  *  - one build reset ([[resetLayout]]): stale side tables and
  *    build-scoped markers go before a (re)build writes;
  *  - one tombstone reader ([[tombstones]], [[withoutTombstones]]);
  *  - one delete ([[deleteIds]]): present, not-yet-tombstoned ids land
  *    as one committed file of `tombstones/`;
  *  - one one-file side-table append ([[appendSideFile]]) for deletes,
  *    gate-append sidecar records and sidecar restores;
  *  - one drift rule and rebuild epoch over a family's [[Drift]]
  *    counters ([[needsRebuild]]);
  *  - one meta writer ([[writeMetaProps]]), which lands `_INDEX_META`
  *    by the same atomic rename as `_MANIFEST`.
  *
  * Crash ordering: new bytes are materialized COMPLETELY before the
  * manifest names them, and old bytes leave the disk only after a
  * later commit has dropped them. A crash at any instant leaves the
  * previous snapshot or the next one; written-but-uncommitted files are
  * unlisted orphans that the next maintenance entry reclaims.
  *
  * Concurrency: every mutation is single-WRITER. Appends, deletes and
  * COMPACTION are snapshot-safe for concurrent readers in both
  * families: a frame resolved against snapshot N reads exactly N's
  * rows, one resolved after the commit reads exactly N+1. A single
  * read must not span TWO maintenance events (retention is one
  * interval). Only a REBUILD, which tears the layout down wholesale,
  * still requires reads to quiesce. [[maintain]] is the one driver of
  * both families' rebuild and compaction steps.
  */
object IndexLifecycle {

  /** Fraction of an index's build-time corpus that may arrive by
    * appends before [[driftExceeds]] flags the frozen build artifacts
    * (signature hot/hot2 populations, the ANN coarse quantizer) as
    * stale. Measured basis: SCALING.md §4.16 (signature appends flat,
    * probe cost in class across the lifecycle) and §4.17 (ANN
    * drift-recall at exactly this threshold: recall vs exact ground
    * truth unchanged — only bucket BALANCE drifts, which is a
    * performance property, not a correctness one). */
  val RebuildFraction: Double = 0.25

  /** True when appended drift exceeds [[RebuildFraction]] of the
    * build-time corpus. `nTotal` counts appended rows too, so the
    * build-time corpus is `nTotal - appended`. */
  def driftExceeds(appended: Long, nTotal: Long): Boolean =
    appended > RebuildFraction * (nTotal - appended)

  /** The drift counters of a family's `Meta`: the LIVE row count and
    * the rows appended and deleted since the build. */
  trait Drift { def live: Long; def appended: Long; def deleted: Long }

  /** The rebuild policy of both families: appends AND deletes drift
    * the frozen build artifacts (signature hot/hot2 populations, the
    * ANN quantizer) away from the live data, and deletes also grow
    * the read-side tombstone anti-join, so both count. `live` is
    * build + appended − deleted, so the build-time corpus reconstructs
    * as `live − appended + deleted`; the `+ 2·deleted` is that algebra
    * pushed through [[driftExceeds]]'s (appended, nTotal) form. */
  def needsRebuild(d: Drift): Boolean =
    driftExceeds(d.appended + d.deleted, d.live + 2 * d.deleted)

  /** Epoch stamp of a rebuild staging: the drift counters at staging
    * time. A committed rebuild that crashed before reclaiming its
    * staging must NOT be "resumed" after further mutations re-flag the
    * drift — the stale rows would drop every intervening append and
    * resurrect every intervening delete. Any mutation moves a counter,
    * so a stamp mismatch detects exactly that. */
  private def epoch(d: Drift): String = s"${d.live}|${d.appended}|${d.deleted}"

  /** Small-file count at which an append lifecycle should schedule
    * compaction — the shared cadence trigger both families consult
    * ([[AnnIndex.needsCompaction]] counts `delta/` part files — the
    * side table every probe scans in full; [[SignatureIndex
    * .needsCompaction]] counts sub-threshold `sig/` part files).
    * Measured basis (SCALING.md §4.19, the 8M ANN rung): probe cost is
    * insensitive to delta BYTES at increment scale but grows with the
    * per-file open/footer cost of accumulated append part files;
    * 20 appends ≈ 80 files is where the drag became measurable, so the
    * trigger fires at half that — compaction is increment-priced, so
    * firing early costs little and the probe path stays flat. */
  val CompactSmallFilesMax: Int = 40

  /** The cadence predicate: schedule compaction once `smallFiles`
    * accumulated append part files exist. */
  def needsCompaction(smallFiles: Int): Boolean =
    smallFiles >= CompactSmallFilesMax

  /** What one [[SignatureIndex.maintainIndex]] /
    * [[AnnIndex.maintainAnnIndex]] pass did: `rebuilt` when the drift
    * policy fired (physical reclamation + fresh build artifacts),
    * otherwise `compacted` counts merged files / rewritten cells (0 =
    * the pass was a no-op — the common healthy state). */
  case class Maintenance(rebuilt: Boolean, compacted: Int)

  /** Parquet→join-build expansion for an id side table (tombstones):
    * snappy parquet of near-incompressible hashed ids re-expands ~×1.4
    * to row bytes and the hash relation adds key-table + pointer
    * overhead ~×2 — the same measured basis as Dedup.FatBuildExpansion,
    * rounded up (an over-wide exchange is a few extra task launches;
    * an under-wide SHUFFLE_HASH build is an OOM). */
  private val IdBuildExpansion = 3.0

  /** Anti/semi-join `df` against an id side table whose strategy is
    * chosen from the side table's MEASURED bytes, not from policy
    * prose (the round-11 `weak` item: every tombstone consumer shipped
    * `broadcast(ids)` unconditionally, arguing the drift bound keeps
    * the set small — but the bound is advisory, and 25% of a 100-TB
    * corpus is ~10⁹ ids, a broadcast OOM long before any rebuild).
    *
    *  - at or below the session's own broadcast budget
    *    (`spark.sql.autoBroadcastJoinThreshold` — the bytes bar
    *    Catalyst itself applies to auto-broadcasts), the side ships as
    *    a broadcast: one scan-side pass, zero exchanges, the plan
    *    every oracle SF runs unchanged;
    *  - above it, a SHUFFLE_HASH join with the side table as the
    *    build, both legs re-keyed to the §4.9 size-driven width
    *    ([[Sizing.exchangeWidth]] over the side bytes ×
    *    [[IdBuildExpansion]]) so no task's build slice outgrows the
    *    per-task budget. The probe leg pays one corpus shuffle — the
    *    unavoidable cost of an id set too big to replicate, bounded
    *    and spill-free rather than OOM. */
  def boundedIdJoin(df: DataFrame, ids: DataFrame, key: String,
                    idBytes: Long, joinType: String): DataFrame = {
    val spark = df.sparkSession
    // -1 disables auto-broadcast session-wide: honor it (shuffle path)
    val budget = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (budget >= 0 && idBytes <= budget)
      df.join(broadcast(ids), Seq(key), joinType)
    else {
      val (l, r) = Sizing.exchangeWidth(spark, idBytes, IdBuildExpansion) match {
        case Some(n) => (df.repartition(n, col(key)),
          ids.repartition(n, col(key)))
        case None => (df, ids)
      }
      l.join(r.hint("SHUFFLE_HASH"), Seq(key), joinType)
    }
  }

  /** Hard bound on the id set a single increment-class mutation may
    * collect to the driver ([[deleteIds]] stages the fresh tombstone
    * ids through a LOCAL relation — the right fix for the
    * lineage-reads-the-appended-dir hazard — which makes the driver
    * heap the budget). 10M longs ≈ 80 MB of payload: far above
    * any real per-call takedown increment, far below a corpus-class
    * set that belongs to a rebuild. The contract used to be narrated
    * ("increment-class by contract"); now a mis-contracted caller gets
    * a loud error instead of a driver OOM (round-12 What's-wrong #3). */
  val MaxIncrementIds: Int = 10000000

  /** Collect a slim single-LONG-column id frame under the
    * increment-class contract: fails loudly past [[MaxIncrementIds]]
    * rather than collecting toward an OOM (the limit is pushed into
    * the plan, so an over-budget set ships at most maxIds+1 rows). */
  def boundedCollectIds(ids: DataFrame, key: String,
                        maxIds: Int = MaxIncrementIds): Array[Long] =
    boundedCollect(ids.select(col(key)), maxIds,
      s"increment-class contract violated: more than $maxIds ids in one " +
        s"mutation call on '$key' — chunk the calls or schedule a rebuild")(
      (df, n) => df.limit(n).collect()).map(_.getLong(0))

  /** True when `df` holds at least one row: one job, each partition
    * cut after its first row by [[LocalRows.collectPerPartition]]. A
    * planned limit would name its row counter from a JVM-global
    * sequence, so every call would compile classes of its own. */
  def anyRow(df: DataFrame): Boolean =
    LocalRows.collectPerPartition(df, 1).nonEmpty

  /** Collect `df` to the driver under a row bound: `collect(df, n)`
    * pushes a limit of n = maxRows+1 rows into the plan (global, or
    * per partition), so an over-budget frame ships a bounded number of
    * rows before `violation` fails the call loudly. */
  def boundedCollect[T](df: DataFrame, maxRows: Int, violation: => String)
                       (collect: (DataFrame, Int) => Array[T]): Array[T] = {
    val rows = collect(df, maxRows + 1)
    require(rows.length <= maxRows, violation)
    rows
  }

  /** Copy a PRISTINE cached index into a fresh scratch dir for a
    * mutation run — the restore-from-snapshot a re-runnable mutation
    * demonstrator needs: a mutation cannot re-run against an
    * already-mutated artifact (the delete-once lesson), so the
    * registry's mutation-loop queries copy the build-once base and
    * mutate the copy, paying the REAL loop cost on every invocation
    * instead of serving later calls from a persisted output (the
    * round-12 bench-honesty item: warm bench passes measured a 0.15 s
    * read-back against the twin's full sequential replay). The caller
    * deletes the copy when done. */
  def freshMutableCopy(basePath: String): String = {
    val src = Paths.get(basePath)
    val dst = Files.createTempDirectory("graft_idxcopy_")
    // Round-13 opt: HARDLINK the parquet part files instead of copying
    // their bytes — parquet parts are immutable in every lifecycle
    // (appends/compactions/rebuilds write NEW files and at most DELETE
    // old ones; deleting a link never touches the pristine original),
    // so the copy's only byte-copies are the small mutable metadata
    // files (_INDEX_META and _MANIFEST land by atomic rename, so a link
    // would be safe too, but markers are rewritten in place and every
    // non-parquet file is copied for uniformity). The
    // mutation loops pay the real gate/append/delete/maintain work
    // every invocation either way — the copy is setup, not the
    // operator under measurement. Falls back to a byte copy when the
    // filesystem refuses links (cross-device scratch).
    scala.util.Using.resource(Files.walk(src))(_.iterator().asScala.toVector)
      .foreach { p =>
        val rel = src.relativize(p)
        val out = dst.resolve(rel.toString)
        if (Files.isDirectory(p)) Files.createDirectories(out)
        else if (p.getFileName.toString.endsWith(".parquet"))
          try Files.createLink(out, p)
          catch {
            case _: UnsupportedOperationException | _: java.io.IOException =>
              Files.copy(p, out,
                java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
          }
        else Files.copy(p, out)
      }
    dst.toString
  }

  // ---- meta properties IO ----------------------------------------------

  /** Write the `_INDEX_META` properties stamp under `root`: `version`
    * plus every field of the family's `Meta`, keyed by field name.
    * Lands by atomic rename ([[writeAtomic]]), so a crash leaves the
    * previous stamp or the next one, never a truncated file that every
    * later read would reject. Meta is BOOKKEEPING by contract in both
    * families: probes read the layout snapshot, so a lost or stale
    * meta rewrite never corrupts results — it only skews the
    * rebuild/compaction policy counters (conservatively, for a retried
    * append: counted twice means an earlier rebuild). */
  def writeMetaProps(root: Path, comment: String, version: Int,
                     meta: Product): Unit = {
    val props = new java.util.Properties()
    props.setProperty("version", version.toString)
    meta.productElementNames.zip(meta.productIterator)
      .foreach { case (k, v) => props.setProperty(k, v.toString) }
    val out = new java.io.ByteArrayOutputStream()
    props.store(out, comment)
    writeAtomic(root.resolve("_INDEX_META"), out.toByteArray)
  }

  /** Replace `target` with `bytes` through a same-dir temp file and an
    * ATOMIC_MOVE: readers see the old content or the new, whole. */
  private def writeAtomic(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Read + version-gate the `_INDEX_META` stamp, returning its
    * numeric fields by name (every `Meta` field is an Int or a Long).
    * A version mismatch is a hard error: the layout on disk was
    * written by a different format generation and silently reading it
    * is how stale-sidecar bugs happen (the round-10 stale-delta
    * lesson). */
  def readMetaProps(root: Path, what: String,
                    version: Int): String => Long = {
    val p = root.resolve("_INDEX_META")
    require(Files.isRegularFile(p), s"no $what at $root")
    val props = new java.util.Properties()
    val in = Files.newInputStream(p)
    try props.load(in) finally in.close()
    require(props.getProperty("version") == version.toString,
      s"$what at $root has version ${props.getProperty("version")}, " +
        s"this build reads $version")
    k => props.getProperty(k).toLong
  }

  // ---- index-internal markers -------------------------------------------

  /** The marker guard of an index's own staged artifacts
    * ([[SignatureIndex.ensureSelfPairs]]' pairs graph,
    * [[SignatureIndex.ensureSidecar]] tables, one-shot mutations): run
    * `build` unless `marker` already records exactly `stamp`; commit
    * the marker after. Invalidation = deleting the marker (the append
    * lifecycle does this for staged pairs). A marker records state of
    * a MUTABLE index, so it lives inside the index; fixture-derived
    * builds go through [[graft.storage.ArtifactCache]] instead.
    *
    * Locking: the built-marker fast path is LOCK-FREE, and builds
    * serialize per MARKER (striped), not globally — a multi-tenant
    * driver running one cold corpus-sized build must not block every
    * other artifact's instant marker check behind it (a one-lock
    * version of this method did exactly that). Two threads racing the
    * same cold marker serialize; the loser re-checks and skips. */
  def ensureMarked(marker: Path, stamp: String)
                  (build: => Unit): Unit = {
    def built: Boolean = Files.isRegularFile(marker) &&
      new String(Files.readAllBytes(marker), StandardCharsets.UTF_8) == stamp
    if (built) return
    val lock = markerLocks.computeIfAbsent(
      marker.toAbsolutePath.toString, _ => new Object)
    lock.synchronized {
      if (!built) {
        build
        Files.write(marker, stamp.getBytes(StandardCharsets.UTF_8))
      }
    }
  }

  private val markerLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Reset an index root before a (re)build writes its layout: delete
    * the `subs` directories the build does not overwrite (stale side
    * tables a new snapshot must not inherit — old tombstones would
    * ERASE rebuilt rows sharing a deleted id, an old delta would
    * duplicate rows, old sidecars would record admissions into the
    * previous build) and every BUILD-SCOPED marker — the one-shot
    * mutation (`_ONCE_*_OK`) and sidecar (`_SIDECAR_*_OK`) markers that
    * record state of a PARTICULAR build: an in-place rebuild (same
    * dir, new stamp) that kept them would silently skip recorded
    * mutations and serve the previous build's sidecar tables. */
  def resetLayout(root: Path, subs: Seq[String]): Unit = {
    subs.map(root.resolve).filter(Files.isDirectory(_))
      .foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
    if (Files.isDirectory(root))
      scala.util.Using.resource(Files.list(root))(
        _.iterator().asScala
          .filter { p =>
            val n = p.getFileName.toString
            Files.isRegularFile(p) &&
              (n.startsWith("_ONCE_") || n.startsWith("_SIDECAR_")) &&
              n.endsWith("_OK")
          }
          .toSeq).foreach(Files.delete)
  }

  // ---- bounded fingerprint memo ------------------------------------------

  /** Driver-side memo holding ONE live value per stable key: the value
    * is revalidated by `fingerprint` and REPLACED when it changes, so a
    * rebuild at the same path evicts the previous entry instead of
    * accumulating beside it (the unbounded-memo ADVICE item: a
    * long-lived multi-tenant driver rebuilding indexes in place must
    * not leak one centroid table per rebuild). */
  final class FingerprintMemo[V] {
    private val m =
      new java.util.concurrent.ConcurrentHashMap[String, (String, V)]()
    /** Hit path is one lock-free read. The loader runs OUTSIDE any map
      * lock: a `compute`-held load (the first cut) pinned the CHM bin
      * lock for the duration of a corpus-read collect, blocking
      * unrelated keys hashing to the same bin — the contention the
      * striped ensureMarked was explicitly built to avoid. Two threads
      * racing a cold key may both load (benign: the loader is a pure
      * function of the fingerprinted content; last put wins). */
    def get(stableKey: String, fingerprint: String)(load: => V): V = {
      val prev = m.get(stableKey)
      if (prev != null && prev._1 == fingerprint) return prev._2
      val v = load
      m.put(stableKey, (fingerprint, v))
      v
    }
  }

  /** Every parquet file under `dir`, recursively (none when absent). */
  private def parquetFiles(dir: Path): Vector[Path] =
    if (!Files.isDirectory(dir)) Vector.empty
    else scala.util.Using.resource(Files.walk(dir))(
      _.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toVector)

  /** `read` over each file's parquet footer, driver-side, lazily. */
  private def footers[T](spark: SparkSession, files: Seq[Path])
                        (read: org.apache.parquet.hadoop.ParquetFileReader => T): Iterator[T] = {
    val conf = spark.sessionState.newHadoopConf()
    files.iterator.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf))
      try read(r) finally r.close()
    }
  }

  /** A scan of snapshot `files` under the Spark schema the first file's
    * writer stored in its footer, read driver-side: a bare
    * `spark.read.parquet` schedules a schema-inference job on every
    * call. Partition columns live in paths, not footers, so under
    * `basePath` they still infer from the directory names. */
  def snapshotScan(spark: SparkSession, files: Seq[Path],
                   basePath: Option[Path] = None): DataFrame = {
    val schema = footers(spark, files.take(1))(r => DataType.fromJson(r.getFooter
      .getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))).next()
      .asInstanceOf[StructType]
    basePath.foldLeft(spark.read.schema(schema))(
      (r, b) => r.option("basePath", b.toString)).parquet(files.map(_.toString): _*)
  }

  /** Footer key under which Spark's parquet writer stores the schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** True when the parquet table under `dir` holds at least one ROW —
    * answered from the file FOOTERS, driver-side (round-13 opt: the
    * hot/hot2 emptiness consult was a `df.isEmpty`, i.e. one scheduled
    * Spark job per probe call — two jobs per probe, per trigger in the
    * takedown loops — for a question a footer read answers in
    * microseconds; the part-file count is bounded by the build, which
    * writes these side tables wholesale). */
  def parquetHasRows(spark: SparkSession, dir: Path): Boolean =
    footers(spark, parquetFiles(dir))(_.getRecordCount > 0).exists(identity)

  /** Exact row count of a parquet file set from the FOOTERS,
    * driver-side — the post-write count an append reads back instead
    * of scheduling a cache+count job over the increment (round-13
    * opt; the file set is the write's own listing diff, bounded). */
  def parquetRowCount(spark: SparkSession, files: Seq[Path]): Long =
    footers(spark, files)(_.getRecordCount).sum

  /** Exact MAX of a non-null long column across the parquet files
    * under `dir`, answered from the footers' column STATISTICS,
    * driver-side — the `agg(max(id)).head()` job several fixture-slice
    * thresholds scheduled per query invocation (round-13 opt). None
    * when any chunk lacks stats (older writers) or the dir is empty —
    * callers fall back to the Spark aggregate, so this is a fast path,
    * never a semantic change. */
  def parquetColumnMaxLong(spark: SparkSession, dir: Path,
                           column: String): Option[Long] = {
    val files = if (Files.isRegularFile(dir)) Vector(dir) else parquetFiles(dir)
    val maxes = footers(spark, files) { r =>
      r.getFooter.getBlocks.asScala.map { block =>
        block.getColumns.asScala
          .find(_.getPath.toDotString == column)
          .map(_.getStatistics) match {
          // hasNonNullValue guards the all-null row group: its stats
          // are non-empty (numNulls set) but getMax is the type's
          // uninitialized default — accepting it would return a
          // silently wrong max instead of forcing the fallback
          // (review finding)
          case Some(st) if st != null && !st.isEmpty && st.hasNonNullValue &&
              st.isInstanceOf[org.apache.parquet.column.statistics.LongStatistics] =>
            Some(st.asInstanceOf[org.apache.parquet.column.statistics.LongStatistics].getMax)
          case _ => None
        }
      }.toVector
    }.flatten.toVector
    // every row group must carry stats or the max could be understated
    if (maxes.isEmpty || maxes.exists(_.isEmpty)) None
    else Some(maxes.flatten.max)
  }

  /** Total parquet bytes under a directory — the sizing input of the
    * join-width policy and compaction thresholds. */
  def parquetBytes(dir: Path): Long = parquetFiles(dir).map(Files.size).sum

  /** Size signal for an ID side table feeding [[boundedIdJoin]], over
    * its snapshot files: `max(parquet bytes, row count × 8)`. Parquet
    * bytes alone UNDER-READ compressible id sets — the 8M drift rung
    * measured a 2M-id strided tombstone table at 9.7 MiB on disk
    * (RLE/dictionary ~5 B/id), sliding just under the 10 MiB broadcast
    * budget while its hash relation would be an order of magnitude
    * bigger — so the signal is floored at the raw key bytes, which no
    * relation can undercut. Row counts come from the parquet FOOTERS,
    * driver-side (no Spark job): one small read per part file, and the
    * part-file count is bounded by the compaction cadence. Duplicate
    * rows from crash-retried writes inflate the estimate —
    * conservative (an over-wide estimate costs a shuffle that was
    * almost due anyway; an under-read is a broadcast OOM). */
  def idSideBytes(spark: SparkSession, files: Seq[Path]): Long =
    math.max(files.map(Files.size).sum, parquetRowCount(spark, files) * 8L)

  // ---- executed-plan introspection -----------------------------------------

  /** Every physical node of a MATERIALIZED plan, seen through AQE's
    * wrappers: `AdaptiveSparkPlanExec` delegates to its final
    * `executedPlan`, and `QueryStageExec` hides its subtree in `.plan`
    * (its `children` is empty — the round-12 lesson that cost a false
    * plan-audit pass). Run an action on `df` first so AQE has
    * finalized. Shared by the drift-rung probe (`graft.AnnDriftProbe` at
    * `ad24016`) and the plan-pinning
    * specs so the unwrap subtlety is maintained once. */
  def executedPlanNodes(df: DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] =
    planNodes(df.queryExecution.executedPlan)

  /** [[executedPlanNodes]] from a physical plan root — the subtree of
    * any node, or a plan captured by a query-execution listener. */
  def planNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    (p +: p.children.flatMap(planNodes)) ++ (p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec => planNodes(q.plan)
      case _ => Nil
    })
  }

  // ---- manifest-pinned layout snapshots ------------------------------------

  /** Name of the layout-snapshot manifest at an index root: one
    * RELATIVE parquet path per line (sorted), written to a temp file
    * and moved into place atomically (same-dir ATOMIC_MOVE). That
    * move is the only commit point of every mutation: a crash at any
    * instant leaves the previous complete manifest (see the module
    * header for the read and retention contract). */
  val ManifestName = "_MANIFEST"

  /** The committed snapshot's relative paths; None when no index was
    * built at `root`. */
  def readManifest(root: Path): Option[Seq[String]] = {
    val p = root.resolve(ManifestName)
    if (!Files.isRegularFile(p)) None
    else Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq)
  }

  /** Snapshot files under one sub-table of the manifest, as absolute
    * paths; None when no index was built at `root`. */
  def manifestFilesUnder(root: Path, sub: String): Option[Seq[Path]] =
    readManifest(root).map(_.filter(_.startsWith(sub + "/"))
      .map(root.resolve))

  /** The committed snapshot of the index at `root`; an index-less
    * path fails loudly rather than reading as empty. */
  private def snapshot(root: Path): Seq[String] =
    readManifest(root).getOrElse(throw new IllegalStateException(
      s"no index snapshot ($ManifestName) at $root"))

  /** The snapshot's files under one sub-table (empty when it lists
    * none) — the only way either family finds its mutable files. */
  def snapshotFiles(root: Path, sub: String): Seq[Path] =
    snapshot(root).filter(_.startsWith(sub + "/")).map(root.resolve)

  private def writeManifestAtomic(root: Path, rel: Seq[String]): Unit =
    writeAtomic(root.resolve(ManifestName),
      rel.sorted.mkString("\n").getBytes(StandardCharsets.UTF_8))

  /** Current on-disk parquet listing of `sub`, relative to root. */
  def listRelParquet(root: Path, sub: String): Seq[String] =
    parquetFiles(root.resolve(sub)).map(root.relativize(_).toString)

  /** A build's commit: a fresh snapshot of exactly the disk listing of
    * `subs`, which the build just wrote wholesale. Every other
    * sub-table starts empty. */
  def commitFresh(root: Path, subs: Seq[String]): Unit =
    writeManifestAtomic(root, subs.flatMap(listRelParquet(root, _)))

  /** Run an ADD-ONLY write into `sub` and commit EXACTLY the files it
    * created into the snapshot (listing diff, valid under the
    * single-writer contract). Files already on disk beforehand —
    * a previous compaction's retained-but-superseded ones, a crashed
    * attempt's orphans — never (re-)enter the manifest: a relist would
    * RESURRECT folded delta or applied tombstones (round-13 review
    * finding). Returns the ADDED files (absolute paths) so callers
    * read the write's row count from their footers. */
  def commitAddedWrite(root: Path, sub: String)(write: => Unit): Seq[Path] = {
    val pre = listRelParquet(root, sub).toSet
    write
    val added = listRelParquet(root, sub).filterNot(pre.contains)
    if (added.nonEmpty) writeManifestAtomic(root, snapshot(root) ++ added)
    added.map(root.resolve(_))
  }

  /** A compaction's commit: one atomic swap of the snapshot, `removed`
    * out and `added` in, plus every file of the `dropSubs` sub-tables
    * out (a folded delta, applied tombstones). The dropped files stay
    * on disk for snapshot-N readers until [[reclaimUnmanifested]]. */
  def commitSwap(root: Path, removed: Seq[Path], added: Seq[Path],
                 dropSubs: Seq[String] = Nil): Unit = {
    val rem = removed.map(root.relativize(_).toString).toSet
    writeManifestAtomic(root, snapshot(root).filterNot(r =>
      rem(r) || dropSubs.exists(sb => r.startsWith(sb + "/"))) ++
      added.map(root.relativize(_).toString))
  }

  // ---- the shared mutation core ---------------------------------------------

  /** The snapshot's tombstone ids under `key`, with their size signal
    * ([[idSideBytes]]) for [[boundedIdJoin]]; None when the snapshot
    * lists no tombstone file. Crash-retried deletes may leave duplicate
    * rows, and they stay: every consumer is a semi or anti join, which
    * ignores duplicate build keys, so a `distinct` here would only add
    * a shuffle job to every read. Read with the known one-LONG-column
    * schema, so resolving the frame schedules no schema-inference
    * job. */
  def tombstones(spark: SparkSession, root: Path,
                 key: String): Option[(DataFrame, Long)] =
    Some(snapshotFiles(root, "tombstones")).filter(_.nonEmpty).map(fs =>
      (spark.read.schema(StructType(Seq(StructField(key, LongType))))
        .parquet(fs.map(_.toString): _*),
        idSideBytes(spark, fs)))

  /** `df` minus the snapshot's tombstoned `key`s, through the
    * byte-bounded anti ([[boundedIdJoin]]); `df` itself, plan
    * unchanged, when no tombstone exists. */
  def withoutTombstones(df: DataFrame, root: Path, key: String): DataFrame =
    tombstones(df.sparkSession, root, key).fold(df) { case (ts, bytes) =>
      boundedIdJoin(df, ts, key, bytes, "left_anti")
    }

  /** The DELETE of both families: tombstone the `key`s of `ids` that
    * `indexed` (the live key column's scan, None when the index holds
    * no live rows) holds and the snapshot has not tombstoned yet, and
    * return how many that was — the family moves its counters by it.
    *
    * The increment broadcasts into a semi over the slim key column
    * (output increment-bounded), so a never-indexed id is a TRUE
    * no-op, and already-tombstoned ids drop out, so a retried delete
    * changes neither the side table nor the count. The fresh ids are
    * collected under the increment-class bound
    * ([[boundedCollectIds]], loud past it) and appended from a local
    * relation as ONE committed file: writing the joined frame directly
    * would append to `tombstones/` through a lineage that READS it (a
    * lost block recomputing mid-write could scan the half-appended
    * table). Atomic at the snapshot commit: a crash before it leaves
    * an unlisted orphan, and the caller retries. */
  def deleteIds(root: Path, ids: DataFrame, key: String,
                indexed: Option[DataFrame]): Long = indexed.fold(0L) { scan =>
    val present = scan.select(col(key))
      .join(broadcast(ids.select(col(key)).distinct()), Seq(key), "left_semi")
      .distinct()
    val fresh = boundedCollectIds(withoutTombstones(present, root, key), key)
    if (fresh.nonEmpty) {
      val spark = ids.sparkSession
      appendSideFile(root, "tombstones",
        spark.createDataset(fresh.toSeq)(Encoders.scalaLong).toDF(key))
    }
    fresh.length.toLong
  }

  /** Append `rows` to the side table `sub` as ONE part file and commit
    * exactly that file ([[commitAddedWrite]]). One file per call: a
    * local relation otherwise fans out to min(rows, parallelism) files
    * per mutation, inflating the compaction cadence's file count and
    * every reader's footer reads. */
  def appendSideFile(root: Path, sub: String, rows: DataFrame): Unit =
    commitAddedWrite(root, sub) {
      rows.coalesce(1).write.mode("append").parquet(root.resolve(sub).toString)
    }

  // ---- the one admission gate ------------------------------------------

  /** Increment-class bound on one [[gate]] micro-batch, both families.
    * The gate holds the prepared batch on the driver as the UnsafeRows
    * the executors ship. Measured with SizeEstimator on 20k-row
    * collects:
    *  - signatures (keep columns, md5, signature, sorted shingle set,
    *    plus the shingle hashes on the append path), ScaleGen's
    *    ~700-character documents (~620 shingles): 2.9 kB per row for
    *    the stateless gate, 8.0 kB with the append path's hashes (boxed
    *    `Dataset.collect` rows: 13.1 / 30.6 kB); sf0.1 documents (~300
    *    characters) 1.1 / 2.8 kB;
    *  - ANN (vec_id, label, 64-dim quantized vector): 0.62 kB per row;
    *    the probe-cell relation the candidate scan broadcasts adds
    *    0.62 kB per probed cell, 9.9 kB per row at [[AnnIndex.GateNProbe]]
    *    (the oracle width of 4 cells: 2.5 kB).
    * So 50k rows retain ~145 MB, ~400 MB on the signature append path,
    * and ~530 MB on the ANN path at its production probe width — an
    * eighth of a 4 GB driver heap at most. The batch is collected in one
    * job over all its partitions, each shipping at most one bound's
    * worth before an over-bound batch fails. A stream feeding the gate bounds
    * its micro-batches with `maxFilesPerTrigger`/`maxBytesPerTrigger`
    * or by its staging (`StreamingQueries.gateStagingBatches`). */
  val MaxGateBatchRows: Int = 50000

  /** A family's replay sidecar: the side table `sub`, under `schema`,
    * recording which `batch` admitted which `id`. */
  final case class Sidecar(sub: String, schema: StructType, id: String,
                           batch: String)

  /** A family's exact-key check: the prepared rows' `held` column
    * against the `stored` column of the build-time `tables` and of the
    * replay sidecar, all read under the sidecar's schema. */
  final case class ExactKey(held: String, stored: String, tables: Seq[String])

  /** One index family's steps of the [[gate]]:
    *  - `prepare` hashes or quantizes the micro-batch into the rows the
    *    gate holds, keyed by their LONG column `id`;
    *  - `sidecar` and `exactKey` (None: the family has no exact key);
    *  - `candidates(schema, rows, excluded)` is the family's one scan of
    *    its live index for the held `rows`, minus the `excluded` ids:
    *    (held id, candidate id, score) LONG rows (None: nothing is left
    *    to check);
    *  - the residual: a held row whose best candidate ([[top1]]) scores
    *    at least `threshold` is rejected. */
  final case class Gate(root: Path, id: String, prepare: DataFrame => DataFrame,
                        sidecar: Sidecar, exactKey: Option[ExactKey],
                        candidates: (StructType, Seq[InternalRow], Set[Long]) => Option[DataFrame],
                        threshold: Long)

  /** The streaming-ingest ADMISSION GATE of both families, run once per
    * micro-batch by a foreachBatch sink. It decides against the index
    * AS OF this trigger, in work the size of the batch plus one pass
    * over each index table:
    *  1. `prepare` the batch and collect it ONCE into a driver-local
    *     relation, bounded by [[MaxGateBatchRows]] (a larger batch fails
    *     loudly, naming the cap);
    *  2. with `appendBatch = Some(batchId)`, read the replay sidecar for
    *     this batch's own earlier admissions: their ids are EXCLUDED
    *     from every check, so a redelivered batch decides as if its own
    *     appends never happened (the replay contract below);
    *  3. in the same scan, the exact-key matches: a held row whose key
    *     is stored (other than by this batch) is rejected;
    *  4. one candidate scan of the live index, each partition shipping
    *     only its best candidate per held id ([[top1]]): a near-duplicate
    *     cluster of many index rows multiplies the matches of one held
    *     row, so the shipped rows are bounded by partitions × batch,
    *     whatever the cluster sizes;
    *  5. decide on the driver: a held row is admitted unless its best
    *     candidate reaches the family's `threshold`.
    * Every driver-side step goes through [[boundedCollect]]: the batch
    * under [[MaxGateBatchRows]]; the sidecar/exact-key scan and the
    * candidates (at most one row per held row per scan partition) under
    * [[MaxIncrementIds]]. Nothing is cached or checkpointed: the result
    * carries no lineage, so losing an executor after the call cannot
    * lose or recompute it.
    *
    * On the append path the admitted rows go, from the local relation,
    * first into the sidecar as (id, batch[, key]) and then to the
    * family's `append`. SIDECAR FIRST: the reverse order re-opened the
    * replay hole in the crash window between the writes — rows landed
    * with no batch record, so the redelivered batch's own rows
    * self-rejected. Recording an admission whose append never lands is
    * harmless: the exclusion hides rows that do not exist, and the key
    * record correctly rejects later copies of a row the redelivered
    * batch re-admits and re-appends. Both writes read the local
    * relation, not the directories they write, so they need no
    * checkpoint in between.
    *
    * REPLAY EXACTLY-ONCE (foreachBatch redelivery after a crash between
    * the gate and the appends): per-row self-exclusion alone was NOT
    * enough — two identical rows co-admitted in one batch would reject
    * EACH OTHER on redelivery. With the batch-scoped exclusion the
    * admitted set is delivery-count-invariant (spec-pinned in both
    * families); re-appending is duplicate-safe, and duplicate sidecar
    * rows collapse in every reader (both sidecars are sets).
    *
    * Returns the prepared schema, the admitted rows and each checked
    * held id's best (candidate id, score). */
  def gate(g: Gate, batch: DataFrame, appendBatch: Option[Long])(
      append: DataFrame => Unit): (StructType, Seq[InternalRow], Map[Long, (Long, Long)]) = {
    val spark = batch.sparkSession
    val prepared = g.prepare(batch)
    val schema = prepared.schema
    val rows = boundedCollect(prepared, MaxGateBatchRows,
      s"gate micro-batch holds more than $MaxGateBatchRows rows; the gate " +
        "holds each batch on the driver — bound the stream's " +
        "maxFilesPerTrigger/maxBytesPerTrigger")(LocalRows.collectPerPartition)
    if (rows.isEmpty) return (schema, Nil, Map.empty)
    val sc = g.sidecar
    val key = g.exactKey.map(k => (k, schema.fieldIndex(k.held), schema(k.held).dataType))
    def keyOf(r: InternalRow): Option[Any] = key.map { case (_, f, t) => r.get(f, t) }

    // 2-3. one scan: this batch's recorded admissions and the key matches
    val paths = g.exactKey.toSeq.flatMap(_.tables) ++ appendBatch.toSeq.flatMap(_ =>
      snapshotFiles(g.root, sc.sub).map(_.toString))
    val matched = (key.map { case (k, _, _) =>
      HashExpressions.in_set(col(k.stored), rows.flatMap(keyOf)) } ++
      appendBatch.map(col(sc.batch) === _)).reduceOption(_ || _)
      .filter(_ => paths.nonEmpty)
      .fold(Array.empty[InternalRow])(f => boundedCollect(
        spark.read.schema(sc.schema).parquet(paths: _*).filter(f), MaxIncrementIds,
        s"gate sidecar scan matched more than $MaxIncrementIds rows of one " +
          "batch — bound the stream's maxFilesPerTrigger/maxBytesPerTrigger")(
        LocalRows.collectPerPartition))
    val fBatch = sc.schema.fieldIndex(sc.batch)
    val (own, other) = matched.partition(r =>
      appendBatch.exists(b => !r.isNullAt(fBatch) && r.getLong(fBatch) == b))
    val excluded = own.map(_.getLong(sc.schema.fieldIndex(sc.id))).toSet
    val rejected = key.fold(Set.empty[Any]) { case (k, _, t) =>
      other.map(_.get(sc.schema.fieldIndex(k.stored), t)).toSet }
    val unmatched = rows.toSeq.filterNot(r => keyOf(r).exists(rejected))

    // 4. one candidate scan, the best candidate per held id
    val best = g.candidates(schema, unmatched, excluded).fold(Map.empty[Long, (Long, Long)]) { c =>
      val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
      top1(boundedCollect(c.as(enc).mapPartitions(top1(_).iterator.map {
          case (k, (n, score)) => (k, n, score) })(enc).toDF(), MaxIncrementIds,
        s"gate candidate scan shipped more than $MaxIncrementIds rows (at " +
          "most one per held row per scan partition)")(LocalRows.collectPerPartition)
        .iterator.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
    }

    // 5. the decision, then the sidecar and the append
    val fId = schema.fieldIndex(g.id)
    val admitted = unmatched.filterNot(r =>
      best.get(r.getLong(fId)).exists(_._2 >= g.threshold))
    appendBatch.filter(_ => admitted.nonEmpty).foreach { b =>
      val frame = LocalRows.frame(spark, schema, admitted)
      val source = Map(sc.id -> col(g.id), sc.batch -> lit(b)) ++
        g.exactKey.map(k => k.stored -> col(k.held))
      appendSideFile(g.root, sc.sub, frame.select(sc.schema.fields.toIndexedSeq
        .map(f => source(f.name).cast(f.dataType).as(f.name)): _*))
      append(frame)
    }
    (schema, admitted, best)
  }

  /** The best (candidate id, score) per held id of (held id, candidate
    * id, score) rows: the highest score, then the smallest candidate id
    * — the top-1 order of every search. */
  private def top1(rows: Iterator[(Long, Long, Long)]): Map[Long, (Long, Long)] =
    rows.foldLeft(Map.empty[Long, (Long, Long)]) { case (m, (k, n, score)) =>
      m.updated(k, m.get(k).filter { case (n0, s0) =>
        s0 > score || s0 == score && n0 < n }.getOrElse((n, score)))
    }

  /** Lifecycle bracket for a mutation run against a pristine cached
    * index: copy, run, ALWAYS reclaim the copy (the four streaming
    * mutation loops each hand-rolled this — review finding). */
  def withMutableCopy[T](basePath: String)(f: String => T): T = {
    val idx = freshMutableCopy(basePath)
    try f(idx)
    finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(idx))
  }

  /** Delete parquet files under `subs` that the committed snapshot
    * does not list — the superseded files a previous maintenance
    * event RETAINED for its in-flight readers, and the orphans of a
    * write that crashed before its commit — at the next maintenance
    * entry (the one-interval retention bound). */
  def reclaimUnmanifested(root: Path, subs: Seq[String]): Unit = {
    val live = snapshot(root).toSet
    def liveUnder(prefix: String): Boolean =
      live.exists(_.startsWith(prefix + "/"))
    subs.map(root.resolve).filter(Files.isDirectory(_)).foreach { d =>
      if (!liveUnder(root.relativize(d).toString))
        // wholly dead side table (a folded-away delta/, an applied
        // tombstones/): everything in it — superseded parquet plus
        // the committer's _SUCCESS/.crc residue — goes at once
        deleteDir(d)
      else {
        parquetFiles(d).filterNot(f => live(root.relativize(f).toString))
          .foreach { f =>
            Files.deleteIfExists(f)
            // the local-FS checksum shadow of a reclaimed file
            Files.deleteIfExists(f.resolveSibling(
              "." + f.getFileName.toString + ".crc"))
          }
        // drop subtree dirs with no live files (a fully-deleted
        // cell partition), residue included — bottom-up
        scala.util.Using.resource(Files.walk(d))(
          _.iterator().asScala.toSeq).reverse
          .filter(p => p != d && Files.isDirectory(p) &&
            !liveUnder(root.relativize(p).toString))
          .foreach(deleteDir)
      }
    }
  }

  // ---- the one compaction step --------------------------------------------

  /** One sub-table's part of a [[compact]]: `rows` replace the snapshot
    * files `removed` of `sub`, written as one file, or hive-partitioned
    * by `partitionBy` with one file per partition value. */
  final case class Rewrite(sub: String, removed: Seq[Path], rows: DataFrame,
                           partitionBy: Option[String] = None)

  /** The COMPACTION step of both families: one staged rewrite, one swap.
    *  1. Maintenance entry: reclaim what the previous maintenance event
    *     retained under `subs` ([[reclaimUnmanifested]]) and sweep every
    *     dot-staging dir a crashed compaction left at the root.
    *  2. Write every rewrite's `rows` into ONE fresh dot-staging dir,
    *     then move the staged files into their sub-table dirs under
    *     fresh `compact_<tag>_<i>.parquet` names ([[stageRewrites]]).
    *  3. ONE [[commitSwap]]: every rewrite's `removed` out, the moved
    *     files in, every file of `dropSubs` out (a folded delta,
    *     applied tombstones). Skipped when there is nothing to rewrite
    *     or drop.
    * Crash ordering: the bytes are complete before a file moves, and
    * the manifest names them only at the swap, so a crash anywhere
    * leaves snapshot N; the staging dir and moved-but-unlisted files go
    * at the next entry. The superseded files stay on disk for
    * snapshot-N readers until that entry too. */
  def compact(root: Path, subs: Seq[String], rewrites: Seq[Rewrite],
              dropSubs: Seq[String] = Nil): Unit = {
    reclaimUnmanifested(root, subs)
    scala.util.Using.resource(Files.list(root))(_.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        Files.isDirectory(p) && n.startsWith(".") && n != RebuildStageDir
      }.toSeq).foreach(deleteDir)
    if (rewrites.nonEmpty || dropSubs.exists(snapshotFiles(root, _).nonEmpty))
      commitSwap(root, rewrites.flatMap(_.removed),
        stageRewrites(root, rewrites), dropSubs)
  }

  /** Step 2 of [[compact]] without its commit: the moved files, which
    * the snapshot does not list yet. */
  private[graft] def stageRewrites(root: Path, rewrites: Seq[Rewrite]): Seq[Path] = {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = root.resolve(".compact_" + tag)
    val staged = rewrites.zipWithIndex.map { case (rw, i) =>
      val dir = staging.resolve(i.toString)
      rw.partitionBy.fold(rw.rows.coalesce(1).write)(p =>
        rw.rows.repartition(col(p)).write.partitionBy(p)).parquet(dir.toString)
      (dir, root.resolve(rw.sub))
    }
    val moved = staged.flatMap { case (dir, sub) =>
      parquetFiles(dir).map(f => (f, sub.resolve(dir.relativize(f.getParent).toString)))
    }.zipWithIndex.map { case ((f, destDir), i) =>
      Files.createDirectories(destDir)
      Files.move(f, destDir.resolve(s"compact_${tag}_$i.parquet"))
    }
    deleteDir(staging)
    moved
  }

  private def deleteDir(d: Path): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)

  // ---- the maintenance driver ----------------------------------------------

  /** Dot-prefixed rebuild staging dir inside an index root — invisible
    * to every scan and outside every snapshot sub-table. */
  private val RebuildStageDir = ".rebuild_live"

  /** Stage a rebuild's inputs under the root's staging dir unless a
    * staging is already committed there: `stage` writes the staging
    * COMPLETELY (adding bytes only — nothing of the index is touched),
    * then the `_STAGED_OK` marker, holding the meta's [[epoch]],
    * commits it. An uncommitted staging is restarted from scratch.
    * Returns the dir. */
  private[graft] def stageRebuild(root: Path, meta: Drift)(stage: Path => Unit): Path = {
    val dir = root.resolve(RebuildStageDir)
    val marker = dir.resolve("_STAGED_OK")
    if (!Files.isRegularFile(marker)) {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      Files.createDirectories(dir)
      stage(dir)
      Files.write(marker, epoch(meta).getBytes(StandardCharsets.UTF_8))
    }
    dir
  }

  /** MAINTENANCE driver of both families — the production loop's one
    * entry point for keeping an index healthy. `meta` is the family's
    * current meta: [[needsRebuild]] on it decides, and its [[epoch]]
    * stamps the staging. Each family supplies only its own steps:
    *  - `stage(dir)` writes the rebuild's inputs into the staging,
    *    including the sidecars a build clears ([[stageSidecar]]);
    *  - `build(dir)` rebuilds the index from the staging; its final
    *    meta write is the COMMIT POINT (it resets the drift counters);
    *  - `restore(dir)` puts the staged sidecars back;
    *  - `compact` runs the family's compaction when its cadence is due
    *    and returns what it merged (0 = nothing due).
    *
    * Crash ordering: the staging ADDS bytes only, the build tears the
    * old layout down only after the staging's marker commits it, and
    * the staging is dropped LAST. A crash anywhere re-enters safely:
    *  - marker + drift still flagged + same epoch → the rebuild RESUMES
    *    from the staging, never from the possibly-damaged index
    *    (round-12 self-review finding);
    *  - marker + a different epoch → mutations landed after the
    *    staging was cut, so resuming would drop them: restage;
    *  - marker + drift reset → the rebuild committed: finish its
    *    restore, reclaim the staging.
    * A rebuild requires reads to quiesce; compaction does not (see the
    * module header). */
  def maintain(root: Path, meta: Drift)(
      stage: Path => Unit, build: Path => Unit, restore: Path => Unit)(
      compact: => Int): Maintenance = {
    val rebuild = needsRebuild(meta)
    val dir = root.resolve(RebuildStageDir)
    val marker = dir.resolve("_STAGED_OK")
    if (Files.isRegularFile(marker)) {
      if (!rebuild) restore(dir)
      if (!rebuild || new String(Files.readAllBytes(marker),
          StandardCharsets.UTF_8) != epoch(meta))
        org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
    if (!rebuild) return Maintenance(rebuilt = false, compact)
    build(stageRebuild(root, meta)(stage))
    restore(dir)
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    Maintenance(rebuilt = true, 0)
  }

  /** Copy the snapshot's `sub` files into a rebuild staging: the build
    * clears every mutable sub-table, and a sidecar must outlive it. */
  def stageSidecar(root: Path, stageDir: Path, sub: String): Unit =
    snapshotFiles(root, sub).foreach { f =>
      val dst = Files.createDirectories(stageDir.resolve(sub))
      Files.copy(f, dst.resolve(f.getFileName.toString))
    }

  /** Append a staged sidecar's rows that `keep` retains back into the
    * rebuilt index, committed into its fresh snapshot. A crash-retried
    * restore appends duplicate rows, which collapse in every reader
    * (both sidecars are sets). */
  def restoreSidecar(spark: SparkSession, root: Path, stageDir: Path,
                     sub: String)(keep: DataFrame => DataFrame): Unit = {
    val staged = stageDir.resolve(sub)
    if (Files.isDirectory(staged))
      appendSideFile(root, sub, keep(spark.read.parquet(staged.toString)))
  }
}
