package graft.operators

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.LocalRows
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** PERSISTED IVF (inverted-file) ANN index — the embedding-store twin
  * of [[SignatureIndex]]: at 100 TB an embedding corpus is assigned to
  * coarse centroid cells and written ONCE, cell-partitioned, and every
  * subsequent search pays only probe-side assignment plus a
  * partition-PRUNED scan of its nProbe cells — never a corpus scan,
  * never a corpus shuffle. The live queries (`ann_ivf_topk` /
  * `ann_ivf_trained`) re-assign the whole corpus per invocation; this
  * closes that gap the way SignatureIndex closed re-hashing for the
  * dedup family.
  *
  * Reference surface: the similarity-ranked retrieval queries
  * (`vpe/data/Neo4jConnector.java:752-779` top-k by similarity;
  * `alg/pedestrian/reid/` rankers) — re-expressed as the standard IVF
  * layout every production vector store uses.
  *
  * Layout under the index path:
  *  - `centroids/` — (cid, qc): the FROZEN coarse quantizer (trained
  *    by the caller — [[Similarity.kmeansQuantized]] for oracle-exact
  *    small cell counts, [[kmeansBulk]] for corpus-sized ones);
  *  - `cells/` — the corpus, hive-partitioned by `cell`: every input
  *    column (vec_id, payload/metadata columns, qv) rides along, so
  *    filtered search reads metadata predicates from the same pruned
  *    scan;
  *  - `delta/`, `tombstones/`, `gapp_batches/` — the append, delete
  *    and gate-append side tables;
  *  - `_MANIFEST` — the layout snapshot listing the files of `cells/`
  *    and the three side tables; every read resolves them through it
  *    ([[IndexLifecycle]]);
  *  - `_INDEX_META` — nCells/dims/nVecs/appendedVecs stamp.
  *
  * Probe scale shape (audited in AnnIndexSpec):
  *  1. probes assign to their nProbe nearest cells against the
  *     driver-held centroid table (a pure projection — no join, no
  *     shuffle);
  *  2. the distinct probed cell ids (bounded by nCells, control-plane
  *     by construction: the centroid table itself is driver-held)
  *     become literal PartitionFilters on the `cells/` scan — only
  *     nProbe-worth of partition directories is ever read;
  *  3. the pruned candidates join the BROADCAST probe-cell frame on
  *     `cell` (probe side is increment-class by contract) and rank by
  *     exact quantized dot product with a partial top-k below the one
  *     probe-keyed exchange.
  *
  * Two assignment kernels, dispatch by centroid count, spec-pinned
  * identical: ≤ [[InlineCellsMax]] cells inline as Catalyst
  * struct-argmin literals (whole-stage-codegen'd, hash-matches the
  * unrolled SQL oracle); above that the literal tree would explode
  * codegen (the PQ lesson: ~10^5-node plans pay more to compile than
  * to run), so a mapPartitions primitive-loop argmin takes over — the
  * genuine per-partition imperative case, one broadcast centroid
  * matrix per executor.
  */
object AnnIndex {

  /** On-disk format generation (2: the manifest-read layout); the
    * build-once cache dir names carry it, so an index written under
    * another generation is rebuilt, not read. */
  private[graft] val FormatVersion = 2

  /** Largest centroid count planned as inline Catalyst literals; above
    * this the bulk mapPartitions kernel is dispatched. */
  val InlineCellsMax = 64

  /** Largest probed-cell set planned as a literal `IN` chain; above
    * this the cell predicate becomes ONE `array_contains` against a
    * single array literal — same expression-tree-size discipline as
    * [[InlineCellsMax]] (the PQ lesson: a √N-literal chain is a
    * ~10^5-node plan at 10^10 vectors, paying more to plan than to
    * run). `array_contains` over a foldable array still references
    * only the partition column, so it rides the scan as a
    * PartitionFilter and prunes directories exactly like the literal
    * chain (spec-pinned). When the probe set covers EVERY cell (the
    * k-NN-join case) the predicate is skipped outright — it would
    * prune nothing and still be planned. */
  val IsinCellsMax = 64

  /** `pqM`/`pqSubDim` > 0 mark a PQ-coded layout ([[buildAnnIndex]]
    * with codebooks): cells carry an M-code `codes` column beside the
    * full vector, probes may run the compressed ADC path
    * ([[probeAnnIndexPq]]). 0 = the plain full-vector layout. */
  case class Meta(nCells: Int, dims: Int, nVecs: Long,
                  appendedVecs: Long = 0L, deletedVecs: Long = 0L,
                  pqM: Int = 0, pqSubDim: Int = 0) extends IndexLifecycle.Drift {
    def live: Long = nVecs
    def appended: Long = appendedVecs
    def deleted: Long = deletedVecs
  }

  /** Largest total codeword count (M × K) encoded with the inline
    * Catalyst argmin expression ([[Similarity.pqEncode]] — the
    * oracle-exact plan); above it the bulk mapPartitions kernel takes
    * over (the [[InlineCellsMax]] dispatch applied to codebooks: a
    * corpus-grade K=256 book is a ~10^5-node literal tree that pays
    * more to plan than to run). The oracle fixture (M=8, K=16) sits
    * exactly at the threshold, so every oracle plan is unchanged. */
  val InlinePqCodewordsMax = 128

  /** Gate-side probe-width POLICY for duplicate-admission gates riding
    * this index (the streaming embed gate): nProbe for a gate whose
    * job is REJECTING near-duplicates, pinned the way capPop and
    * [[IndexLifecycle.RebuildFraction]] are. Measured (SCALING.md
    * §4.18, planted duplicate class on the √N-cell 1M/2M/8M ladder
    * indexes): an EXACT re-ingest assigns to its original's cell and is caught at
    * ANY nProbe ≥ 1 (admit-error 0 at every width and every corpus
    * size); misses only appear when perturbation pushes a probe
    * across a cell boundary, and at nProbe=16 the worst noise band
    * reads ≤ 0.2% admit-error while probing ≤ 1.6% of the cells.
    * Generic recall@10 at the same width is 0.94 (§4.17) — the
    * gate's duplicate class does strictly better because duplicates
    * are CLOSE, and close probes land in or next to their source's
    * cell. */
  val GateNProbe = 16

  /** The scheduled-rebuild signal ([[IndexLifecycle.needsRebuild]]).
    * Appends never lose recall versus the same frozen quantizer
    * (assignment is a pure deterministic function of the centroid
    * table), but the quantizer itself drifts from the data: cells grow
    * imbalanced and probe selectivity decays (measured at the threshold
    * in SCALING.md §4.17: recall unchanged, only balance drifts). */
  def needsRebuild(meta: Meta): Boolean = IndexLifecycle.needsRebuild(meta)

  /** Compaction-cadence predicate ([[IndexLifecycle
    * .CompactSmallFilesMax]], measured in SCALING.md §4.19): true once
    * the un-compacted `delta/` side table holds enough part files that
    * the per-file open cost starts dragging the pruned probe path —
    * delta is scanned IN FULL by every probe (its cell predicate is a
    * PushedFilter, not a partition prune), so file COUNT, not bytes,
    * is the trigger. */
  def needsCompaction(path: String): Boolean =
    // delta and tombstone files are scanned by every search, sidecar
    // files by every gate-append trigger: all three accumulate exactly
    // the per-file drag the cadence bounds. Counted from the snapshot:
    // a previous compaction's retained-for-readers files no longer
    // cost anything.
    IndexLifecycle.needsCompaction(Seq("delta", "tombstones",
      GateAppendBatchesDir).map(files(path, _).size).sum)

  // ---- assignment kernels ----------------------------------------------

  /** Kernel dispatcher: inline Catalyst argmin for small centroid
    * tables, primitive bulk loop otherwise. Input must carry a `qv`
    * array<long> column; output adds `cell`. */
  def assign(vecsQ: DataFrame, cents: Seq[(Long, Array[Long])]): DataFrame =
    if (cents.size <= InlineCellsMax) Similarity.assignCellsQ(vecsQ, cents)
    else assignBulk(vecsQ, cents)

  /** Bulk argmin assignment: per-partition primitive loop over a
    * broadcast centroid matrix. Bit-identical tie-break to
    * [[Similarity.assignCellsQ]] (smallest distance, then smallest
    * cid; centroids are iterated in ascending-cid order with a strict
    * `<` update). Spec-pinned equal to the inline kernel. */
  private[graft] def assignBulk(vecsQ: DataFrame,
                                cents: Seq[(Long, Array[Long])]): DataFrame = {
    require(cents.nonEmpty, "assignBulk: empty centroid set")
    val spark = vecsQ.sparkSession
    val sorted = cents.sortBy(_._1).toArray
    val bc = spark.sparkContext.broadcast(sorted)
    val inSchema = vecsQ.schema
    val outSchema = StructType(inSchema.fields :+ StructField("cell", LongType))
    val qvIdx = inSchema.fieldIndex("qv")
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    vecsQ.mapPartitions { rows =>
      val cs = bc.value
      rows.map { r =>
        val qv = r.getSeq[Long](qvIdx).toArray
        Row.fromSeq(r.toSeq :+ Similarity.argminQ(qv, 0, qv.length, cs))
      }
    }(enc)
  }

  /** Integer-exact Lloyd over the bulk kernel — the trainer for
    * corpus-sized centroid counts where [[Similarity.kmeansQuantized]]'s
    * inline literal tree is unplannable. Same update arithmetic
    * (vector_sum_long partial aggregation, truncating division,
    * empty cells keep their previous centroid). */
  def kmeansBulk(vecsQ: DataFrame, seeds: Seq[(Long, Array[Long])],
                 iters: Int): Seq[(Long, Array[Long])] = {
    var cents = seeds.sortBy(_._1)
    for (_ <- 0 until iters) {
      val sums = assignBulk(vecsQ.select(col("qv")), cents)
        .groupBy(col("cell"))
        .agg(org.apache.spark.sql.graft.VectorMeanAgg
          .vector_sum_long(col("qv")).as("sn"))
        .select(col("cell"), col("sn.sums"), col("sn.n"))
        .collect()
      val updated = sums.map { r =>
        val s = r.getSeq[Long](1)
        val n = r.getLong(2)
        r.getLong(0) -> s.map(_ / n).toArray
      }.toMap
      cents = cents.map { case (cid, qc) => (cid, updated.getOrElse(cid, qc)) }
    }
    cents
  }

  /** Add the M-code `codes` column (array<int>) from a `qv` column —
    * the PQ encode pass. Dispatch by total codeword count
    * ([[InlinePqCodewordsMax]]): inline Catalyst argmin below (the
    * exact [[Similarity.pqEncode]] the live ann_pq_topk query runs),
    * primitive bulk loop above — spec-pinned identical. */
  private[graft] def encodePq(df: DataFrame,
                              books: Seq[Seq[(Long, Array[Long])]],
                              subDim: Int): DataFrame =
    if (books.map(_.size).sum <= InlinePqCodewordsMax)
      df.withColumn("codes",
        Similarity.pqEncode(col("qv"), books, subDim).cast("array<int>"))
    else encodePqBulk(df, books, subDim)

  /** Bulk PQ encode: per-partition primitive argmin over broadcast
    * codebooks. Bit-identical tie-break to [[Similarity.pqEncode]]
    * (smallest distance, then smallest code id; books iterated in
    * ascending-cid order with strict `<`). */
  private[graft] def encodePqBulk(df: DataFrame,
                                  books: Seq[Seq[(Long, Array[Long])]],
                                  subDim: Int): DataFrame = {
    val spark = df.sparkSession
    val sorted = books.map(_.sortBy(_._1).toArray).toArray
    val bc = spark.sparkContext.broadcast(sorted)
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+
      StructField("codes", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType)))
    val qvIdx = inSchema.fieldIndex("qv")
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      val bs = bc.value
      rows.map { r =>
        val qv = r.getSeq[Long](qvIdx).toArray
        val codes = new Array[Int](bs.length)
        var m = 0
        while (m < bs.length) {
          codes(m) = Similarity.argminQ(qv, m * subDim, subDim, bs(m)).toInt
          m += 1
        }
        Row.fromSeq(r.toSeq :+ codes.toSeq)
      }
    }(enc)
  }

  /** Driver-held PQ codebooks of a coded index — (m, cid, qc) parquet
    * under `books/`, memoized by content fingerprint like
    * [[readCentroids]]. */
  def readBooks(spark: SparkSession,
                path: String): Seq[Seq[(Long, Array[Long])]] =
    booksMemo.get(path,
      graft.storage.ArtifactCache.fingerprint(Paths.get(path, "books")))(
      booksFrom(spark.read.parquet(s"$path/books")))

  /** (m, cid, qc) codebook rows as per-subspace, cid-sorted books. */
  private[graft] def booksFrom(df: DataFrame): Seq[Seq[(Long, Array[Long])]] =
    df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(t => (t._2, t._3)).sortBy(_._1).toSeq)

  private val booksMemo =
    new IndexLifecycle.FingerprintMemo[Seq[Seq[(Long, Array[Long])]]]()

  // ---- build / append / probe ------------------------------------------

  /** Build (or rebuild) the index at `path` from a quantized corpus
    * frame (vec_id + any payload columns + qv) and a trained centroid
    * table. One corpus-sized assignment pass, one partitioned write;
    * single-writer contract like the signature index (an index build
    * is a scheduled corpus event). The `repartition(cell)` before the
    * partitioned write keeps file counts at one file per cell per
    * holding task instead of tasks × cells. */
  def buildAnnIndex(vecsQ: DataFrame, cents: Seq[(Long, Array[Long])],
                    path: String,
                    pqBooks: Option[Seq[Seq[(Long, Array[Long])]]] = None): Meta = {
    require(cents.nonEmpty, "buildAnnIndex: empty centroid set")
    val spark = vecsQ.sparkSession
    val root = Paths.get(path)
    Files.createDirectories(root)
    // the overwrites below replace cells/ and centroids/; a stale
    // delta/ would rank-duplicate probe candidates (found by the oracle
    // gate), and a stale books/ under a now-plain layout would
    // desynchronize from meta (the PQ source of truth)
    IndexLifecycle.resetLayout(root, Seq("delta", "tombstones",
      GateAppendBatchesDir) ++ (if (pqBooks.isEmpty) Seq("books") else Nil))
    writeCents(spark, cents, s"$path/centroids")
    // PQ-coded layout: the M-code `codes` column rides BESIDE the full
    // vector in the SAME cell table — parquet is columnar, so the ADC
    // probe path reads only the code pages (the ~dims·8/M compression
    // that makes billion-vector probe IO affordable) while the exact
    // re-rank / full-vector consumers read `qv` for the bounded rows
    // they touch. One table means append/delete/compact/maintain are
    // layout-agnostic (they move whole rows).
    pqBooks.foreach { books =>
      // the ADC LUT is positional (lut[code+1]): codeword ids must be
      // dense 0..K-1 per subspace — Lloyd never changes ids, so this
      // only constrains the SEEDS; fail loudly rather than mis-index
      books.foreach(b => require(
        b.map(_._1).sorted == (0L until b.size.toLong),
        "buildAnnIndex: PQ codebook ids must be dense 0..K-1 per subspace"))
      writeBooks(spark, books, s"$path/books")
    }
    val dims = cents.head._2.length
    val pqSubDim = pqBooks.map(b => dims / b.size).getOrElse(0)
    val assigned0 = assign(vecsQ, cents)
    val assigned = pqBooks.fold(assigned0)(b =>
      encodePq(assigned0, b, pqSubDim))
    assigned
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    // fresh layout snapshot: the build wiped every side table, so the
    // manifest is exactly the cells listing
    IndexLifecycle.commitFresh(root, Seq("cells"))
    val meta = Meta(cents.size, dims,
      nVecs = IndexLifecycle.parquetRowCount(spark, files(path, "cells")),
      pqM = pqBooks.map(_.size).getOrElse(0), pqSubDim = pqSubDim)
    writeMeta(root, meta)
    meta
  }

  /** APPEND an increment to an existing index — the between-rebuilds
    * lifecycle: new embeddings are assigned against the FROZEN
    * centroid table (increment-sized work, nothing corpus-sized read
    * or written) and land in the UNPARTITIONED `delta/` side table,
    * carrying their assigned `cell` as a plain column — the LSM shape
    * (base + delta). Writing straight into the cell partitions was
    * measured append-fan-out-bound: a 10k-vector append at the 16M
    * rung (4000 cells) cost 65 s creating ~one tiny file per touched
    * cell, 2.7× the 8M rung for identical input (SCALING.md §4.17) —
    * the file-creation count, not the data, was the cost. A delta
    * append writes increment-partition-count files regardless of
    * nCells; probes read delta through the same cell predicate
    * (pushed to parquet — delta is increment-class until
    * [[compactCells]] folds it into the partitioned base).
    *
    * Recall contract: a post-append probe returns exactly what a fresh
    * build OVER THE SAME centroids would (assignment is deterministic
    * in the frozen quantizer) — only quantizer STALENESS drifts,
    * bounded by [[needsRebuild]].
    *
    * Partial-failure contract (single-writer) — ATOMIC since the
    * manifest era (the round-13 second review pass retired the old
    * "landed delta files are immediately probed" wording this
    * docstring used to carry): the append is visible all-or-nothing
    * at the snapshot commit. A crash BEFORE the commit leaves the
    * written files as unlisted orphans — probes never see them, the
    * retry re-appends the rows into fresh files, and the orphans
    * reclaim at the next maintenance entry. A caller MUST treat a
    * failed append as not-applied and retry (duplicate-safe: even a
    * doubly-committed retry collapses at every consumer's `vec_id`
    * dedup — probes/k-NN joins dedupe the delta scan,
    * [[compactCells]]' fold dedupes before folding). Requires
    * `vec_id` unique within the increment. Meta counters may
    * double-count a retried append — conservative: the only effect
    * is an EARLIER [[needsRebuild]]. */
  def appendToAnnIndex(newVecsQ: DataFrame, path: String): Meta = {
    val spark = newVecsQ.sparkSession
    val root = Paths.get(path)
    val before = readMeta(path)
    // a parquet append with a different column set would silently fork
    // the stored schema and surface as null payloads at probe time.
    // On a PQ-coded layout the increment arrives WITHOUT codes (they
    // are derived data, encoded here against the frozen books — the
    // same frozen-artifact contract as the cell assignment).
    val incoming = newVecsQ.schema.fieldNames.toSet
    // a fully-deleted-and-reclaimed index has no live schema source —
    // the reviving increment re-seeds it (None arm)
    cellsScanOpt(spark, path).orElse(deltaScanOpt(spark, path))
      .map(_.schema.fieldNames.toSet - "cell" -
        (if (before.pqM > 0) "codes" else ""))
      .foreach(existing => require(incoming == existing,
        s"appendToAnnIndex: increment columns $incoming do not match " +
          s"the indexed cell columns $existing at $path"))
    val cents = readCentroids(spark, path)
    val assigned0 = assign(newVecsQ, cents)
    // cached for the (conditional) tombstone-clash probe below + the
    // write; the appended-row COUNT is read from the new part files'
    // footers after the write (round-13 opt: one fewer scheduled job
    // per append — the gate→append loops pay this per trigger)
    val assigned = (if (before.pqM > 0)
      encodePq(assigned0, readBooks(spark, path), before.pqSubDim)
    else assigned0).cache()
    // a TOMBSTONED id stays deleted until the next rebuild (the
    // search anti-join and the compaction fold would both destroy the
    // re-appended row SILENTLY — the one failure mode the lifecycle
    // module forbids), so re-using one is a loud error, enforced at
    // increment cost: use a fresh id or rebuild first
    IndexLifecycle.tombstones(spark, root, "vec_id").foreach { case (ts, bytes) =>
      require(!IndexLifecycle.anyRow(IndexLifecycle.boundedIdJoin(
        assigned, ts, "vec_id", bytes, "left_semi")),
        s"appendToAnnIndex: increment re-uses tombstoned vec_ids at " +
          s"$path — deleted ids stay deleted until the next rebuild")
    }
    // snapshot commit of EXACTLY the written files (a full relist
    // would resurrect a previous compaction's retained folded delta —
    // round-13 review finding: duplicate probe candidates); the
    // commit's own listing diff also yields the appended-row count
    // from the new files' footers (no cache+count job, no second walk)
    val added = IndexLifecycle.commitAddedWrite(root, "delta") {
      assigned.write.mode("append").parquet(s"$path/delta")
    }
    assigned.unpersist()
    val nNew = IndexLifecycle.parquetRowCount(spark, added)
    val meta = before.copy(nVecs = before.nVecs + nNew,
      appendedVecs = before.appendedVecs + nNew)
    writeMeta(root, meta)
    meta
  }

  /** DELETE vectors from the index by id — the takedown/retention
    * lifecycle, the ANN instance of [[IndexLifecycle.deleteIds]]:
    * the ids land in the UNPARTITIONED `tombstones/` side table (the
    * delta pattern applied to removals — nothing corpus-sized is read
    * or written at delete time) and every search anti-joins them out
    * until [[compactCells]] physically rewrites the affected cells
    * and drops the tombstones. Deletes are visible to the NEXT probe
    * immediately.
    *
    * Contracts, uniform with the append side: `ids` is
    * increment-class per call; the CUMULATIVE tombstone set joins
    * every consumer through [[IndexLifecycle.boundedIdJoin]]
    * (broadcast below the session threshold, size-driven SHUFFLE_HASH
    * above — the drift bound is advisory, so no code path bets an OOM
    * on it). ATOMIC since the manifest era: the delete is visible
    * all-or-nothing at the snapshot commit — a crash before it leaves
    * the tombstone file an unlisted orphan (probes unaffected), and
    * the caller MUST treat the delete as not-applied and retry
    * (duplicate-safe). Deleting a never-indexed id is a TRUE no-op —
    * the increment is semi-joined against the slim vec_id column of
    * base+delta first (one maintenance-priced columnar scan), so
    * foreign ids touch neither the side table, the drift counters nor
    * the meta file (round-11 What's-wrong #2: they used to skew nVecs
    * below the live count). Deletes count toward [[needsRebuild]]
    * drift — removals unbalance the frozen quantizer's cells exactly
    * like arrivals. */
  def deleteFromAnnIndex(ids: DataFrame, path: String): Meta = {
    val before = readMeta(path)
    // nothing live (None): every delete is a foreign-id TRUE no-op
    val nDel = IndexLifecycle.deleteIds(Paths.get(path), ids, "vec_id",
      baseUnionDelta(ids.sparkSession, path)(_.select(col("vec_id"))))
    val meta = before.copy(nVecs = before.nVecs - nDel,
      deletedVecs = before.deletedVecs + nDel)
    if (nDel > 0) writeMeta(Paths.get(path), meta)
    meta
  }

  /** The snapshot's files of one sub-table. */
  private def files(path: String, sub: String): Seq[Path] =
    IndexLifecycle.snapshotFiles(Paths.get(path), sub)

  /** A side table's snapshot files; None when it lists none. */
  private def sideFiles(path: String, sub: String): Option[Seq[Path]] =
    Some(files(path, sub)).filter(_.nonEmpty)

  /** The base cells scan over the snapshot's cell files (the
    * `basePath` option keeps hive-partition `cell` inference + pruning
    * over an explicit file list). None = a snapshot listing ZERO cell
    * files — the fully-deleted degenerate state: throwing there made
    * the state UNRECOVERABLE (review finding of round 13's second
    * pass: rebuild and re-append both read through this scan), so
    * callers compose with the delta instead: an all-delta index
    * probes fine, and only a base-less AND delta-less search fails
    * loudly. */
  private def cellsScanOpt(spark: SparkSession,
                           path: String): Option[DataFrame] =
    sideFiles(path, "cells").map(
      IndexLifecycle.snapshotScan(spark, _, Some(Paths.get(path, "cells"))))

  /** The un-compacted delta's scan; None when the snapshot lists none. */
  private def deltaScanOpt(spark: SparkSession,
                           path: String): Option[DataFrame] =
    sideFiles(path, "delta").map(IndexLifecycle.snapshotScan(spark, _))

  /** The live rows' two sources — the base cells and the un-compacted
    * delta — each mapped by `f` and unioned; None when the snapshot
    * lists neither. `dedupeDelta` collapses the delta on `vec_id` (the
    * collapse point that makes a RETRIED append duplicate-safe). */
  private def baseUnionDelta(spark: SparkSession, path: String)(
      f: DataFrame => DataFrame,
      dedupeDelta: Boolean = false): Option[DataFrame] =
    (cellsScanOpt(spark, path).map(f) ++
      deltaScanOpt(spark, path).map { d =>
        if (dedupeDelta) f(d).dropDuplicates("vec_id") else f(d)
      }).reduceOption(_ unionByName _)

  /** Top-k search against the persisted index. `probesQ` must carry
    * (probe_id, pqv) and be broadcast-class (an increment of queries,
    * not a corpus). `candidateFilter` is any predicate over the cell
    * payload columns — it rides the SAME pruned scan (filtered ANN:
    * pushed to parquet next to the partition filter, no second pass).
    * Self-matches (candidate vec_id == probe_id) are excluded, same
    * contract as every live ANN query. */
  def probeAnnIndex(spark: SparkSession, path: String, probesQ: DataFrame,
                    nProbe: Int, k: Int,
                    candidateFilter: Column = lit(true)): DataFrame =
    searchCells(spark, path,
      broadcast(materializedProbeCells(spark, path, probesQ, nProbe)),
      candidateFilter, k, pruneCells = true)

  /** The probe side of [[probeAnnIndex]] as a driver-LOCAL relation.
    * The probe side is broadcast-class BY CONTRACT and the search
    * broadcasts it anyway (a broadcast collects to the driver first),
    * so the probe cells are materialized ONCE: the upstream probe plan
    * runs a single time, the distinct-cell collect for partition
    * pruning reads local rows, and nothing registers with the
    * CacheManager (round-11 ADVICE: the cached frame was never
    * unpersisted, and the streaming embed gate called this once per
    * micro-batch — a long-lived driver accumulated one cache entry per
    * trigger without bound). Split out (round-13 opt) so a mutation
    * loop probing a FIXED probe set between triggers evaluates the
    * probe plan once per invocation instead of once per trigger — the
    * cells depend only on the probes and the centroid table, so the
    * caller must re-materialize after a maintenance REBUILD (retrained
    * centroids; `Maintenance.rebuilt` is the signal) and is unaffected
    * by compaction (cell layout moves, assignments don't). */
  def materializedProbeCells(spark: SparkSession, path: String,
                             probesQ: DataFrame, nProbe: Int): DataFrame = {
    val pc = probeCellsOf(probesQ, readCentroids(spark, path), nProbe)
    spark.createDataFrame(
      java.util.Arrays.asList(pc.collect(): _*), pc.schema)
  }

  /** [[probeAnnIndex]] over ALREADY-MATERIALIZED probe cells
    * ([[materializedProbeCells]]) — reads the index state fresh per
    * call, so per-trigger probes between mutations see every delete/
    * append immediately; only the probe-side evaluation is reused. */
  def probeAnnIndexCells(spark: SparkSession, path: String,
                         probeCells: DataFrame, k: Int,
                         candidateFilter: Column = lit(true)): DataFrame =
    searchCells(spark, path, broadcast(probeCells), candidateFilter, k,
      pruneCells = true)

  /** k-NN JOIN against the persisted index: EVERY input vector probes
    * for its top-k — the k-NN-graph build a semantic-dedup or
    * clustering pass runs over the whole corpus. Same cell-local
    * search as [[probeAnnIndex]] with the opposite probe-side
    * contract: the probe batch is corpus-class, so the cell join
    * SHUFFLES both sides on `cell` (pairs still form only inside
    * shared cells — never all-pairs; pair work is N × nProbe ×
    * N/nCells, the inherent k-NN-graph cost) instead of broadcasting
    * a frame that would not fit. Probing ~all cells also means cell
    * PRUNING is skipped outright (`pruneCells = false`): the corpus
    * contributes one full scan — the floor for a pass that must rank
    * every vector — and collecting the distinct probed cells would
    * cost a SECOND corpus-sized assignment pass to prune ~nothing
    * (round-10 ADVICE: exactly that double pass ran). */
  def knnJoinIndex(spark: SparkSession, path: String, vecsQ: DataFrame,
                   nProbe: Int, k: Int,
                   candidateFilter: Column = lit(true)): DataFrame = {
    val cents = readCentroids(spark, path)
    val probesQ = vecsQ.select(col("vec_id").as("probe_id"),
      col("qv").as("pqv"))
    val probeCells = probeCellsOf(probesQ, cents, nProbe)
    searchCells(spark, path, probeCells, candidateFilter, k,
      pruneCells = false)
  }

  /** Shared search tail: prune the cells scan to the probed cell ids
    * (when `pruneCells` — the increment-probe contract; the k-NN join
    * probes every cell and skips pruning outright), union the
    * un-compacted delta under the same predicate, filter, and rank.
    * The probe frame arrives with or without a broadcast hint — the
    * two public contracts above.
    *
    * Predicate form ladder (see [[IsinCellsMax]]): ≤ the threshold, a
    * literal IN chain (the oracle configs — plans unchanged); above
    * it, ONE `array_contains` against a single array literal (same
    * PartitionFilter pruning, O(1) plan nodes instead of √N); equal to
    * nCells, no predicate at all.
    *
    * The delta scan dedupes on `vec_id` — the collapse point that
    * makes a RETRIED [[appendToAnnIndex]] duplicate-safe (duplicate
    * delta rows are bit-identical, so any survivor is the right one).
    * Delta is increment-class by contract, so the dedup exchange is
    * increment-sized; the corpus-sized base never pays it. */
  private def searchCells(spark: SparkSession, path: String,
                          probeCells: DataFrame, candidateFilter: Column,
                          k: Int, pruneCells: Boolean): DataFrame = {
    // distinct probed cells: bounded by nCells (the centroid table is
    // driver-held already, so this is a control-plane collect)
    val cellPred = Option.when(pruneCells)(cellPredFor(path,
      probeCells.select(col("cell")).distinct().collect().map(_.getLong(0)))).flatten
    val cands = liveCandidates(spark, path, cellPred, candidateFilter)
    Similarity.ivfSearch(cands, probeCells, "vec_id", k)
  }

  /** The cell-pruning predicate of a probe's distinct cells: a
    * partition predicate, so only the probed directories are ever
    * scanned. None when the probe set covers every cell. */
  private def cellPredFor(path: String, cells: Array[Long]): Option[Column] = {
    val cellIds = cells.sorted
    if (cellIds.length >= readMeta(path).nCells) None
    else if (cellIds.length <= IsinCellsMax)
      Some(col("cell").isin(cellIds: _*))
    else Some(array_contains(lit(cellIds), col("cell")))
  }

  /** The LIVE candidate scan every search path reads — base cells
    * (partition-pruned by `cellPred`) ∪ un-compacted delta (same
    * predicate as PushedFilters, deduped on vec_id — the collapse
    * point that makes a RETRIED append duplicate-safe; a top-1 gate,
    * which a duplicate cannot change, skips it), minus the tombstones
    * through the byte-bounded anti, filtered by the caller's payload
    * predicate. Returns ALL stored columns; callers
    * project, and Catalyst prunes the projection down to the parquet
    * scans (on a PQ layout the ADC path therefore reads ONLY the code
    * pages — the compression win is column pruning, not a second
    * table). */
  private def liveCandidates(spark: SparkSession, path: String,
                             cellPred: Option[Column],
                             candidateFilter: Column,
                             dedupeDelta: Boolean = true): DataFrame = {
    // un-compacted appends: increment-class side table. A base-less
    // index (everything deleted + compacted) serves from delta alone
    // — appends REVIVE it.
    val cands0 = baseUnionDelta(spark, path)(
      df => cellPred.fold(df)(p => df.filter(p)), dedupeDelta)
      .getOrElse(throw new IllegalStateException(
        s"index at $path has no live rows (every row deleted and " +
          "compacted away) — rebuild it or append fresh data first"))
    // un-compacted deletes: strategy from the side table's MEASURED
    // bytes (the cumulative set is policy-bounded, not code-bounded,
    // so the join must not assume broadcast-class); physically
    // removed, and this join dropped, at compaction
    IndexLifecycle.withoutTombstones(cands0, Paths.get(path), "vec_id")
      .filter(candidateFilter)
  }

  /** Shortlist width of the compressed PQ probe: ADC survivors per
    * probe that get the exact re-rank. */
  val PqShortlist = 20

  /** COMPRESSED top-k search against a PQ-coded index — the
    * production probe path of a billion-vector store. Stage 1 (the
    * scoring scan, where a probe's bytes live at corpus scale): the
    * pruned-cell scan reads ONLY the M-code `codes` column (parquet
    * column pruning — ~dims·8/M less IO than scoring from full
    * vectors), ranks candidates by asymmetric distance against
    * per-probe lookup tables precomputed driver-side
    * ([[Similarity.pqAdcLut]] — the probe side is increment-class by
    * contract), and keeps the `shortlist` best per probe. Stage 2:
    *
    *  - `exactRerank = true` (default, the ann_pq_topk contract):
    *    the shortlist re-ranks by EXACT L2 from the `qv` column —
    *    one more slim scan of the probed cells, bounded by the
    *    broadcast shortlist join (plus a pushed-down id predicate
    *    when the shortlist fits the [[IsinCellsMax]] plan-size rule).
    *    Honest IO accounting: this pass re-reads the probed cells'
    *    full-vector column, so the PQ win here is the SCORING scan
    *    (compute + bytes) — not total probe bytes;
    *  - `exactRerank = false` (the quantized scale path — the
    *    FAISS-IVFPQ default, refinement optional): ranks ARE the ADC
    *    order, `qv` is never read, total probe IO is the coded scan —
    *    the ~dims·8/M shrink end to end (the ladder rung's subject).
    *
    * Returns (probe_id, rank, candidate_id, l2_dist) — l2_dist is the
    * exact distance, or the ADC distance on the quantized path.
    * Tombstones/delta/exclusions ride the same [[liveCandidates]]
    * scan as every other search. */
  def probeAnnIndexPq(spark: SparkSession, path: String, probesQ: DataFrame,
                      nProbe: Int, k: Int,
                      candidateFilter: Column = lit(true),
                      shortlist: Int = PqShortlist,
                      exactRerank: Boolean = true): DataFrame = {
    val meta = readMeta(path)
    require(meta.pqM > 0,
      s"probeAnnIndexPq: the index at $path is not PQ-coded")
    val cents = readCentroids(spark, path)
    // probe cells + per-probe ADC lookup tables, materialized ONCE
    // into a driver-local relation (the probeAnnIndex CacheManager
    // discipline): bounded by the increment-class probe contract
    val pcRows = probeCellsOf(probesQ, cents, nProbe).collect()
    val (cellPred, shortFrameLazy) =
      pqAdcShortlist(spark, path, pcRows, candidateFilter,
        if (exactRerank) shortlist else k, meta, keepDist = !exactRerank)
    if (!exactRerank) {
      // quantized path: the ADC order IS the ranking; nothing beyond
      // the coded scan is ever read
      val wAdc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id"))
        .orderBy(col("adc_dist").asc, col("candidate_id").asc)
      return shortFrameLazy
        .withColumn("rank", row_number().over(wAdc).cast("long"))
        .select(col("probe_id"), col("rank"), col("candidate_id"),
          col("adc_dist").as("l2_dist"))
    }
    // bounded (nProbes × shortlist): a driver-local relation, so the
    // exact fetch below can push its id filter into the parquet scan
    val short = shortFrameLazy.collect()
    import spark.implicits._
    val shortIds = short.map(_.getLong(1)).distinct.sorted
    val shortFrame = broadcast(
      short.map(r => (r.getLong(0), r.getLong(1))).toSeq
        .toDF("probe_id", "candidate_id"))
    // stage 2: exact re-rank — full vectors fetched for the shortlist
    // rows only: a pushed-down id predicate up to the engine's
    // literal-IN plan-size rule (wider sets rely on the broadcast
    // join alone), always the broadcast join for the probe
    // association
    val fullVecs0 = liveCandidates(spark, path, cellPred, candidateFilter)
      .select(col("vec_id").as("candidate_id"), col("qv"))
    val fullVecs =
      if (shortIds.length <= IsinCellsMax)
        fullVecs0.filter(col("candidate_id").isin(shortIds: _*))
      else fullVecs0
    val probeVecs = broadcast(pcRows.map(r =>
        (r.getLong(0), r.getSeq[Long](1))).distinct.toSeq
      .toDF("probe_id", "pqv"))
    val exact = shortFrame
      .join(fullVecs, Seq("candidate_id"))
      .join(probeVecs, Seq("probe_id"))
      .select(col("probe_id"), col("candidate_id"),
        Similarity.l2sqLong(col("pqv"), col("qv")).as("l2_dist"))
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("l2_dist").asc, col("candidate_id").asc)
    exact.withColumn("rank", row_number().over(wExact).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("candidate_id"),
        col("l2_dist"))
  }

  /** Stage 1 of the compressed probe as a LAZY frame — (cell pruning
    * predicate, per-probe ADC shortlist (probe_id, candidate_id)) —
    * split out so the plan-shape spec can audit the scan the ADC pass
    * actually runs (code pages only, partitions pruned) before the
    * driver collect hides it. */
  private[graft] def pqAdcShortlist(spark: SparkSession, path: String,
                                    pcRows: Array[Row],
                                    candidateFilter: Column,
                                    shortlist: Int,
                                    meta: Meta,
                                    keepDist: Boolean = false): (Option[Column], DataFrame) = {
    val books = readBooks(spark, path)
    val luts = pcRows.map(r => r.getLong(0) -> r.getSeq[Long](1))
      .distinct.map { case (pid, pqv) =>
        pid -> Similarity.pqAdcLut(pqv, books, meta.pqSubDim)
      }.toMap
    import spark.implicits._
    val probeFrame = pcRows.map { r =>
      val pid = r.getLong(0)
      (pid, luts(pid), r.getLong(2))
    }.toSeq.toDF("probe_id", "lut", "cell")
    val cellPred = cellPredFor(path, pcRows.map(_.getLong(2)).distinct)
    // compressed ADC scan — only (cell, vec_id, codes) leave the
    // pruned scan; qv's pages are never read (column pruning)
    val scored = liveCandidates(spark, path, cellPred, candidateFilter)
      .select(col("cell"), col("vec_id"), col("codes"))
      .join(broadcast(probeFrame), Seq("cell"))
      .filter(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id").as("candidate_id"),
        Similarity.pqAdcDistLut(col("lut"), col("codes"), meta.pqM)
          .as("adc_dist"))
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("adc_dist").asc, col("candidate_id").asc)
    val outCols = Seq(col("probe_id"), col("candidate_id")) ++
      (if (keepDist) Seq(col("adc_dist")) else Nil)
    (cellPred,
      scored.withColumn("adc_rank", row_number().over(wAdc))
        .filter(col("adc_rank") <= shortlist)
        .select(outCols: _*))
  }

  /** nProbe nearest cells per probe — inline sorted (distance, cid)
    * structs for small centroid tables (the [[Similarity.ivfTopKQ]]
    * shape, oracle-exact), bulk partial-selection loop otherwise. */
  private def probeCellsOf(probesQ: DataFrame,
                           cents: Seq[(Long, Array[Long])],
                           nProbe: Int): DataFrame = {
    if (cents.size <= InlineCellsMax) {
      val distArr = array(cents.sortBy(_._1).map { case (cid, qc) =>
        struct(
          Similarity.l2sqLong(col("pqv"), array(qc.map(lit): _*)).as("d"),
          lit(cid).as("cid"))
      }: _*)
      probesQ
        .withColumn("_cells", slice(array_sort(distArr), 1, nProbe))
        .select(col("probe_id"), col("pqv"), explode(col("_cells")).as("_c"))
        .select(col("probe_id"), col("pqv"), col("_c.cid").as("cell"))
    } else {
      val spark = probesQ.sparkSession
      val sorted = cents.sortBy(_._1).toArray
      val bc = spark.sparkContext.broadcast(sorted)
      val inSchema = probesQ.select(col("probe_id"), col("pqv")).schema
      val outSchema = StructType(inSchema.fields :+ StructField("cell", LongType))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)
      probesQ.select(col("probe_id"), col("pqv")).mapPartitions { rows =>
        val cs = bc.value
        rows.flatMap { r =>
          nearestCells(r.getSeq[Long](1).toArray, cs, nProbe)
            .map(c => Row(r.get(0), r.get(1), c))
        }
      }(enc)
    }
  }

  /** The `nProbe` nearest cells of `qv` over cid-sorted centroids, by
    * (squared L2, cid) — the bulk kernel's cell selection, run in its
    * tasks and by the gate on the driver. A full (d, cid) scan then a
    * bounded sort of nCells entries: selection cost is dwarfed by the
    * distance pass itself. */
  private def nearestCells(qv: Array[Long], cs: Array[(Long, Array[Long])],
                           nProbe: Int): Seq[Long] = {
    val ds = new Array[(Long, Long)](cs.length)
    var i = 0
    while (i < cs.length) {
      val qc = cs(i)._2
      var d = 0L
      var j = 0
      while (j < qv.length) { val x = qv(j) - qc(j); d += x * x; j += 1 }
      ds(i) = (d, cs(i)._1)
      i += 1
    }
    java.util.Arrays.sort(ds, Ordering.Tuple2[Long, Long])
    ds.iterator.take(nProbe).map(_._2).toSeq
  }

  /** Streaming-ingest ADMISSION GATE for the embedding family — its
    * [[IndexLifecycle.gate]], the [[SignatureIndex.gateBatchThroughIndex]]
    * twin a foreachBatch sink runs per trigger: each row of `rows`
    * (vec_id, qv and any payload columns) takes its top-1 exact-dot
    * neighbor from the persisted index; arrivals whose best score
    * reaches `threshold` are near-duplicates of curated data and are
    * REJECTED, no-neighbor arrivals are admitted. Stateless by
    * construction (every decision is a pure function of the row and the
    * frozen index), so the admitted set is batch-split-invariant.
    *
    * `nProbe` defaults to the pinned [[GateNProbe]] policy — the
    * measured admit-error operating point for a √N-cell production
    * index (SCALING.md §4.18); the oracle config overrides it to its
    * fixture width. Per batch: the one batch collect, then the probe
    * cells computed on the driver from the driver-held centroids, and
    * ONE partition-pruned scan of the probed cells ∪ delta (minus
    * tombstones) joined to the broadcast probe cells, each partition
    * shipping its best candidate per probe — the corpus is never
    * re-assigned, never shuffled. Three jobs without tombstones (four
    * with their broadcast): the batch collect, the probe-cell broadcast,
    * the scan. Returns (probe_id, nn_id, score) for the admitted rows, a
    * driver-local relation (nn_id and score null when no neighbor). */
  def gateBatchThroughAnnIndex(rows: DataFrame, path: String,
                               threshold: Long,
                               nProbe: Int = GateNProbe): DataFrame =
    gate(rows, path, threshold, None, nProbe)

  /** Sidecar recording which batch admitted which vector —
    * (vec_id, batch) — written by [[gateAndAppendAnnBatch]]. Dot-less
    * (it is real data, merged by compaction) but never scanned by
    * searches: only the gate-append path reads it. */
  private val GateAppendBatchesDir = "gapp_batches"

  /** The sidecar's one layout, so its reads infer no schema. */
  private val GateAppendBatchesSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("batch", LongType)))

  /** The admitted (probe_id, nn_id, score) rows of both gates. */
  private val GateOutSchema = StructType(Seq("probe_id", "nn_id", "score")
    .map(StructField(_, LongType)))

  /** The PRODUCTION gate→append composition for the embedding family
    * — [[SignatureIndex.gateAndAppendBatch]]'s twin, run once per
    * micro-batch by a foreachBatch sink: gate `rows` (which must
    * carry exactly the indexed cell columns — vec_id, payload, qv)
    * through the same [[IndexLifecycle.gate]] as
    * [[gateBatchThroughAnnIndex]], record the admissions in the
    * `gapp_batches` sidecar and APPEND the admitted rows, both from the
    * driver-local batch: the micro-batch's plan runs once per trigger.
    * Returns the admitted (probe_id, nn_id, score) frame.
    *
    * REPLAY EXACTLY-ONCE (the round-12 self-review hole: `probe_id ≠
    * candidate_id` alone lets two co-admitted intra-batch duplicates
    * reject EACH OTHER on crash-redelivery): the gate excludes every
    * candidate this SAME batchId previously appended (the sidecar's
    * batch column, read once per trigger), so a redelivered batch
    * decides as if its own appends never happened — the admitted set is
    * delivery-count-invariant, spec-pinned. Re-appending the same rows
    * is duplicate-safe ([[appendToAnnIndex]]'s delta-dedup contract).
    * The sidecar is APPEND-only, never overwritten (round-12 ADVICE):
    * Spark's overwrite DELETES the dir before writing, so a crash
    * mid-overwrite on a redelivery — after the first delivery's index
    * appends landed — erased the exclusion record and re-opened the
    * exact replay hole the sidecar closes. Rows of SUPERSEDED batches
    * are dead (only the in-flight batchId is ever read — earlier
    * batches committed before this trigger started) and are pruned by
    * compaction's sidecar merge. */
  def gateAndAppendAnnBatch(rows: DataFrame, path: String,
                            threshold: Long, batchId: Long,
                            nProbe: Int = GateNProbe): DataFrame =
    gate(rows, path, threshold, Some(batchId), nProbe)

  /** The embedding family's [[IndexLifecycle.gate]]: no exact key, the
    * top-1 candidate step ([[nearestLive]]), `score ≥ threshold` as the
    * residual. */
  private[graft] def gate(rows: DataFrame, path: String, threshold: Long,
                          appendBatch: Option[Long],
                          nProbe: Int = GateNProbe): DataFrame = {
    val spark = rows.sparkSession
    val (schema, admitted, best) = IndexLifecycle.gate(IndexLifecycle.Gate(
      Paths.get(path), "vec_id", identity,
      IndexLifecycle.Sidecar(GateAppendBatchesDir, GateAppendBatchesSchema,
        "vec_id", "batch"), exactKey = None,
      (schema, held, excluded) => Some(nearestLive(spark, path, nProbe, schema,
        held, excluded)),
      threshold), rows, appendBatch)(
      appendToAnnIndex(_, path))
    val fId = schema.fieldIndex("vec_id")
    LocalRows.frame(spark, GateOutSchema, admitted.map { r =>
      val id = r.getLong(fId)
      best.get(id).fold(InternalRow(id, null, null)) {
        case (nn, score) => InternalRow(id, nn, score) }
    })
  }

  /** The gate's candidate step: each held row's nProbe cells, computed
    * on the driver from the driver-held centroids ([[nearestCells]]),
    * as a broadcast (probe_id, pqv, cell) relation joined to ONE scan
    * of the live rows of those cells (pruned base ∪ delta, minus
    * tombstones, minus the `excluded` ids) and scored by exact dot —
    * (probe_id, nn_id, score) per candidate, self-matches excluded as
    * in every search. */
  private def nearestLive(spark: SparkSession, path: String, nProbe: Int,
                          schema: StructType, held: Seq[InternalRow],
                          excluded: Set[Long]): DataFrame = {
    val cents = readCentroids(spark, path).toArray
    val Seq(fId, fQv) = Seq("vec_id", "qv").map(schema.fieldIndex)
    val probeCells = held.flatMap { r =>
      val qv = r.getArray(fQv)
      nearestCells(qv.toLongArray, cents, nProbe)
        .map(c => InternalRow(r.getLong(fId), qv, c))
    }
    val live = liveCandidates(spark, path,
      cellPredFor(path, probeCells.map(_.getLong(2)).distinct.toArray),
      lit(true), dedupeDelta = false)
    val cands =
      if (excluded.isEmpty) live
      else live.filter(!org.apache.spark.sql.graft.HashExpressions
        .in_set(col("vec_id"), excluded))
    cands.join(broadcast(LocalRows.frame(spark, StructType(Seq(
        StructField("probe_id", LongType), schema(fQv).copy(name = "pqv"),
        StructField("cell", LongType))), probeCells)), Seq("cell"))
      .filter(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id").as("nn_id"),
        Similarity.dotLong(col("pqv"), col("qv")).as("score"))
  }

  /** Compact the index after a run of appends and deletes — the
    * maintenance job that keeps a long lifecycle scan-efficient — as
    * ONE [[IndexLifecycle.compact]]: one staged `cell`-partitioned
    * write, one swap. Driver-side facts (one collect, bounded by
    * nCells) pick the rewrite set R: every cell holding a tombstoned id
    * in base ∪ delta, plus every cell whose snapshot file count (+1 if
    * the delta touches it) exceeds `maxFilesPerCell`. The staged write
    * holds:
    *  - for a cell in R, all its live rows: base ∪ delta, deduped on
    *    `vec_id` (collapsing any duplicate a crash window or a retried
    *    [[appendToAnnIndex]] left), minus the tombstones;
    *  - for every other cell the delta touches, the FOLD: the deduped
    *    delta rows minus the `vec_id`s that cell's base already holds,
    *    so re-running a crashed compaction adds nothing twice.
    * The gate-append sidecar is pruned to its newest batch beside it.
    * The swap replaces R's files, adds the fold files and drops
    * `delta/` and `tombstones/`; every other cell keeps its files
    * byte-identical. Same single-writer contract as build/append, and
    * snapshot-safe for readers: a crash before the swap leaves
    * snapshot N, and re-running compaction is the repair. Returns |R|,
    * the number of cells rewritten. */
  def compactCells(spark: SparkSession, path: String,
                   maxFilesPerCell: Int = 4): Int = {
    val root = Paths.get(path)
    val base = cellsScanOpt(spark, path)
    val delta = deltaScanOpt(spark, path)
    // (cell, true) per cell the delta touches, (cell, false) per cell
    // holding a tombstoned id
    val facts = (delta.map(_.select(col("cell").cast("long"), lit(true))) ++
      IndexLifecycle.tombstones(spark, root, "vec_id").flatMap { case (ts, bytes) =>
        baseUnionDelta(spark, path)(_.select(col("cell"), col("vec_id")))
          .map(live => IndexLifecycle.boundedIdJoin(live, ts, "vec_id", bytes,
            "left_semi").select(col("cell").cast("long"), lit(false)))
      }).reduceOption(_ union _)
      .fold(Array.empty[(Long, Boolean)])(_.distinct().collect()
        .map(r => (r.getLong(0), r.getBoolean(1))))
    val touched = facts.collect { case (c, true) => c }.toSet
    val parts = files(path, "cells")
      .groupBy(_.getParent.getFileName.toString.stripPrefix("cell=").toLong)
    def nFiles(c: Long): Int =
      parts.get(c).fold(0)(_.size) + (if (touched(c)) 1 else 0)
    val rewritten = (facts.collect { case (c, false) => c } ++
      (parts.keySet ++ touched).filter(nFiles(_) > maxFilesPerCell))
      .distinct.sorted.toSeq
    val foldOnly = (touched -- rewritten).toSeq.sorted
    def in(cs: Seq[Long]): Column = array_contains(lit(cs.toArray), col("cell"))
    val merged = if (rewritten.isEmpty) None
      else baseUnionDelta(spark, path)(_.filter(in(rewritten))).map(df =>
        IndexLifecycle.withoutTombstones(df.dropDuplicates("vec_id"), root, "vec_id"))
    val folded = if (foldOnly.isEmpty) None else delta.map { d =>
      val fresh = d.filter(in(foldOnly)).dropDuplicates("vec_id")
      base.fold(fresh)(b => fresh.join(
        b.filter(in(foldOnly)).select(col("vec_id")), Seq("vec_id"), "left_anti"))
    }
    // the gate-append sidecar fragments one file per trigger and is
    // scanned by every gate call; only its newest batch can serve a
    // replay (every earlier batch committed before that trigger began)
    val gapp = files(path, GateAppendBatchesDir)
    val prune = Option.when(gapp.size >= 2) {
      val df = spark.read.schema(GateAppendBatchesSchema)
        .parquet(gapp.map(_.toString): _*)
      IndexLifecycle.Rewrite(GateAppendBatchesDir, gapp,
        df.filter(col("batch") === df.agg(max(col("batch"))).scalar()).distinct())
    }
    val cells = (merged ++ folded).reduceOption(_ unionByName _).map(
      IndexLifecycle.Rewrite("cells", rewritten.flatMap(parts.getOrElse(_, Nil)),
        _, partitionBy = Some("cell")))
    IndexLifecycle.compact(root,
      Seq("cells", "delta", "tombstones", GateAppendBatchesDir),
      (cells ++ prune).toSeq, dropSubs = Seq("delta", "tombstones"))
    rewritten.size
  }

  /** Stage a rebuild's inputs into `dir` (see [[IndexLifecycle
    * .maintain]]): the live rows (base ∪ deduped delta, minus
    * tombstones) under `rows`, the RETRAINED quantizer (kmeansBulk
    * warm-started from the frozen centroids — deterministic) under
    * `cents`, the retrained PQ books under `books` on a coded layout,
    * and the gate-append sidecar. Reads are snapshot-pinned, so a
    * previous compaction's retained files are never staged. */
  private def stageLive(spark: SparkSession, path: String, dir: Path,
                        trainIters: Int): Unit = {
    // `cell` dropped from both legs (the partition column reads back
    // as int, the delta column is long — and the rebuild reassigns
    // against the retrained quantizer anyway); `codes` likewise —
    // derived data re-encoded against the RETRAINED books. A
    // base-less index rebuilds from its delta alone; base-less AND
    // delta-less has nothing to rebuild — fail loudly.
    val merged = baseUnionDelta(spark, path)(_.drop("cell", "codes"))
      .getOrElse(throw new IllegalStateException(
        s"index at $path has no live rows — nothing to rebuild"))
    // one corpus-wide dedup: a rebuild is the repair point for every
    // documented transient-duplicate crash window, so it must
    // collapse them all (retried appends)
    IndexLifecycle.withoutTombstones(merged.dropDuplicates("vec_id"),
      Paths.get(path), "vec_id")
      .write.mode("overwrite").parquet(dir.resolve("rows").toString)
    val vecsQ = spark.read.parquet(dir.resolve("rows").toString)
    val cents = kmeansBulk(vecsQ.select(col("qv")),
      readCentroids(spark, path), trainIters)
    writeCents(spark, cents, dir.resolve("cents").toString)
    // PQ layout: the codebooks are build artifacts like the quantizer
    // — retrained (warm-started from the frozen books, deterministic)
    // and staged beside the centroids; codes are re-derived by the
    // build from these
    val meta0 = readMeta(path)
    if (meta0.pqM > 0)
      writeBooks(spark, Similarity.pqTrain(vecsQ.select(col("qv")),
        readBooks(spark, path), meta0.pqSubDim, trainIters),
        dir.resolve("books").toString)
    // carry the gate-append sidecar through the rebuild: the build
    // clears it, but the IN-FLIGHT batch's exclusion record must
    // survive a mid-trigger rebuild or a crash-redelivery loses the
    // replay guarantee (second-pass finding)
    IndexLifecycle.stageSidecar(Paths.get(path), dir, GateAppendBatchesDir)
  }

  /** Stage a rebuild exactly as [[maintainAnnIndex]] does, committed by
    * its marker — the re-entry point the crash-window specs start
    * from. */
  private[graft] def stageRebuildLive(spark: SparkSession, path: String,
                                      trainIters: Int): Unit =
    IndexLifecycle.stageRebuild(Paths.get(path), readMeta(path))(
      stageLive(spark, path, _, trainIters))

  /** MAINTENANCE — the ANN family's steps under [[IndexLifecycle
    * .maintain]] (staging, crash re-entry and the commit point are the
    * shared driver's). Consults the policies in order and acts:
    *
    *  1. [[needsRebuild]] (append+delete drift past
    *     [[IndexLifecycle.RebuildFraction]]) → REBUILD in place from
    *     the index's own live rows (the ANN family is self-contained:
    *     the vectors ARE the stored content), quantizer retrained
    *     ([[stageLive]]).
    *     Physically reclaims every tombstone and folds every delta row;
    *     the staged gate-append sidecar is restored verbatim (its
    *     vec_ids were appended admissions, so they survive);
    *  2. else [[needsCompaction]] → [[compactCells]] (delta fold,
    *     tombstone application and fragmented-cell merge as one staged
    *     rewrite and one swap, increment-priced, snapshot-safe). */
  def maintainAnnIndex(spark: SparkSession, path: String,
                       trainIters: Int = 2): IndexLifecycle.Maintenance = {
    val meta = readMeta(path)
    val root = Paths.get(path)
    IndexLifecycle.maintain(root, meta)(
      stage = stageLive(spark, path, _, trainIters),
      build = { dir =>
        def staged(name: String) = spark.read.parquet(dir.resolve(name).toString)
        buildAnnIndex(staged("rows"), centsFrom(staged("cents")), path,
          Some(dir.resolve("books")).filter(Files.isDirectory(_))
            .map(_ => booksFrom(staged("books"))))
      },
      restore = dir => IndexLifecycle.restoreSidecar(spark, root, dir,
        GateAppendBatchesDir)(identity))(
      if (needsCompaction(path)) compactCells(spark, path) else 0)
  }

  // ---- meta / centroid IO ----------------------------------------------

  private def writeMeta(root: Path, meta: Meta): Unit =
    IndexLifecycle.writeMetaProps(root, "graft ann index", FormatVersion, meta)

  def readMeta(path: String): Meta = {
    val prop = IndexLifecycle.readMetaProps(
      Paths.get(path), "ann index", FormatVersion)
    Meta(prop("nCells").toInt, prop("dims").toInt, prop("nVecs"),
      prop("appendedVecs"), prop("deletedVecs"), prop("pqM").toInt,
      prop("pqSubDim").toInt)
  }

  /** Driver-held centroid table, memoized ONE LIVE ENTRY PER PATH and
    * revalidated by the centroids-dir content fingerprint (names +
    * sizes + mtimes): a rebuilt index at the same path misses AND
    * EVICTS the stale entry — a long-lived driver rebuilding in place
    * no longer accumulates one centroid table per rebuild, and a
    * rebuild landing in the same millisecond with identical bytes
    * still misses (the rewritten part files carry fresh names). */
  def readCentroids(spark: SparkSession,
                    path: String): Seq[(Long, Array[Long])] =
    centroidsMemo.get(path,
      graft.storage.ArtifactCache.fingerprint(Paths.get(path, "centroids")))(
      centsFrom(spark.read.parquet(s"$path/centroids")))

  /** (cid, qc) centroid rows, cid-sorted. */
  private[graft] def centsFrom(df: DataFrame): Seq[(Long, Array[Long])] =
    df.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1).toSeq

  /** Write a centroid table as the one (cid, qc) file [[centsFrom]]
    * reads. */
  private[graft] def writeCents(spark: SparkSession,
                                cents: Seq[(Long, Array[Long])], dest: String): Unit = {
    import spark.implicits._
    cents.map { case (cid, qc) => (cid, qc.toSeq) }.toDF("cid", "qc")
      .coalesce(1).write.mode("overwrite").parquet(dest)
  }

  /** Write PQ codebooks as the one (m, cid, qc) file [[booksFrom]]
    * reads. */
  private[graft] def writeBooks(spark: SparkSession,
                                books: Seq[Seq[(Long, Array[Long])]], dest: String): Unit = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (cs, m) =>
      cs.map { case (cid, qc) => (m, cid, qc.toSeq) }
    }.toDF("m", "cid", "qc").coalesce(1).write.mode("overwrite").parquet(dest)
  }

  private val centroidsMemo =
    new IndexLifecycle.FingerprintMemo[Seq[(Long, Array[Long])]]()

  /** Build-once ANN index of a fixture's embeddings (the oracle/bench
    * path): the "annindex" family of [[graft.storage.ArtifactCache]],
    * keyed by (version, sfDir, embeddings fingerprint, `name`). `build`
    * must leave a complete index at the directory it is given. `name`
    * carries the build configuration the closure encodes (centroid
    * count, training depth, slice): a caller changing it must change
    * the name, or an index built under the old config is served. */
  def ensureAnnIndex(sfDir: String, name: String, version: Int = FormatVersion)
                    (build: String => Meta): String =
    graft.storage.ArtifactCache.cached("annindex", version, sfDir,
      "embeddings.parquet", name)(p => build(p))
}
