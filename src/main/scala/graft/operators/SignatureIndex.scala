package graft.operators

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.LocalRows
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.HashFunctions.MinHashCoeffs

/** PERSISTED MinHash/LSH signature index — the incremental-dedup shape
  * a 100 TB corpus actually runs: the corpus is hashed, banded, skew-
  * refined and written ONCE (on corpus creation or change), and every
  * subsequent ingest increment probes that index paying only
  * increment-sized hashing plus one columnar scan of the index. This
  * closes the round-8 weak item: [[Dedup.lshJaccardPairsAcross]] holds
  * the "linear in the increment" contract for the pair JOIN, but each
  * invocation re-hashed and re-staged the whole corpus — a daily
  * ingest paid a corpus-sized md5/MinHash pass per day.
  *
  * Layout under the index path (all parquet + one properties file):
  *  - `sig/`  — per-doc signature table: (doc_id, sig, _xb, _salt,
  *    hsi), the exact column set [[Dedup.probeKeyedSized]] stages to
  *    scratch (minhash signature, disjoint-family extra refinement
  *    bits, content salt, sorted shifted shingle-hash ints);
  *  - `hot/`  — pass-1 observed band-key populations OVER the cap:
  *    (band, band_sig, _pop). Bounded by nDocs/capPop rows —
  *    broadcast-class by construction;
  *  - `hot2/` — pass-2 residual populations over the cap:
  *    (band, band_sig, _sube, _pop2). Subset of hot's key space;
  *  - `tombstones/` and `gateapp_md5/` — the delete and gate-append
  *    side tables ([[deleteFromIndex]], [[gateAndAppendBatch]]);
  *  - `_MANIFEST` — the layout snapshot listing the files of `sig/`,
  *    `tombstones/` and `gateapp_md5/`; every read resolves those
  *    tables through it ([[IndexLifecycle]]), so appends, deletes and
  *    compaction are snapshot-safe for concurrent readers;
  *  - `_INDEX_META` — rowsPerBand/capPop/maxExtraBits/sigBytes stamp.
  *
  * The refinement assignment is FROZEN at build time: an increment row
  * landing in a corpus-hot bucket recomputes the same `sub` arithmetic
  * from the broadcast hot/hot2 tables ([[keyedFromSig]] mirrors
  * [[Similarity.refineHotKeysBy]] bit for bit), and the content salt
  * (xxhash64 of the shingle-hash set) is a pure function of content,
  * so a true duplicate of an indexed document ALWAYS lands in the
  * indexed copy's shard — no duplicate pair is lost to the frozen
  * split. The one semantic difference from the union-refined one-pass
  * form ([[Dedup.lshJaccardPairsAcross]]): populations are measured on
  * the corpus alone, not corpus+increment — the standard index
  * contract (bucketing frozen until the next build), and a provable
  * no-op whenever no band key is hot (every shipped oracle SF;
  * spec-pinned parity in SignatureIndexSpec).
  *
  * Probe scale shape (the plan, audited in SignatureIndexSpec):
  *  1. increment hashed + staged to scratch (increment-sized);
  *  2. the increment's distinct single-long band keys are BROADCAST
  *     into a LEFT SEMI prune of the corpus-banded index scan — the
  *     corpus is never shuffled and never hashed, it contributes one
  *     column-pruned parquet scan whose survivors are bounded by
  *     |increment bands| × capPop;
  *  3. the surviving corpus rows shuffle-hash-join the increment bands
  *     (both legs now increment-bounded; width by the shared §4.9
  *     policy from the increment's staged bytes);
  *  4. exact Jaccard is computed where both sorted int sets are
  *     co-located in the join (the §4.4 discipline), band-duplicated
  *     copies collapse via max.
  */
object SignatureIndex {

  /** On-disk format generation (2: the manifest-read layout); the
    * build-once cache dir names carry it, so an index written under
    * another generation is rebuilt, not read. */
  private[graft] val FormatVersion = 2

  /** Sidecar recording the md5 and batch of every gate-ADMITTED
    * document — (c_md5, c_doc, c_batch) — written by
    * [[gateAndAppendBatch]] so later batches exact-reject copies of
    * earlier admissions, and so a REPLAYED batch can exclude its own
    * previous appends (c_batch). */
  private val GateAppendMd5Dir = "gateapp_md5"

  /** The sub-tables the layout snapshot lists: every table a mutation
    * touches. */
  private val MutableSubs = Seq("sig", "tombstones", GateAppendMd5Dir)

  case class Meta(rowsPerBand: Int, capPop: Int, maxExtraBits: Int,
                  nDocs: Long, sigBytes: Long, appendedDocs: Long = 0L,
                  deletedDocs: Long = 0L) extends IndexLifecycle.Drift {
    def live: Long = nDocs
    def appended: Long = appendedDocs
    def deleted: Long = deletedDocs
  }

  /** The five persisted signature columns, from a (doc_id, hs) frame —
    * MUST stay byte-compatible with [[Dedup.probeKeyedSized]]'s staged
    * scratch table (the parity specs compare the two paths). */
  private def sigColumns: Seq[Column] = Seq(
    col("doc_id"),
    org.apache.spark.sql.graft.HashExpressions.minhash_sigs(col("hs")).as("sig"),
    org.apache.spark.sql.graft.HashExpressions.minhash_extra_bits(col("hs")).as("_xb"),
    xxhash64(col("hs")).as("_salt"),
    array_sort(transform(col("hs"),
      h => (h - 2147483648L).cast("int"))).as("hsi"))

  /** The snapshot's files of one sub-table. */
  private def files(path: String, sub: String): Seq[Path] =
    IndexLifecycle.snapshotFiles(Paths.get(path), sub)

  /** The snapshot's signature table, read with its known schema. */
  private def sigScan(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(SigSchema).parquet(files(path, "sig").map(_.toString): _*)

  private def sigBytes(path: String): Long =
    files(path, "sig").map(Files.size).sum

  /** Band-explode a signature frame into one row per (doc, band),
    * carrying the refinement inputs. `narrow` drops hsi — the
    * population aggregates of [[buildSignatureIndex]] must not drag
    * the set payload through their scans. */
  private def banded(sig: DataFrame, rowsPerBand: Int,
                     narrow: Boolean, carryHsi: Boolean = true): DataFrame = {
    val nBands = MinHashCoeffs.length / rowsPerBand
    val carry = if (narrow) Seq(col("doc_id"), col("_xb"))
      else if (!carryHsi) Seq(col("doc_id"), col("_xb"), col("_salt"))
      else Seq(col("doc_id"), col("_xb"), col("_salt"), col("hsi"))
    sig.select(carry :+
      posexplode(transform(
        sequence(lit(0), lit(nBands - 1)),
        b => slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))
        .as(Seq("band", "band_sig")): _*)
  }

  /** ceil(log2(pop/cap)) via integer bit-width — copied from
    * [[Similarity.refineHotKeysBy]]'s arithmetic so frozen-index subs
    * and live-refined subs agree bit for bit. */
  private def widthOver(pop: Column, capPop: Int): Column = {
    val q = floor((pop - 1) / capPop).cast("long")
    when(q <= 0, 0).otherwise(length(bin(q))).cast("int")
  }

  /** Build (or rebuild) the index at `path` from a (doc_id, hs)
    * corpus frame. One corpus-sized hashing pass + two band-population
    * aggregates; everything written atomically enough for the
    * single-writer contract (an index build is a scheduled corpus
    * event, not a concurrent hot path). */
  def buildSignatureIndex(hashed: DataFrame, path: String,
                          rowsPerBand: Int = 4, capPop: Int = 256,
                          maxExtraBits: Int = 8): Meta = {
    val spark = hashed.sparkSession
    val root = Paths.get(path)
    Files.createDirectories(root)
    // a REBUILD must not inherit the previous index's side artifacts:
    // besides the side tables, a stale pairs/ graph would serve the
    // PRE-rebuild strong pairs to clustersFromIndex, and the
    // gate-append sidecar would reject future copies of docs the new
    // corpus no longer holds
    IndexLifecycle.resetLayout(root, Seq("tombstones", GateAppendMd5Dir, "pairs"))
    hashed.select(sigColumns: _*)
      .write.mode("overwrite").parquet(s"$path/sig")
    // the fresh snapshot: sig/ alone, the side tables start empty
    IndexLifecycle.commitFresh(root, Seq("sig"))
    val sig = sigScan(spark, path)
    val bandedN = banded(sig, rowsPerBand, narrow = true)
    bandedN.groupBy(col("band"), col("band_sig"))
      .agg(count(lit(1)).as("_pop"))
      .filter(col("_pop") > capPop)
      .write.mode("overwrite").parquet(s"$path/hot")
    val hot = spark.read.parquet(s"$path/hot")
    val hot2 =
      if (hot.isEmpty)
        // schema-only: skip the second corpus pass a cold corpus
        // doesn't need (refineHotKeysBy's exact short-circuit)
        bandedN.select(col("band"), col("band_sig"),
          lit(0L).as("_sube"), lit(0L).as("_pop2")).limit(0)
      else
        bandedN.join(broadcast(hot), Seq("band", "band_sig"))
          .withColumn("_eb",
            least(widthOver(col("_pop"), capPop), lit(maxExtraBits)))
          .withColumn("_sube", expr("_xb & (shiftleft(1L, _eb) - 1)"))
          .filter(col("_eb") > 0)
          .groupBy(col("band"), col("band_sig"), col("_sube"))
          .agg(count(lit(1)).as("_pop2"))
          .filter(col("_pop2") > capPop)
    hot2.write.mode("overwrite").parquet(s"$path/hot2")
    val meta = Meta(rowsPerBand, capPop, maxExtraBits,
      nDocs = sig.count(), sigBytes = sigBytes(path))
    writeMeta(root, meta)
    meta
  }

  private def writeMeta(root: Path, meta: Meta): Unit =
    IndexLifecycle.writeMetaProps(root, "graft signature index", FormatVersion, meta)

  /** The scheduled-rebuild signal ([[IndexLifecycle.needsRebuild]]):
    * appends are always recall-safe (see appendToIndex); what drifts is
    * PERFORMANCE — buckets that became hot since the build are not
    * split, so their pair-join populations grow unbounded — and deletes
    * grow the read-side tombstone anti-join. */
  def needsRebuild(meta: Meta): Boolean = IndexLifecycle.needsRebuild(meta)

  /** APPEND an increment's signatures to an existing index — the
    * between-rebuilds lifecycle: a daily ingest probes the index
    * ([[probeSignatureIndex]]), admits what passes its gates, and
    * appends the admitted signatures so TOMORROW's increment dedups
    * against today's admissions too. Cost is increment-sized: one
    * hashing pass over `newHashed`, new part files appended to `sig/`
    * (existing files untouched), a meta rewrite. Nothing corpus-sized
    * is read or written.
    *
    * Correctness under the FROZEN hot/hot2 contract: `sig/` stores raw
    * signatures — refinement keys are derived at READ time by
    * [[keyedFromSig]] from the frozen population tables, so appended
    * rows get exactly the arithmetic probe rows always got, and the
    * content salt keeps any true duplicate co-sharded with its copies.
    * An append therefore never loses a duplicate pair that a fresh
    * rebuild would find; the reverse asymmetry is the usual refinement
    * trade (a fresh rebuild might split a NEWLY-hot bucket and drop a
    * strong-but-not-identical pair the appended index still finds).
    * What drifts is performance — [[needsRebuild]] names the bound.
    *
    * The staged strong-pair graph (`pairs/`) is INVALIDATED: it was
    * materialized over the pre-append corpus. (Incremental
    * maintenance was measured and REVERTED — the restage rides the
    * persisted signatures and is cheaper at every rung; SCALING.md
    * §4.23.) The next [[clustersFromIndex]] restages it.
    *
    * Partial-failure contract (single-writer, like the build): the
    * append is visible all-or-nothing at its snapshot commit — a crash
    * before it leaves unlisted orphan files that the next maintenance
    * entry reclaims. If the commit lands but the meta rewrite doesn't,
    * the index still probes CORRECTLY (meta only feeds bookkeeping and
    * join-width sizing) and RE-RUNNING the append is semantically
    * safe — duplicated signature rows collapse in every consumer (pair
    * frames group on the id pair, the gate collects its hits into a
    * set) — it just wastes the duplicate's bytes until the next
    * rebuild. */
  def appendToIndex(newHashed: DataFrame, path: String): Meta = {
    val root = Paths.get(path)
    val before = readMeta(path)
    // the staged pair graph is INVALIDATED on append: it was
    // materialized over the pre-append corpus, and serving it would
    // drop every cluster edge involving appended docs. Incremental
    // maintenance (cross(inc, live) ∪ self(inc), exactly the delta)
    // was implemented, MEASURED, and reverted in round 12: the
    // restage rides the PERSISTED signatures — no re-hashing — at
    // 8.8/42.9 s (1M/2M, `graft.IndexProbe` pairs mode at
    // `ad24016`), while the increment
    // path pays the across-probe's corpus scan plus increment
    // hashing (18.8/62.8 s) — invalidate-and-lazily-restage wins at
    // every measured rung, and only pays when clustering is actually
    // requested again (SCALING.md §4.23). Deletes, by contrast, keep
    // the graph valid via the read-side filter in [[ensureSelfPairs]].
    val pairsMarker = root.resolve("pairs").resolve("_PAIRS_OK")
    if (Files.isRegularFile(pairsMarker)) Files.delete(pairsMarker)
    // round-13 opt: ONE evaluation of the increment (the write), with
    // the appended-row count read back from the committed part files'
    // FOOTERS — the cache+count+write form scheduled an extra job per
    // append, per trigger in the gate→append loops
    val added = IndexLifecycle.commitAddedWrite(root, "sig") {
      newHashed.select(sigColumns: _*)
        .write.mode("append").parquet(s"$path/sig")
    }
    val nNew = IndexLifecycle.parquetRowCount(newHashed.sparkSession, added)
    val meta = before.copy(
      nDocs = before.nDocs + nNew,
      sigBytes = sigBytes(path),
      appendedDocs = before.appendedDocs + nNew)
    writeMeta(root, meta)
    meta
  }

  /** DELETE documents from the index by id — the takedown/retention
    * lifecycle, the signature instance of [[IndexLifecycle.deleteIds]]
    * (as [[AnnIndex.deleteFromAnnIndex]] is): the ids
    * land in the UNPARTITIONED `tombstones/` side table
    * (increment-sized write, nothing corpus-sized touched) and every
    * consumer reads the sig table through [[liveSig]]'s broadcast
    * anti-join until the next REBUILD physically reclaims them (the
    * sig table is not partitioned by id, so physical removal is a
    * corpus rewrite — exactly what a rebuild is; [[needsRebuild]]
    * counts deletes toward drift, which BOUNDS the tombstone set
    * relative to the corpus before a rebuild is scheduled anyway).
    * Deletes are visible to the NEXT probe/gate/cluster call
    * immediately.
    *
    * Contracts: `ids` is increment-class per call; the CUMULATIVE
    * tombstone set is NOT assumed broadcast-class — every consumer
    * joins it through [[IndexLifecycle.boundedIdJoin]], which picks
    * broadcast vs size-driven SHUFFLE_HASH from the side table's
    * measured bytes (the round-11 `weak` item: the drift bound is
    * advisory, so code must not bet an OOM on it). RE-RUNNING a
    * half-failed delete is duplicate-safe; deleting an id the index
    * never held is a TRUE no-op — the increment is semi-joined
    * against the slim doc_id column of the sig scan first (one
    * maintenance-priced columnar scan), so foreign ids touch neither
    * `tombstones/` nor the drift counters, and no meta is written.
    * The staged strong-pair graph stays VALID: edge presence is
    * pairwise-local, so [[ensureSelfPairs]] applies deletes as a
    * read-side tombstone filter. A tombstoned doc_id stays
    * deleted until the next rebuild — re-ingesting it between
    * rebuilds requires a fresh id. Caller-owned
    * sidecars (e.g. the gate's md5 set) derive from the CALLER's
    * corpus view, not this index — a caller whose deletion policy
    * extends to them rebuilds them from its updated corpus. */
  def deleteFromIndex(ids: DataFrame, path: String): Meta = {
    val before = readMeta(path)
    val nDel = IndexLifecycle.deleteIds(Paths.get(path), ids, "doc_id",
      Some(sigScan(ids.sparkSession, path)))
    val meta = before.copy(nDocs = before.nDocs - nDel,
      deletedDocs = before.deletedDocs + nDel)
    if (nDel > 0) writeMeta(Paths.get(path), meta)
    meta
  }

  /** The LIVE sig scan: the persisted signature table minus the
    * un-reclaimed tombstones ([[deleteFromIndex]]) — the one read
    * path every consumer (probe, self pairs, clusters, gate) goes
    * through. The anti-join disappears entirely when no tombstones
    * exist ([[IndexLifecycle.withoutTombstones]]). */
  private def liveSig(spark: SparkSession, path: String): DataFrame =
    IndexLifecycle.withoutTombstones(sigScan(spark, path), Paths.get(path), "doc_id")

  /** MAINTENANCE — the signature family's steps under
    * [[IndexLifecycle.maintain]] (staging, crash re-entry and the
    * commit point are the shared driver's). Consults the policies in
    * order and acts:
    *
    *  1. [[needsRebuild]] (append+delete drift past
    *     [[IndexLifecycle.RebuildFraction]]) → REBUILD in place from
    *     `rehashedCorpus` restricted to the live indexed doc_ids —
    *     the only operation that physically reclaims deleted
    *     signatures (sig/ is not id-partitioned, so reclamation IS a
    *     corpus rewrite) and re-freezes the hot/hot2 populations on
    *     the live data;
    *  2. else [[needsCompaction]] → [[compactSignatures]]
    *     (increment-priced small-file merge, snapshot-safe).
    *
    * `rehashedCorpus` is the live document store's (doc_id, hs) frame
    * — it may hold more than the index (documents never admitted, or
    * since deleted): the restriction to the snapshot's live sig ids is
    * applied here, and the frame is evaluated only if the rebuild
    * fires. Signatures alone cannot rebuild the index because the
    * content salt is xxhash64 over the TEXT-ORDER shingle stream
    * (`hsi` is stored sorted; a sorted-order salt would shard a probe
    * and its indexed duplicate differently in hot buckets — a recall
    * hole). A signature index is DERIVED data; its rebuild re-hashes
    * from the source, exactly like production.
    *
    * The staging holds the restricted corpus (`rows`) and the
    * gate-append md5 sidecar, which the build clears and the restore
    * puts back FILTERED to the surviving doc_ids: it is the ONLY
    * exact-dup record for admitted null-signature docs (a short doc
    * has no band rows), and an admitted-then-tombstoned doc's md5 must
    * stop rejecting copies of content that was taken down. */
  def maintainIndex(spark: SparkSession, path: String)
                   (rehashedCorpus: => DataFrame): IndexLifecycle.Maintenance = {
    val meta = readMeta(path)
    val root = Paths.get(path)
    def liveIds = liveSig(spark, path).select(col("doc_id"))
    IndexLifecycle.maintain(root, meta)(
      stage = { dir =>
        val rows = dir.resolve("rows").toString
        rehashedCorpus.join(liveIds, Seq("doc_id"), "left_semi")
          .write.mode("overwrite").parquet(rows)
        // LOUD COVERAGE CHECK before the marker commits the staging: the
        // corpus must cover every live sig doc_id, or the rebuild would
        // SILENTLY drop indexed docs and later copies would be
        // re-admitted (round-12 ADVICE: gate-append replay admissions
        // live under offset ids a naive source rehash misses)
        require(!IndexLifecycle.anyRow(liveIds.join(
            spark.read.parquet(rows).select(col("doc_id")), Seq("doc_id"),
            "left_anti")),
          s"maintainIndex($path): the supplied rehash corpus does not " +
            "cover every live indexed doc_id — rebuilding would drop " +
            "documents; widen the corpus (replay/offset ids?) first")
        IndexLifecycle.stageSidecar(root, dir, GateAppendMd5Dir)
      },
      build = dir => buildSignatureIndex(
        spark.read.parquet(dir.resolve("rows").toString), path,
        meta.rowsPerBand, meta.capPop, meta.maxExtraBits),
      restore = dir => IndexLifecycle.restoreSidecar(spark, root, dir,
        GateAppendMd5Dir)(_.join(liveIds.withColumnRenamed("doc_id", "c_doc"),
          Seq("c_doc"), "left_semi")))(
      if (needsCompaction(path)) compactSignatures(spark, path) else 0)
  }

  /** Compaction-cadence predicate — the signature-family instance of
    * [[IndexLifecycle.CompactSmallFilesMax]] (measured on the ANN
    * twin, SCALING.md §4.19; the degradation mechanism — per-file open
    * cost on the scan every probe pays — is layout-independent): true
    * once enough snapshot part files accumulated: sub-threshold `sig/`
    * parts (appends), plus every tombstone and gate-append-sidecar
    * part — liveSig reads tombstones on every consumer read, and
    * every gate-append trigger scans the md5 sidecar. */
  def needsCompaction(path: String, minFileBytes: Long = 8L << 20): Boolean =
    IndexLifecycle.needsCompaction(
      files(path, "sig").count(Files.size(_) < minFileBytes) +
        files(path, "tombstones").size + files(path, GateAppendMd5Dir).size)

  /** Compact the small files a long append lifecycle accumulates as
    * ONE [[IndexLifecycle.compact]], like [[AnnIndex.compactCells]]:
    * every `sig/` part under `minFileBytes` merges into one, and the
    * tombstone and gate-append sidecar tables merge down through
    * `distinct` (both are sets, and distinct is the identity their
    * consumers apply); one swap publishes the merged files and RETAINS
    * the originals for readers that resolved the previous snapshot.
    * Content is untouched, so probes, gates and pair frames are
    * result-invariant (spec-pinned); cost is proportional to the SMALL
    * files' bytes, never the corpus build parts above the threshold.
    * Returns the number of files merged. */
  def compactSignatures(spark: SparkSession, path: String,
                        minFileBytes: Long = 8L << 20): Int = {
    val root = Paths.get(path)
    def merge(sub: String, fs: Seq[Path])(rows: => DataFrame) =
      Option.when(fs.size >= 2)(IndexLifecycle.Rewrite(sub, fs, rows))
    def read(schema: StructType, fs: Seq[Path]) =
      spark.read.schema(schema).parquet(fs.map(_.toString): _*)
    val sig = files(path, "sig").filter(Files.size(_) < minFileBytes)
    val md5 = files(path, GateAppendMd5Dir)
    val rewrites = Seq(
      merge("sig", sig)(read(SigSchema, sig)),
      merge("tombstones", files(path, "tombstones"))(
        IndexLifecycle.tombstones(spark, root, "doc_id").get._1.distinct()),
      merge(GateAppendMd5Dir, md5)(read(Md5Schema, md5).distinct())).flatten
    IndexLifecycle.compact(root, MutableSubs, rewrites)
    if (rewrites.nonEmpty)
      writeMeta(root, readMeta(path).copy(sigBytes = sigBytes(path)))
    rewrites.map(_.removed.size).sum
  }

  def readMeta(path: String): Meta = {
    val prop = IndexLifecycle.readMetaProps(
      Paths.get(path), "signature index", FormatVersion)
    Meta(prop("rowsPerBand").toInt, prop("capPop").toInt,
      prop("maxExtraBits").toInt, prop("nDocs"), prop("sigBytes"),
      prop("appendedDocs"), prop("deletedDocs"))
  }

  /** The joinable keyed frame (k, band, band_sig, sub, doc_id, hsi)
    * from a signature frame + the FROZEN hot/hot2 population tables —
    * [[Similarity.refineHotKeysBy]]'s assignment replayed from
    * persisted aggregates instead of live ones. Cold keys (absent from
    * both tables) get sub = 0 through the same left-join-miss
    * arithmetic, so a fully cold index reproduces the unrefined frame
    * exactly. */
  private def keyedFromSig(sig: DataFrame, meta: Meta,
                           hot: Option[DataFrame],
                           hot2: Option[DataFrame],
                           carryHsi: Boolean = true): DataFrame = {
    val b = banded(sig, meta.rowsPerBand, narrow = false, carryHsi = carryHsi)
    val refined = hot match {
      case None => b.withColumn("sub", lit(0L))
      case Some(h) =>
        val r1 = b.join(broadcast(h), Seq("band", "band_sig"), "left")
          .withColumn("_eb",
            least(widthOver(coalesce(col("_pop"), lit(1L)), meta.capPop),
              lit(meta.maxExtraBits)))
          .withColumn("_sube", expr("_xb & (shiftleft(1L, _eb) - 1)"))
          .drop("_pop")
        hot2 match {
          case None => r1.withColumn("sub", col("_sube")).drop("_eb", "_sube")
          case Some(h2) =>
            r1.join(broadcast(h2), Seq("band", "band_sig", "_sube"), "left")
              .withColumn("_sb",
                widthOver(coalesce(col("_pop2"), lit(1L)), meta.capPop))
              .withColumn("sub", expr(
                "shiftleft(_sube, _sb) | (abs(_salt) & (shiftleft(1L, _sb) - 1))"))
              .drop("_pop2", "_sb", "_eb", "_sube")
        }
    }
    val outCols = Seq(
      xxhash64(col("band"), col("band_sig"), col("sub")).as("k"),
      col("band"), col("band_sig"), col("sub"), col("doc_id")) ++
      (if (carryHsi) Seq(col("hsi")) else Nil)
    refined.select(outCols: _*)
  }

  /** The frozen hot/hot2 population tables, None where a table holds
    * no row (hot2 is consulted only under a non-empty hot). Presence is
    * read from the parquet footers, driver-side: a `df.isEmpty` here
    * was one scheduled job per table per probe call. */
  private def hotTables(spark: SparkSession, indexPath: String)
      : (Option[DataFrame], Option[DataFrame]) = {
    def table(name: String): Option[DataFrame] =
      if (IndexLifecycle.parquetHasRows(spark, Paths.get(indexPath, name)))
        Some(spark.read.parquet(s"$indexPath/$name"))
      else None
    table("hot").fold[(Option[DataFrame], Option[DataFrame])]((None, None))(
      h => (Some(h), table("hot2")))
  }

  /** Near-dup pairs of a NEW increment (doc_id, hs) against the
    * persisted index — (id_new, id_old, n_inter, n_union, jaccard_bp),
    * the exact [[Dedup.lshJaccardPairsAcross]] frame. Per-invocation
    * cost: increment hashing + staging, one column-pruned scan of the
    * index's sig table (semi-pruned by the increment's broadcast band
    * keys before any shuffle), one increment-bounded pair join. The
    * corpus is never re-hashed and nothing corpus-sized is written. */
  def probeSignatureIndex(newHashed: DataFrame, indexPath: String): DataFrame = {
    // stage the increment's signatures to scratch (increment-sized):
    // the frame feeds the distinct-key broadcast AND a join leg, and
    // re-evaluating the md5/MinHash kernels per reference is the exact
    // cost probeKeyed's staging exists to avoid
    val (incDir, incBytes) = stageIncrement(newHashed)
    probeStagedIncrement(newHashed.sparkSession, incDir, incBytes, indexPath)
  }

  /** Hash+stage an increment's signature columns to a scratch parquet
    * dir, returning (path, bytes). Split out of [[probeSignatureIndex]]
    * (round-13 opt) so a mutation loop probing the SAME increment
    * between triggers stages it ONCE per invocation — the takedown
    * loop re-ran the corpus-scan + shingle/MinHash kernels and
    * re-wrote the staging on every trigger for an increment that is
    * fixed by construction. */
  def stageIncrement(newHashed: DataFrame): (String, Long) = {
    val incDir = Files.createTempDirectory("graft_inc_sig_")
    Dedup.registerScratchDir(incDir)
    newHashed.select(sigColumns: _*)
      .write.mode("overwrite").parquet(incDir.toString)
    (incDir.toString, IndexLifecycle.parquetBytes(incDir))
  }

  /** [[probeSignatureIndex]] body over an ALREADY-STAGED increment —
    * reads the index state (live sig minus tombstones, hot/hot2) fresh
    * on every call, so per-trigger probes between mutations see each
    * mutation immediately; only the increment staging is reused. */
  def probeStagedIncrement(spark: SparkSession, stagedIncDir: String,
                           incBytes: Long, indexPath: String): DataFrame = {
    val meta = readMeta(indexPath)
    val nBands = MinHashCoeffs.length / meta.rowsPerBand
    val (hot, hot2) = hotTables(spark, indexPath)
    val incSig = spark.read.schema(SigSchema).parquet(stagedIncDir)

    val sigScan = liveSig(spark, indexPath)
    // SLIM corpus side for the prune: the hsi set payload is ~90% of
    // the index bytes, and band-exploding it duplicates every corpus
    // row's set nBands times through the semi — measured 2× the whole
    // probe at the 16M rung (§4.16). So the semi runs over the key
    // columns only, and hsi is FETCHED afterwards for the survivors
    // alone (increment-bounded: ≤ |increment band keys| × capPop), via
    // a broadcast semi at the payload scan.
    val corpusKeyedSlim = keyedFromSig(sigScan, meta, hot, hot2,
      carryHsi = false)
    val incKeyed0 = keyedFromSig(incSig, meta, hot, hot2)
    // increment band keys, broadcast into a LEFT SEMI prune: the
    // corpus-banded scan drops every row whose bucket the increment
    // never touches BEFORE any exchange — the corpus side of the pair
    // join is increment-bounded, not corpus-sized
    val incKeys = incKeyed0.select(col("k")).distinct()
    // eager checkpoint: the slim semi feeds BOTH the survivor-id
    // broadcast and the pair join's corpus leg; without materialization
    // the corpus-wide explode+semi runs twice. Survivors are
    // increment-bounded, so the blocks are small (same bounded
    // lingering as the gate's batch checkpoint).
    val prunedSlim = corpusKeyedSlim.join(broadcast(incKeys), Seq("k"), "left_semi")
      .localCheckpoint(true)
    val survivorIds = prunedSlim.select(col("doc_id")).distinct()
    val pruned0 = prunedSlim.join(
      sigScan.select(col("doc_id"), col("hsi"))
        .join(broadcast(survivorIds), Seq("doc_id"), "left_semi"),
      Seq("doc_id"))

    // same width policy + same full-tuple/non-foldable-sub discipline
    // as the fat self-join (§4.9/§4.12); sized by the INCREMENT, the
    // only working set that scales with this operator's input
    def unfoldSub(df: DataFrame): DataFrame =
      df.withColumn("sub", col("sub")
        .bitwiseOR(xxhash64(col("doc_id")).bitwiseAND(lit(0L))))
    val (incKeyed, pruned) =
      Dedup.fatJoinWidth(spark, incBytes, nBands) match {
        case Some(n) =>
          (unfoldSub(incKeyed0).repartition(n,
            col("k"), col("band"), col("band_sig"), col("sub")),
           unfoldSub(pruned0).repartition(n,
            col("k"), col("band"), col("band_sig"), col("sub")))
        case None => (incKeyed0, pruned0)
      }
    incKeyed.hint("SHUFFLE_HASH").as("a")
      .join(pruned.as("b"),
        col("a.k") === col("b.k") &&
          col("a.band") === col("b.band") &&
          col("a.band_sig") === col("b.band_sig") &&
          col("a.sub") === col("b.sub"))
      .select(col("a.doc_id").as("id_new"), col("b.doc_id").as("id_old"),
        org.apache.spark.sql.graft.HashExpressions
          .sorted_inter_size(col("a.hsi"), col("b.hsi")).as("n_inter"),
        (size(col("a.hsi")) + size(col("b.hsi"))).as("sz"))
      .withColumn("n_union", col("sz") - col("n_inter")).drop("sz")
      .groupBy(col("id_new"), col("id_old"))
      .agg(max(col("n_inter")).cast("long").as("n_inter"),
        max(col("n_union")).cast("long").as("n_union"))
      .withColumn("jaccard_bp",
        floor(col("n_inter").cast("long") * 10000 / col("n_union")).cast("long"))
  }

  /** Corpus SELF near-dup pairs straight off the persisted index —
    * [[Dedup.lshJaccardPairs]]'s frame without re-hashing anything:
    * the keyed frame is reconstituted from the sig scan plus the
    * frozen population tables (identical to the live-refined one,
    * since both measure the same corpus) and rides the same
    * width-governed SHUFFLE_HASH band self-join. */
  def selfPairsFromIndex(spark: SparkSession, indexPath: String): DataFrame = {
    val meta = readMeta(indexPath)
    val (hot, hot2) = hotTables(spark, indexPath)
    val keyed = keyedFromSig(
      liveSig(spark, indexPath), meta, hot, hot2)
    Dedup.fatJoinPairs(keyed,
      Dedup.fatJoinWidth(spark, meta.sigBytes,
        MinHashCoeffs.length / meta.rowsPerBand))
  }

  /** STAGED STRONG-PAIR GRAPH, materialized once beside the index
    * (`pairs/`): the round-9 CcProbe decomposition (`graft.CcProbe` at
    * `ad24016`) showed connected
    * components is FLAT across the ladder (21.0 s at 2M → 22.1 s at
    * 4M, 5 rounds both) while strong-edge production carries the
    * entire dedup_clusters growth (~130-210 s of the 308 s 4M rung) —
    * so the edge list is exactly the artifact to compute once per
    * corpus and reread, same lifecycle as the signatures themselves.
    * Stored with jaccard_bp at a build-time floor so one
    * materialization serves every downstream threshold ≥ the floor.
    * Appends invalidate it (the restage is cheaper than incremental
    * maintenance — measured, §4.23); DELETES keep it valid via the
    * read-side tombstone filter below. */
  def ensureSelfPairs(spark: SparkSession, indexPath: String,
                      floorBp: Long = 5000): DataFrame = {
    val dir = Paths.get(indexPath, "pairs")
    // leading _ on the marker → invisible to the scan
    val tombsMark = dir.resolve("_STAGED_TOMBS")
    IndexLifecycle.ensureMarked(dir.resolve("_PAIRS_OK"),
      s"floorBp=$floorBp") {
      selfPairsFromIndex(spark, indexPath)
        .filter(col("jaccard_bp") >= floorBp)
        .write.mode("overwrite").parquet(dir.toString)
      // record the tombstone state the stage already reflects (the
      // graph comes from liveSig, so ids tombstoned BEFORE this stage
      // are absent): reads under the same state skip the filter —
      // without the watermark, a delete→restage sequence would pay
      // two corpus-wide anti-joins per clustering forever, filtering
      // ids that cannot be present (round-12 third-pass finding)
      Files.write(tombsMark, tombstoneState(indexPath)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // NOTE: the band join staged a corpus-sized scratch table; the
      // ladder harness (ScaleBench) reclaims it via Dedup.purgeScratchDirs()
      // between measurements (not here — the caller owns scratch
      // lifecycle, and purging inside would kill sibling stages)
    }
    // read-side tombstone filter: the staged graph survives deletes
    // (edge presence is pairwise-local — the survivors' graph is the
    // staged graph minus edges touching a deleted id); strategy by
    // measured bytes, same as every tombstone consumer; SKIPPED when
    // the staged watermark matches the current tombstone state
    val pairs = spark.read.parquet(dir.toString)
    val stagedFp =
      if (Files.isRegularFile(tombsMark))
        new String(Files.readAllBytes(tombsMark),
          java.nio.charset.StandardCharsets.UTF_8)
      else "" // pre-watermark staging: filter conservatively
    IndexLifecycle.tombstones(spark, Paths.get(indexPath), "doc_id") match {
      case Some((ts, bytes)) if stagedFp != tombstoneState(indexPath) =>
        val fa = IndexLifecycle.boundedIdJoin(pairs,
          ts.withColumnRenamed("doc_id", "id_a"), "id_a", bytes, "left_anti")
        IndexLifecycle.boundedIdJoin(fa,
          ts.withColumnRenamed("doc_id", "id_b"), "id_b", bytes, "left_anti")
          // a USING join fronts its key column: restore the frame shape
          .select(pairs.columns.map(col).toIndexedSeq: _*)
      case _ => pairs
    }
  }

  /** The snapshot's tombstone files by name — an exact stamp of the
    * tombstone state, since snapshot files are immutable and uniquely
    * named ("" when there are none). */
  private def tombstoneState(indexPath: String): String =
    files(indexPath, "tombstones").map(_.getFileName.toString).sorted
      .mkString(",")

  /** Near-dup CLUSTERS off the persisted index: connected components
    * over the staged strong-pair graph. After the one-time pairs
    * materialization this costs a pairs scan + the (flat, ~22 s at 4M)
    * CC rounds — vs recomputing the whole band join per clustering
    * run. `minJaccardBp` must be ≥ the floor the pairs were staged
    * with. Output: (doc_id, cluster_id) like
    * [[Dedup.connectedComponents]]. */
  def clustersFromIndex(spark: SparkSession, indexPath: String,
                        minJaccardBp: Long = 5000,
                        floorBp: Long = 5000): DataFrame = {
    require(minJaccardBp >= floorBp,
      s"pairs were staged at floor $floorBp; cannot filter below it")
    val pairs = ensureSelfPairs(spark, indexPath, floorBp)
      .filter(col("jaccard_bp") >= minJaccardBp)
      .select(col("id_a"), col("id_b"))
    val verts = liveSig(spark, indexPath).select(col("doc_id"))
    Dedup.connectedComponents(verts, "doc_id", pairs)
  }

  /** One-shot MUTATION guard beside an index: run `mutate` exactly
    * once per (index instance, name) — the delete-once discipline for
    * cached fixture indexes whose mutations are result-idempotent
    * (tombstones anti-join the same either way) but whose meta
    * counters must not re-accumulate across registry invocations. A
    * rebuild lands in a fresh fingerprinted dir, so the marker
    * naturally resets with the index. */
  def ensureSidecarMarkerOnce(indexPath: String, name: String)
                             (mutate: => Unit): Unit =
    IndexLifecycle.ensureMarked(
      Paths.get(indexPath, s"_ONCE_${name.toUpperCase}_OK"), "")(mutate)

  /** Build-once SIDECAR table beside an index (marker-stamped, same
    * single-writer contract): gate artifacts that are keyed to the
    * same corpus as the index but not part of the signature format —
    * e.g. the exact-dedup md5 set. `build` writes parquet at the given
    * path; the marker commits it. */
  def ensureSidecar(indexPath: String, name: String)
                   (build: String => Unit): String = {
    val dir = Paths.get(indexPath, name)
    IndexLifecycle.ensureMarked(
      Paths.get(indexPath, s"_SIDECAR_${name.toUpperCase}_OK"), "")(
      build(dir.toString))
    dir.toString
  }

  /** Streaming-ingest ADMISSION GATE, one micro-batch at a time — the
    * signature family's [[IndexLifecycle.gate]] (see there for the
    * per-trigger steps and bounds), which a foreachBatch sink runs per
    * trigger (`graft.queries.StreamingQueries.gateLoop`). Returns the
    * rows of `batch` (projected to `keep`) that pass every check
    * against the persisted corpus index:
    *  - not an exact duplicate: md5 absent from the `gate_md5` sidecar
    *    (NOT subsumable by the band checks — a document with fewer than
    *    `shingleK` tokens has an EMPTY shingle set, a null MinHash
    *    signature and therefore no band rows at all, yet its exact
    *    copies must still be rejected);
    *  - no strong near-duplicate (set-Jaccard ≥ 1/2, integer-exact:
    *    3·|A∩B| ≥ |A|+|B|) through any of the first `nGateBands` LSH
    *    bands of the index.
    *
    * The family's steps: the batch is hashed (md5, shingles, MinHash,
    * sorted shingle set) in the one batch collect; the md5 sidecar is
    * read in one scan filtered by the batch's md5 set; the candidate
    * step is one unshuffled, unsorted scan of the live `sig/` table
    * whose first `nGateBands` bands stream through a broadcast hash join
    * on the batch's band rows, with the strong-Jaccard residual in the
    * join. Four jobs at most — the batch collect, the md5 scan, the
    * broadcast of the band rows, the sig scan — and the later ones are
    * skipped when nothing is left to check. Index tables are read with
    * their known schemas, so no schema-inference job runs per trigger.
    *
    * The gate deliberately IGNORES the index's hot/hot2 refinement
    * tables: refinement shards a hot bucket to bound PAIR-JOIN output,
    * but a gate needs EXISTENCE, and a strong-but-not-identical pair
    * split across shards would be silently admitted — a semantics
    * change.
    *
    * `nGateBands` = 2 matches the reference gate's two-band form (and
    * its DuckDB oracle twin); a production corpus gate would raise it
    * toward the index's full band count for higher recall. */
  def gateBatchThroughIndex(batch: DataFrame, indexPath: String,
                            keep: Seq[String], shingleK: Int = 5,
                            nGateBands: Int = 2): DataFrame =
    gate(batch, indexPath, keep, None, shingleK, nGateBands)

  /** Known schemas of the index tables: reading with them skips the
    * footer-merging schema-inference job every bare
    * `spark.read.parquet` schedules. The sig/ schema is DERIVED from
    * [[sigColumns]] (analysis only, no job), so the layout is stated
    * once. */
  private lazy val SigSchema: StructType =
    SparkSession.active.range(0)
      .select(col("id").as("doc_id"), Dedup.shingleHashes(lit(""), 1).as("hs"))
      .select(sigColumns: _*).schema
  /** The md5 sidecars' one layout, used by the gate-append writer and
    * every reader: `gate_md5` (c_md5 only; the other columns read as
    * null) and the gate-append sidecar (c_md5, c_doc, c_batch). */
  private val Md5Schema = StructType(Seq(StructField("c_md5", StringType),
    StructField("c_doc", LongType), StructField("c_batch", LongType)))

  /** The signature family's [[IndexLifecycle.gate]]: the admitted rows
    * projected to `keep`. The held rows are keep ∪ (doc_id, i_md5, sig,
    * hsi) — plus hs when `appendBatch` is set, so the append needs no
    * re-hashing. */
  private[graft] def gate(batch: DataFrame, indexPath: String,
                          keep: Seq[String], appendBatch: Option[Long],
                          shingleK: Int = 5, nGateBands: Int = 2): DataFrame = {
    import org.apache.spark.sql.graft.HashExpressions
    val rpb = readMeta(indexPath).rowsPerBand
    require(nGateBands * rpb <= MinHashCoeffs.length,
      s"gate wants $nGateBands bands of $rpb rows; " +
        s"only ${MinHashCoeffs.length} signature values exist")
    val hash: DataFrame => DataFrame = _
      .withColumn("i_md5", md5(col("text")))
      .withColumn("hs", Dedup.shingleHashes(col("text"), shingleK))
      .withColumn("sig", HashExpressions.minhash_sigs(col("hs")))
      .withColumn("hsi", array_sort(transform(col("hs"),
        h => (h - 2147483648L).cast("int"))))
      .select((keep ++ Seq("doc_id", "i_md5", "sig", "hsi") ++
        appendBatch.map(_ => "hs")).distinct.map(col): _*)
    val (schema, admitted, _) = IndexLifecycle.gate(IndexLifecycle.Gate(
      Paths.get(indexPath), "doc_id", hash,
      IndexLifecycle.Sidecar(GateAppendMd5Dir, Md5Schema, "c_doc", "c_batch"),
      Some(IndexLifecycle.ExactKey("i_md5", "c_md5", Seq(s"$indexPath/gate_md5"))),
      nearDups(batch.sparkSession, indexPath, rpb, nGateBands),
      threshold = 0L), batch, appendBatch)(
      admitted => appendToIndex(admitted.select(col("doc_id"), col("hs")), indexPath))
    LocalRows.frame(batch.sparkSession, schema, admitted).select(keep.map(col): _*)
  }

  /** The gate's candidate step: the held rows' first `nGateBands`
    * bands, cut on the driver exactly as the corpus side's slice(), as a
    * broadcast local relation joined to one scan of the live sig/ table
    * (minus the excluded doc ids) — one (batch doc, corpus doc, score)
    * row per band match. The score is the strong-Jaccard residual
    * 3·|A∩B| − (|A|+|B|): set-Jaccard ≥ 1/2 exactly when it is ≥ 0, the
    * gate's threshold. A null signature (empty shingle set) has no
    * bands and matches nothing — the oracle's null-signature
    * semantics. */
  private def nearDups(spark: SparkSession, indexPath: String, rpb: Int,
                       nGateBands: Int)(
      schema: StructType, rows: Seq[InternalRow],
      excluded: Set[Long]): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.graft.HashExpressions
    val Seq(fDoc, fSig, fHsi) = Seq("doc_id", "sig", "hsi").map(schema.fieldIndex)
    val bands = rows.iterator.filterNot(_.isNullAt(fSig)).flatMap { r =>
      val sig = r.getArray(fSig).toLongArray
      val hsi = r.getArray(fHsi)
      (0 until nGateBands).map(b => InternalRow(r.getLong(fDoc), b,
        ArrayData.toArrayData(sig.slice(b * rpb, (b + 1) * rpb)), hsi))
    }.toSeq
    Option.when(bands.nonEmpty) {
      val bandSchema = StructType(Seq(schema(fDoc).copy(name = "b_doc"),
        StructField("band", IntegerType), schema(fSig).copy(name = "band_sig"),
        schema(fHsi)))
      val live = liveSig(spark, indexPath)
      val corpus =
        if (excluded.isEmpty) live
        else live.filter(!HashExpressions.in_set(col("doc_id"), excluded))
      corpus.select(col("doc_id"), col("hsi").as("c_hsi"),
          posexplode(transform(sequence(lit(0), lit(nGateBands - 1)),
            b => slice(col("sig"), b * rpb + 1, lit(rpb))))
            .as(Seq("c_band", "c_band_sig")))
        .join(broadcast(LocalRows.frame(spark, bandSchema, bands)),
          col("c_band") === col("band") && col("c_band_sig") === col("band_sig"))
        .select(col("b_doc"), col("doc_id"), (lit(3L) * HashExpressions
          .sorted_inter_size(col("hsi"), col("c_hsi")) -
          size(col("hsi")) - size(col("c_hsi"))).cast("long"))
    }
  }

  /** The PRODUCTION ingest composition — gate the batch, then APPEND
    * the admissions — run once per micro-batch by a foreachBatch sink:
    * the same [[IndexLifecycle.gate]] as the stateless gate decides
    * against the index AS OF this trigger, and the admitted rows' md5s
    * (sidecar first) and signatures are appended so TOMORROW'S
    * increment dedups against TODAY'S admissions. A later batch
    * carrying a copy of an earlier batch's admission is REJECTED — the
    * property the stream_gate_append oracle hashes across a
    * 3-batch-plus-replay staging.
    *
    * Semantics vs the stateless gate: admission is ORDER-DEPENDENT
    * (the first arrival of a duplicate class wins; later copies
    * reject) and batch-boundary-dependent WITHIN the increment (two
    * copies in the SAME batch are both admitted — the gate probes the
    * index, not the in-flight batch; the oracle twin replays the
    * staged batch cuts exactly).
    *
    * Replay: the md5 check ignores append-sidecar rows with
    * `c_batch = batchId`, and the band check filters the sig rows of
    * those recorded admissions out of its scan (the batch-scoped
    * exclusion of [[IndexLifecycle.gate]]). The corpus `gate_md5`
    * sidecar needs no exclusion: the caller's corpus/increment split
    * keeps the id spaces disjoint.
    *
    * Per-trigger cost: the gate's jobs plus two increment-sized
    * appends, six jobs at most. */
  def gateAndAppendBatch(batch: DataFrame, indexPath: String,
                         keep: Seq[String], batchId: Long,
                         shingleK: Int = 5,
                         nGateBands: Int = 2): DataFrame =
    gate(batch, indexPath, keep, Some(batchId), shingleK, nGateBands)

  /** Build-once signature index of a fixture's documents (the
    * oracle/bench path): the "sigindex" family of
    * [[graft.storage.ArtifactCache]], keyed by (version, sfDir,
    * documents fingerprint, `name`) and built at the default band
    * geometry. `hashed` is evaluated only on a cold key. Returns the
    * index path. */
  def ensureIndex(hashed: => DataFrame, sfDir: String, name: String,
                  version: Int = FormatVersion): String =
    graft.storage.ArtifactCache.cached("sigindex", version, sfDir,
      "documents.parquet", name)(buildSignatureIndex(hashed, _))
}
