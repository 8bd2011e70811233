package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.artifact.graft.ArtifactScope
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StreamingInternals
import org.apache.spark.sql.types._

/** Structured Streaming building blocks (SURVEY §2.9).
  *
  * The reference runs DStream micro-batches with processing-time
  * window buffers (`SparkStreamingApp.java:129-190`, 1 s batches,
  * 600 s late-data windows). Here the same semantics are re-expressed
  * event-time-correct: watermarks replace the explicit window buffer
  * (W2/W3), checkpointed sources replace manual offset commit (W4/W5),
  * and `maxOffsetsPerTrigger`-style rate limits replace backpressure
  * (W6). Kafka ingress/egress uses the same code path
  * (`readStream.format("kafka")`) — the container has no broker, so
  * tests drive file and memory sources through identical plans.
  */
object StreamingOps {

  /** Format version of the STAGED event-batch layout, embedded in every
    * staging-cache directory name. The cache key without it — (sfDir,
    * source fingerprint) — only detects source REGENERATION; it cannot
    * see a code change to the staged format itself. That bit round 5:
    * the staged `ts` unit changed micros→nanos and a round-4-era staged
    * dir (source untouched) was silently read as nanos, compressing the
    * event timeline 1000×. Bump this on ANY change to the staged
    * layout, units, or schema; old-version dirs simply stop being
    * addressed (and are left for tmp-dir cleanup).
    *   v1: ts micros (rounds ≤4)   v2: ts nanos (round 5+)
    *   v3: sentinel row rides INSIDE the last data batch file instead
    *       of a 4th file (round 7+) — one fewer trigger per sentinel
    *       stream; identical rows (the watermark only advances at
    *       batch END, so the co-batched sentinel cannot late-drop the
    *       real rows it shares a file with, and the flush batch that
    *       follows evicts exactly the same state either way). */
  private[graft] val StageFormatVersion = 3

  /** Canonical RAW events schema: ts as long NANOS. Staged batch files
    * are always written in this shape, whatever the source's physical
    * encoding (see [[rawEventsNs]]), so the streaming read path and the
    * oracle twins' nanosecond cut arithmetic never depend on which
    * testdata generation produced the source parquet. */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Batch-read an events parquet into [[eventsRawSchema]] shape (ts =
    * long nanos) regardless of the file's physical ts encoding:
    * int64 nanos (legacy TIMESTAMP(NANOS) testdata, ScaleGen fixtures)
    * or timestamp[us] (current testdata, reads as TIMESTAMP_NTZ). The
    * session timezone is pinned UTC, so the NTZ→timestamp cast is
    * lossless and `unix_micros * 1000` equals DuckDB's `epoch_ns`. */
  private[graft] def rawEventsNs(spark: SparkSession, path: String): DataFrame = {
    // Intentionally session-permanent: the flag only affects schema
    // mapping of parquet TIMESTAMP(NANOS) columns (no other graft table
    // has one), and the scan that needs it executes LAZILY — restoring
    // the flag before the action runs would break the read it was set
    // for. Same setting, same rationale, in Tables.events.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(path)
    val ns = raw.schema("ts").dataType match {
      case LongType => raw
      case TimestampNTZType => raw.withColumn(
        "ts", expr("unix_micros(cast(ts as timestamp)) * 1000L"))
      case TimestampType => raw.withColumn("ts", expr("unix_micros(ts) * 1000L"))
      case other => throw new IllegalStateException(s"unexpected events.ts type $other")
    }
    // cast every column to its canonical type (not just reorder): staged
    // files must be schema-EXACT whatever this testdata generation's
    // physical types, or eventsStream's forced readStream schema would
    // fail at stream time instead of here
    ns.select(eventsRawSchema.fields.toIndexedSeq
      .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  /** Streaming read of the events parquet as a MULTI-batch stream:
    * the table is staged (once per sfDir, idempotent) into
    * `nBatches` event-time-contiguous parquet files with ascending
    * modification times, and the file source takes them one per
    * micro-batch (`maxFilesPerTrigger=1`, oldest first). Batches
    * arrive in event-time order, so no row is ever behind the
    * watermark — the multi-batch result equals the batch twin, and
    * cross-batch state (join buffers, session merges, dedup keys,
    * completion sets) is genuinely exercised by the oracle gate, not
    * just by specs. Mirrors Tables.events' nanos→µs conversion. */
  def eventsStream(spark: SparkSession, sfDir: String,
                   nBatches: Int = 3): DataFrame =
    eventsFrom(spark, stageEventBatches(spark, sfDir, nBatches))

  /** The HOSTILE-arrival-order twin of [[eventsStream]]: the same three
    * event-time slices staged as (middle, last, FIRST) — the final
    * micro-batch arrives ~an event-time-third behind the watermark the
    * first two batches established. Rows of that batch are genuinely
    * LATE at the join/aggregation operators (ts < watermark in effect),
    * so a query over this stream exercises the drop-beyond-watermark
    * path with oracle-checkable output (reference semantics: the 600 s
    * retry buffer discards a leg that never finds its match in time,
    * `PedestrianReIDUsingAttrApp.java:176-192`). */
  def eventsStreamLateArrival(spark: SparkSession, sfDir: String): DataFrame =
    eventsFrom(spark,
      stageEventBatches(spark, sfDir, 3, arrivalOrder = Seq(1, 2, 0)))

  /** [[eventsStream]] plus a SENTINEL row: one synthetic row
    * (event_id = -1, event-time 2 h past the corpus max) staged INSIDE
    * the last data batch file (StageFormatVersion v3 — it used to be a
    * dedicated 4th file; co-batching saves one trigger per run and the
    * rows are identical because the watermark only advances at batch
    * END). Its only job is to push the watermark past every real row's
    * join/aggregation horizon so watermark-driven state EVICTION
    * (outer-join null emission, final window closes) actually happens
    * inside the run's trailing no-data batch — with a file source,
    * nothing else advances the watermark after the last real batch,
    * and unmatched outer-join rows would sit in state forever.
    *
    * `sentinelType` must be chosen so the sentinel SURVIVES every
    * per-leg row filter between source and watermark node: Catalyst
    * pushes single-side predicates (even ones written into a join
    * condition) below EventTimeWatermark when they don't reference the
    * event-time column, and a sentinel removed there never advances
    * that leg's watermark — the min-policy global watermark stalls at
    * the filtered subset's max event time (observed: a 'purchase'-leg
    * filter pinned the watermark 32 min short of the corpus tail).
    * Queries exclude the sentinel from RESULTS by event_id < 0
    * instead, after materialization. */
  def eventsStreamWithSentinel(spark: SparkSession, sfDir: String,
                               nBatches: Int = 3,
                               sentinelType: String = "sentinel"): DataFrame =
    eventsFrom(spark,
      stageEventBatches(spark, sfDir, nBatches,
        sentinel = true, sentinelType = sentinelType))

  private def eventsFrom(spark: SparkSession, dir: String): DataFrame =
    stagedStream(spark, eventsRawSchema, dir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000L")))

  /** A file stream over a staged directory: one file per trigger,
    * oldest mtime first. A file source cannot infer, so `schema` must
    * match the staged files exactly. */
  private def stagedStream(spark: SparkSession, schema: StructType,
                           dir: String): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(dir)

  /** documents.parquet schema for the forced file-stream schema (a
    * file source cannot infer; must match the staged parts exactly). */
  val documentsRawSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming read of the documents table as a MULTI-batch stream —
    * the ingest-side twin of [[eventsStream]] for corpus pipelines:
    * the table is staged once per sfDir into `nBatches` doc_id-
    * contiguous parquet files with ascending mtimes and the file
    * source takes one per micro-batch. Documents have no event time,
    * so there is no ordering/sentinel machinery: the consumers are
    * stateless gates (stream-static joins) or content-keyed state
    * (dedup seen-sets), both batch-split-invariant. */
  def documentsStream(spark: SparkSession, sfDir: String,
                      nBatches: Int = 3): DataFrame =
    stagedStream(spark, documentsRawSchema, stageDocBatches(spark, sfDir, nBatches))

  /** Explicit schema for the staged embeddings stream. */
  val embeddingsRawSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming read of the embeddings INCREMENT (the last tenth of the
    * id space — this fixture family's standard new-arrivals slice,
    * shared with dedup_embed_incremental / ann_index_append) as a
    * multi-batch stream: staged once per sfDir into `nBatches`
    * vec_id-contiguous parquet files with ascending mtimes, one per
    * micro-batch. Like documents, embeddings have no event time; the
    * consumer is the stateless ANN-index gate. */
  def embeddingsStream(spark: SparkSession, sfDir: String,
                       nBatches: Int = 3): DataFrame =
    stagedStream(spark, embeddingsRawSchema, stageVecBatches(spark, sfDir, nBatches))

  /** [[embeddingsStream]] plus a TRAILING REPLAY micro-batch — the
    * vector twin of [[documentsStreamWithReplay]]: after the
    * `nBatches` staged increment slices, one more file re-sends every
    * batch-0 row as an exact copy under `vec_id + ReplayIdOffset`.
    * Purpose-built for the ANN gate→append oracle
    * (stream_embed_gate_append): a copy of an earlier batch's
    * ADMISSION must be rejected by the append carry. */
  def embeddingsStreamWithReplay(spark: SparkSession, sfDir: String,
                                 nBatches: Int = 3): DataFrame =
    stagedStream(spark, embeddingsRawSchema,
      stageVecBatches(spark, sfDir, nBatches, replayStage0 = true))

  /** Id offset of REPLAYED documents in the gate-append staging
    * ([[documentsStreamWithReplay]]): a replayed row is a byte-exact
    * COPY of a batch-0 increment row under `orig_id + ReplayIdOffset`
    * — far above any fixture id space, and recoverable (`doc_id %
    * ReplayIdOffset` is the original), which is how the consumer's
    * bucket filter keeps every replay row in the stream. */
  private[graft] val ReplayIdOffset: Long = 1L << 40

  /** [[documentsStream]] plus a TRAILING REPLAY micro-batch: after the
    * `nBatches` staged slices, one more file re-sends every batch-0
    * row whose ORIGINAL doc_id buckets ≥ 90 (the standard increment
    * split) as an exact copy under a fresh id (+[[ReplayIdOffset]]).
    * Purpose-built for the gate→append production-loop oracle: the
    * fixture's natural duplicate clusters rarely straddle the staged
    * batch cuts (measured 0 cross-batch pairs at sf ≤ 0.01), so the
    * property under test — a later batch carrying a copy of an
    * earlier batch's ADMISSION must be rejected — needs planted
    * copies to be non-vacuous at oracle SFs. */
  def documentsStreamWithReplay(spark: SparkSession, sfDir: String,
                                nBatches: Int = 3): DataFrame =
    stagedStream(spark, documentsRawSchema,
      stageDocBatches(spark, sfDir, nBatches, replayStage0 = true))

  /** A source table the stream stagers cut into batch files: the
    * parquet under sfDir, the staged files' name prefix, the column
    * the ranges cut, how the table is read, which key range is staged
    * (from the column's min and max), which of batch 0's rows a replay
    * file re-sends, and the staged files' write options. */
  private final case class StagedSource(
      file: String, prefix: String, key: String,
      read: (SparkSession, String) => DataFrame,
      range: (Long, Long) => (Long, Long),
      replayRows: DataFrame => DataFrame,
      writeOptions: Map[String, String])

  private def typed(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.toIndexedSeq
      .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)

  private val EventSource = StagedSource("events.parquet", "events", "ts",
    rawEventsNs, (lo, hi) => (lo, hi), identity, Map.empty)

  /** Documents: the replay re-sends only rows whose original doc_id
    * buckets ≥ 90 (the increment split), and the staged files carry
    * 16 MB row groups. A file is one trigger, and the file source
    * splits it across cores only at row-group boundaries: with the
    * default 128 MB groups a 130-260 MB file (ScaleGen's 1M-2M rungs)
    * read as one or two partitions, so a gate trigger hashed its batch
    * on one or two cores. */
  private val DocSource = StagedSource("documents.parquet", "documents", "doc_id",
    (s, p) => typed(s.read.parquet(p), documentsRawSchema), (lo, hi) => (lo, hi),
    _.filter(pmod(graft.functions.HashFunctions.hash32(
      col("doc_id").cast("string")), lit(100)) >= 90),
    Map("parquet.block.size" -> (16L << 20).toString))

  /** Embeddings: only the increment, vec_id ≥ (max+1)·9/10, is staged. */
  private val VecSource = StagedSource("embeddings.parquet", "vecinc", "vec_id",
    (s, p) => typed(s.read.parquet(p), embeddingsRawSchema),
    (_, hi) => ((hi + 1) * 9 / 10, hi), identity, Map.empty)

  /** The one stream slicer: cut `src` into `nBatches` contiguous ranges
    * of its key and stage each as one parquet file, built once per
    * [[graft.storage.ArtifactCache]] key ("stream" family, `version`,
    * sfDir, source fingerprint, `name`). With [lo, hi] the staged key
    * range and span = max(hi - lo, 1), cut b covers
    * [lo + span·b/n, lo + span·(b+1)/n), the last cut open above — the
    * integer arithmetic the stream oracle twins replay. Arrival
    * position `pos` receives cut `order(pos)` as `<prefix>_<pos>` with
    * mtime base + pos·2 s, so the file source takes them in that order;
    * `last` rows ride in the last-arriving file; `replay` adds one
    * trailing file of batch 0's [[StagedSource.replayRows]] under
    * key + [[ReplayIdOffset]]. Jobs: one min/max aggregate, one write
    * per file. */
  private def stageCuts(spark: SparkSession, sfDir: String, src: StagedSource,
                        name: String, version: Int, nBatches: Int,
                        order: Seq[Int], last: Long => Option[DataFrame],
                        replay: Boolean): String =
    graft.storage.ArtifactCache.cached("stream", version, sfDir, src.file, name) { build =>
      import java.nio.file.{Files, Paths}
      val path = Paths.get(sfDir, src.file)
      val raw = src.read(spark, path.toString)
      val mm = raw.agg(min(col(src.key)), max(col(src.key))).head()
      require(!mm.isNullAt(0),
        s"cannot stage streaming ${src.prefix} batches: $path has no rows")
      val (lo, hi) = src.range(mm.getLong(0), mm.getLong(1))
      val span = math.max(hi - lo, 1L)
      def cut(b: Int): DataFrame = raw.filter(col(src.key) >= lo + span * b / nBatches &&
        (if (b == nBatches - 1) lit(true) else col(src.key) < lo + span * (b + 1) / nBatches))
      val arrivals = order.map(cut)
      val files = arrivals.init ++
        Seq(last(hi).fold(arrivals.last)(arrivals.last.unionByName(_))) ++
        (if (!replay) Nil
         else Seq(src.replayRows(cut(0))
           .withColumn(src.key, col(src.key) + lit(ReplayIdOffset))))
      val base = System.currentTimeMillis()
      Files.createDirectories(Paths.get(build))
      for ((df, pos) <- files.zipWithIndex) {
        val tmp = Paths.get(build, s"tmp_$pos")
        df.coalesce(1).write.options(src.writeOptions).parquet(tmp.toString)
        val part = scala.util.Using.resource(Files.list(tmp))(
          _.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet"))
            .getOrElse(throw new IllegalStateException(s"no parquet part in $tmp")))
        val dst = Paths.get(build, f"${src.prefix}_$pos%02d.parquet")
        Files.move(part, dst)
        dst.toFile.setLastModified(base + pos * 2000L)
        org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      }
    }

  /** Stage the embeddings increment into `nBatches` vec_id-contiguous
    * files; `replayStage0` appends the replay file
    * ([[embeddingsStreamWithReplay]]). */
  private[graft] def stageVecBatches(spark: SparkSession, sfDir: String,
                                     nBatches: Int,
                                     replayStage0: Boolean = false): String = {
    require(!replayStage0 || nBatches >= 2, "replay staging needs >= 2 data batches")
    stageCuts(spark, sfDir, VecSource,
      (if (replayStage0) "vecinc_replay_" else "vecinc_") + nBatches,
      StageFormatVersion, nBatches, 0 until nBatches, _ => None, replayStage0)
  }

  /** Stage documents.parquet into `nBatches` doc_id-contiguous files;
    * `replayStage0` appends the gate-append oracle's replay file (see
    * [[documentsStreamWithReplay]]). */
  private[graft] def stageDocBatches(spark: SparkSession, sfDir: String,
                                     nBatches: Int,
                                     replayStage0: Boolean = false): String = {
    require(!replayStage0 || nBatches >= 2, "replay staging needs >= 2 data batches")
    stageCuts(spark, sfDir, DocSource,
      (if (replayStage0) "documents_replay_" else "documents_") + nBatches,
      StageFormatVersion, nBatches, 0 until nBatches, _ => None, replayStage0)
  }

  private def eventsStageName(nBatches: Int, arrivalOrder: Seq[Int],
                              sentinel: Boolean, sentinelType: String): String =
    s"events_$nBatches" +
      (if (arrivalOrder.isEmpty) "" else "_o" + arrivalOrder.mkString("")) +
      (if (sentinel) s"_sent_$sentinelType" else "")

  /** The staging-cache directory of the events stream for (sfDir,
    * nBatches, ...) at a given staged-format version. Exposed for the
    * stale-format regression spec, which plants an old-version dir and
    * proves it is never addressed by a newer version. */
  private[graft] def stageDir(sfDir: String, nBatches: Int,
                              version: Int = StageFormatVersion,
                              arrivalOrder: Seq[Int] = Nil,
                              sentinel: Boolean = false,
                              sentinelType: String = "sentinel"): java.nio.file.Path =
    graft.storage.ArtifactCache.dir("stream", version, sfDir, "events.parquet",
      eventsStageName(nBatches, arrivalOrder, sentinel, sentinelType))

  /** Split events.parquet into `nBatches` contiguous event-time ranges
    * (see [[stageCuts]] and [[StageFormatVersion]]). Test/verify
    * staging only (the production source is Kafka/file arrival order).
    * `arrivalOrder` permutes which event-time slice arrives at each
    * position: the identity stages ascending batches (no late rows), a
    * permutation makes chosen slices arrive BEHIND the watermark
    * earlier slices established. The sentinel row (event-time 2 h past
    * the corpus max, enough to clear any ±10-minute join horizon or
    * window close in the registry) rides in the LAST-ARRIVING file:
    * the watermark only advances at batch END, so it cannot late-drop
    * the real rows it shares a batch with, and the no-data flush batch
    * that follows evicts exactly the same state as a dedicated
    * sentinel batch would. */
  private[graft] def stageEventBatches(spark: SparkSession, sfDir: String,
                                       nBatches: Int,
                                       version: Int = StageFormatVersion,
                                       arrivalOrder: Seq[Int] = Nil,
                                       sentinel: Boolean = false,
                                       sentinelType: String = "sentinel"): String = {
    require(arrivalOrder.isEmpty || arrivalOrder.sorted == (0 until nBatches),
      s"arrivalOrder must permute 0..${nBatches - 1}: $arrivalOrder")
    def sentinelRow(tsMax: Long): Option[DataFrame] = if (!sentinel) None else {
      import spark.implicits._
      Some(Seq((-1L, tsMax + 7200L * 1000000000L, -1L, sentinelType, 0.0, ""))
        .toDF(eventsRawSchema.fieldNames.toIndexedSeq: _*))
    }
    stageCuts(spark, sfDir, EventSource,
      eventsStageName(nBatches, arrivalOrder, sentinel, sentinelType), version,
      nBatches, if (arrivalOrder.isEmpty) 0 until nBatches else arrivalOrder,
      sentinelRow, replay = false)
  }

  /** Run a streaming DataFrame to completion into an in-memory table
    * and return it as a batch DataFrame. Deterministic when the source
    * yields a fixed batch sequence (single file = single batch). */
  /** Final StreamingQueryProgress JSON of the last [[runToMemory]] run
    * — lets specs assert on state-store metrics (provider, state rows)
    * after the encapsulated query has stopped. */
  @volatile var lastProgressJson: Option[String] = None

  /** All retained per-batch progress JSONs of the last [[runToMemory]]
    * run (oldest first) — the final batch alone understates streaming
    * state (eviction has already drained it); peak state rows live in
    * the intermediate batches' progress. */
  @volatile var recentProgressJsons: Seq[String] = Nil

  /** RocksDB state store: streaming state lives off-heap on local disk
    * instead of the HDFSBackedStateStore's executor-heap maps. At
    * 100 TB the join-buffer/session state of a dense stream exceeds
    * any executor heap; RocksDB bounds the memory footprint and ships
    * with Spark 4 (rocksdbjni in /opt/spark/jars). */
  val RocksDBProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Spark's default in-memory provider (state in executor-heap maps,
    * durability via delta/snapshot files in the checkpoint). */
  val MemoryProvider: String =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** Source-size threshold for the AUTO state-provider choice: below
    * it the in-memory provider runs (state comfortably fits an
    * executor heap; RocksDB's per-batch changelog-sync fixed cost —
    * measured ~0.3-0.4 s/batch/operator, over half of a toy-scale
    * streaming query's wall time — buys nothing); at or above it,
    * RocksDB + changelog (state may exceed heap; bounded memory wins).
    * The same size-driven strategy-switch pattern as the connected-
    * components local/distributed split: both paths produce identical
    * results (the oracle twins hold on either provider), only the
    * state-backing cost model changes. The recovery proof
    * ([[runWithRestart]]) runs on RocksDB always, and the RocksDB spec
    * pin (StreamingSpec) and the scale ladder (ScaleBench) set
    * `graft.stateProvider=rocksdb`, so the 100-TB configuration stays
    * oracle-checked. */
  val AutoRocksDBSourceBytes: Long = 64L << 20

  /** Total on-disk bytes of `stream`'s OWN file sources, from a walk of
    * the paths its logical plan actually reads — None when the stream
    * has no file source (memory/rate test streams). Replaces the former
    * session-conf handoff (`graft.streamSourceBytes`, set by whichever
    * staging ran LAST): a shared mutable conf let a later run over a
    * different source tune its provider from a stale size. Bounded
    * driver-side work: one directory walk per source path. */
  private[graft] def streamSourceBytes(stream: DataFrame): Option[Long] = {
    import java.nio.file.{Files, Paths}
    val paths = StreamingInternals.fileSourcePaths(stream)
      .map { p => // strip a file: scheme if present; else use verbatim
        val uriPath = scala.util.Try(java.net.URI.create(p).getPath)
          .toOption.filter(s => s != null && s.nonEmpty)
        Paths.get(uriPath.getOrElse(p))
      }
      .filter(Files.exists(_))
    if (paths.isEmpty) None
    else Some(paths.map { p =>
      if (Files.isDirectory(p))
        scala.util.Using.resource(Files.walk(p))(
          _.iterator().asScala.filter(Files.isRegularFile(_))
            .map(Files.size).sum)
      else Files.size(p)
    }.sum)
  }

  /** The state provider a stream over `sourceBytes` of file sources
    * runs on: explicit `graft.stateProvider` (rocksdb|memory) wins;
    * otherwise size-driven off the QUERY'S OWN file sources — RocksDB
    * iff they total at least AutoRocksDBSourceBytes. A stream with no
    * file source (memory/rate test streams) has ephemeral toy state by
    * construction → in-memory provider; every durability proof and the
    * scale ladder pin rocksdb explicitly. */
  private def stateProvider(spark: SparkSession,
                            sourceBytes: Option[Long]): String =
    spark.conf.getOption("graft.stateProvider") match {
      case Some("rocksdb") => RocksDBProvider
      case Some("memory")  => MemoryProvider
      case _ =>
        if (sourceBytes.exists(_ >= AutoRocksDBSourceBytes)) RocksDBProvider
        else MemoryProvider
    }

  /** Run `body` with each of `settings` set on `spark`, restoring
    * every touched key after exactly as it was found: a key the
    * session had set gets its value back, a key it had not set is
    * unset again. */
  private def withConfs[A](spark: SparkSession,
                           settings: Seq[(String, String)])(body: => A): A = {
    val prev = spark.conf.getAll
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally settings.foreach { case (k, _) =>
      prev.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None    => spark.conf.unset(k)
      }
    }
  }

  /** The session conf that scopes a session's artifacts (jars,
    * classes) and, on the executors, its classloader. */
  private val ArtifactIsolationKey = "spark.sql.artifact.isolation.enabled"

  /** The settings every stream graft starts is started under.
    *
    * A stream runs in a clone of the starting session, made when the
    * stream starts, and with artifact isolation on (Spark's default)
    * each clone gets an artifact scope of its own: a fresh session id,
    * so on the executors a fresh classloader. Spark's generated-code
    * cache is keyed on (the thread's context classloader, code), so
    * every run of every stream compiled each of its whole-stage classes
    * again in its tasks, however often the same code ran before. The
    * clone is therefore started outside per-session isolation: its
    * tasks run under the executor's shared classloader and hit classes
    * compiled by earlier runs and triggers.
    *
    * Isolation stays on when the starting session holds jars or
    * classes of its own, which the stream's tasks may need. The
    * starting session's own scope never changes: Spark fixes it
    * lazily, from the conf of that moment, when the session first
    * needs its artifact manager (its first SQL execution, or its
    * first clone at a stream start), so it is fixed here before the
    * conf is touched. A fresh session whose first action is a stream
    * run would otherwise lose its isolation for good. */
  private def streamStartSettings(spark: SparkSession): Seq[(String, String)] = {
    ArtifactScope.fix(spark)
    if (ArtifactScope.hasSessionArtifacts(spark)) Nil
    else Seq(ArtifactIsolationKey -> "false")
  }

  /** Start streams of `spark` inside `body` under the stream start
    * settings ([[streamStartSettings]]), restored after. A stream takes
    * its conf at `start()`, so wrapping the start is enough; the
    * runners below also wrap the run, with the state configuration. */
  def withStreamStart[A](spark: SparkSession)(body: => A): A =
    withConfs(spark, streamStartSettings(spark))(body)

  /** Run `body` under the stream start settings plus the streaming
    * state configuration the engine deploys with — `provider`,
    * changelog checkpointing, state partitions capped at 4 — and
    * `extra`, restoring every touched setting after.
    *
    * Streaming state cost scales with the number of state-store
    * partitions (one store + checkpoint files each, per stateful op).
    * At local bench scale 4 stores beat 32 by ~2.5× (8→4 is another
    * ~15%, flat below 4); on a real cluster this knob is sized to
    * executor count instead. The partition count is fixed at the first
    * checkpoint anyway — it is a per-query setting, restored after.
    * Deployments (and the scale harness) override the cap with
    * `graft.statePartitions`: millions of live state rows want the
    * store sharded across every core/executor, while the 4-store
    * default is tuned for the small-SF gate where per-store fixed
    * cost dominates.
    * Changelog checkpointing: per-batch durability is the delta log,
    * not a full RocksDB snapshot upload — the per-batch fixed cost
    * that dominates short batches, and exactly the knob a 100-TB
    * deployment flips for second-scale triggers. */
  private def withStateConfig[A](spark: SparkSession, provider: String,
                                 extra: Seq[(String, String)] = Nil)
                                (body: => A): A = {
    val stateParts = spark.conf.getOption("graft.statePartitions")
      .map(_.toInt)
      .getOrElse(math.min(4, spark.conf.get("spark.sql.shuffle.partitions").toInt))
    withConfs(spark, streamStartSettings(spark) ++ Seq(
      "spark.sql.shuffle.partitions" -> stateParts.toString,
      "spark.sql.streaming.stateStore.providerClass" -> provider,
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true"
    ) ++ extra)(body)
  }

  /** `noDataBatches = false` disables Spark's trailing no-data
    * micro-batch (`spark.sql.streaming.noDataMicroBatches.enabled`)
    * for this run. Only valid for queries whose RESULT ROWS don't
    * depend on watermark-driven no-data processing: inner stream-
    * stream joins (eviction emits nothing), complete-mode aggregations
    * (every batch re-emits the full result), and stateful ops whose
    * timeouts cannot fire within the corpus horizon. Each opted-out
    * query's oracle hash is the proof the opt-out is sound — eviction/
    * finalization oracles (left-outer null emission, append-mode
    * window close, TTL expiry) keep the default, their no-data batch
    * IS the semantics under test. Saves one trigger execution
    * (~0.5-0.7 s at the small-SF gate) per opted-out query. */
  def runToMemory(spark: SparkSession, stream: DataFrame, name: String,
                  outputMode: String,
                  noDataBatches: Boolean = true): DataFrame = {
    val noData =
      if (noDataBatches) Nil
      else Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    withStateConfig(spark, stateProvider(spark, streamSourceBytes(stream)),
        noData) {
      // Ephemeral run = ephemeral checkpoint: state/offset/commit writes
      // are fsync'd, so place them on tmpfs when present instead of disk
      // (durable pipelines pass a real checkpointLocation of their own,
      // e.g. CompactionJob.startStream).
      val ckpt = java.nio.file.Files.createTempDirectory(ckptBase, "graft_ckpt_")
      try {
        val q = stream.writeStream
          .format("memory")
          .queryName(name)
          .option("checkpointLocation", ckpt.toString)
          .outputMode(outputMode)
          .start()
        try {
          q.processAllAvailable()
          lastProgressJson = Option(q.lastProgress).map(_.json)
          recentProgressJsons = q.recentProgress.toSeq.map(_.json)
        } finally q.stop()
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
      }
    }
    spark.table(name)
  }

  /** Run a streaming frame through a PER-MICRO-BATCH BATCH transform
    * into a parquet sink and return the committed rows as a batch
    * frame — the foreachBatch production shape for stream probes of
    * persisted indexes. A declarative stream-static join can't derive
    * a broadcast from the stream side (the plan is fixed before any
    * batch exists), so per-batch batch-mode logic is the only way to
    * get [[graft.operators.SignatureIndex.probeSignatureIndex]]'s
    * broadcast-semi-prune shape under a stream.
    *
    * Exactly-once under replay: each micro-batch writes its OWN
    * `batch=<id>` partition with dynamic partition overwrite — a
    * re-delivered batch (same batchId, deterministic transform)
    * overwrites its own partition with identical content instead of
    * appending a second copy (the [[graft.storage.RoutedStore]]
    * contract). The sink dir lives under [[streamOutRoot]] on
    * local tmp and is reclaimed at JVM exit (the returned frame reads
    * it lazily, with the schema the batches wrote — no
    * schema-inference job). */
  def runForeachBatch(spark: SparkSession, stream: DataFrame, name: String,
                      fn: (DataFrame, Long) => DataFrame): DataFrame = {
    import java.nio.file.Files
    val ckpt = Files.createTempDirectory(ckptBase, s"graft_fb_ckpt_${name}_")
    val out = streamOutDir(name)
    @volatile var resultSchema: Option[org.apache.spark.sql.types.StructType] = None
    try withStateConfig(spark, stateProvider(spark, streamSourceBytes(stream))) {
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val result = fn(batch, batchId)
          resultSchema = Some(result.schema)
          result.withColumn("batch", lit(batchId))
            .write
            .partitionBy("batch")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(out.toString)
        }
        .option("checkpointLocation", ckpt.toString)
        .start()
      try {
        q.processAllAvailable()
        lastProgressJson = Option(q.lastProgress).map(_.json)
        recentProgressJsons = q.recentProgress.toSeq.map(_.json)
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
    val hasFiles = scala.util.Using.resource(Files.walk(out))(
      _.iterator().asScala.exists(_.getFileName.toString.endsWith(".parquet")))
    val schema = resultSchema.getOrElse(org.apache.spark.sql.types.StructType(Nil))
    if (hasFiles)
      spark.read.schema(schema.add("batch", LongType)).parquet(out.toString)
        .drop("batch")
    else // every batch produced zero rows: nothing was written
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)
  }

  /** Where ephemeral stream checkpoints go: tmpfs when present (every
    * offset, commit and state write is fsync'd), else the JVM tmp dir.
    * Each runner deletes its checkpoint when its run ends. */
  private def ckptBase: java.nio.file.Path = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) shm.toPath
    else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
  }

  /** A fresh sink dir for a run of `name` under [[streamOutRoot]]. */
  private def streamOutDir(name: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Files.createDirectories(streamOutRoot), s"${name}_")

  /** Per-JVM parent of every sink a runner returns a lazy frame over
    * ([[runForeachBatch]], [[runWithRestart]]), on local tmp, deleted
    * by one shutdown hook: a long-lived session running many streams
    * registers one hook thread, not one per run. */
  private lazy val streamOutRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_fb_out_")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
      catch { case _: java.io.IOException => () }))
    root
  }

  /** Kill/resume recovery harness (SURVEY W4/W5 — the reference's core
    * durability story is recover-from-checkpoint,
    * `SparkStreamingApp.java:228-284`): run `mkStream()` to a PARQUET
    * sink (fault-tolerant, exactly-once via the _spark_metadata commit
    * log) with a DURABLE on-disk checkpoint, STOP the query after its
    * first committed micro-batch, then rebuild the same plan from
    * `mkStream()` and restart it from the same checkpoint until all
    * staged batches drain. The returned DataFrame reads the sink
    * through its commit log, so it contains each batch's output exactly
    * once ACROSS the restart boundary — correct only if offsets, sink
    * commits, and RocksDB changelog state all survive recovery. The cut
    * point is deliberately not pinned to a batch boundary: exactly-once
    * recovery makes the final table invariant to where the kill lands,
    * which is the property under test. */
  /** (last committed batchId of run 1, of run 2) from the most recent
    * [[runWithRestart]] — specs assert run 2 CONTINUED the batch
    * sequence (id strictly beyond run 1's) instead of restarting at 0. */
  @volatile var lastRestartBatchIds: Option[(Long, Long)] = None

  def runWithRestart(spark: SparkSession, mkStream: () => DataFrame,
                     name: String): DataFrame = {
    // Ephemeral harness run = ephemeral checkpoint, same rule as
    // runToMemory: every offset/commit/changelog write is fsync'd, so
    // the checkpoint prefers tmpfs and is deleted when the call ends.
    // The recovery property under test (offsets + sink log + RocksDB
    // changelog survive a query kill and restart) is filesystem-
    // agnostic — production pipelines pass a durable
    // checkpointLocation of their own. The returned frame reads the
    // sink lazily, so the sink outlives the call, under streamOutRoot.
    val ckpt = java.nio.file.Files.createTempDirectory(ckptBase,
      s"graft_${name}_ckpt_")
    val out = streamOutDir(name).toString
    // the recovery proof runs PINNED to RocksDB + changelog: what this
    // harness exists to demonstrate is the 100-TB durability story
    // (offsets + sink log + RocksDB changelog surviving a kill), not
    // the small-state fast path the auto provider would pick here
    try withStateConfig(spark, RocksDBProvider) {
      def start(df: DataFrame) = df.writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .start()
      // run 1: let the first micro-batch commit, then kill the query
      val q1 = start(mkStream())
      val b1 = try {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (q1.lastProgress == null && q1.isActive &&
               System.nanoTime() < deadline) Thread.sleep(20)
        Option(q1.lastProgress).map(_.batchId).getOrElse(-1L)
      } finally q1.stop() // blocks until terminated; in-flight batch aborts
      // run 2: fresh plan, same checkpoint — offsets/state/sink-log recover
      val q2 = start(mkStream())
      try {
        q2.processAllAvailable()
        lastProgressJson = Option(q2.lastProgress).map(_.json)
        lastRestartBatchIds =
          Some((b1, Option(q2.lastProgress).map(_.batchId).getOrElse(-1L)))
      } finally q2.stop()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
    spark.read.parquet(out)
  }

  /** The ReID assembly join, event-time form (SURVEY J1-J3): tracklet
    * leg ⋈ attribute leg on the record key, inner within the watermark
    * buffer. The reference buffered unmatched legs for 600 s of
    * processing time (`PedestrianReIDUsingAttrApp.java:156-198`); a
    * symmetric watermarked stream-stream join holds state for the same
    * duration in event time and emits matches incrementally. */
  def reidAssemblyJoin(trackletLeg: DataFrame, attrLeg: DataFrame,
                       key: String, tsCol: String,
                       buffer: String = "10 minutes"): DataFrame = {
    val t = trackletLeg.withWatermark(tsCol, buffer)
    val a = attrLeg
      .withColumnRenamed(key, s"${key}_a")
      .withColumnRenamed(tsCol, s"${tsCol}_a")
      .withWatermark(s"${tsCol}_a", buffer)
    t.join(a,
      col(key) === col(s"${key}_a") &&
        col(s"${tsCol}_a") >= col(tsCol) - expr(s"INTERVAL $buffer") &&
        col(s"${tsCol}_a") <= col(tsCol) + expr(s"INTERVAL $buffer"))
  }
}
