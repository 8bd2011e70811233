package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.operators.{AnnIndex, Dedup, IndexLifecycle, SignatureIndex, Similarity}
import graft.queries.DataPipelineQueries
import graft.streaming.StreamingOps

/** One workload: what a set-up builds, what one pass runs, and the
  * correctness checks that are not oracle comparisons. */
trait Workload {
  /** Builds the workload's artifacts; called once per set-up rep, each
    * in a fresh artifact namespace (`java.io.tmpdir`). */
  def prepare(ctx: Ctx): Unit = ()
  /** One pass of the workload's operations, in a fixed order. */
  def pass(ctx: Ctx, outputs: Boolean): Unit
  /** (check, passed, detail) after the timed region. */
  def checks(ctx: Ctx): Seq[(String, Boolean, String)] = Nil
  /** Operations whose outputs the oracle compares. */
  def oracleNames: Seq[String] = Nil
  /** Untimed passes that end set-up; the first also writes the oracle
    * outputs. */
  def warmupPasses: Int = 1
  /** Timed passes a run makes even when `--seconds` ends sooner. */
  def minTimedPasses: Int = 1
}

object Workloads {
  def apply(name: String): Workload = name match {
    // query_mix: one warm-up pass, then five timed passes at least;
    // stream_ingest: one warm-up pass, then two timed passes at least.
    // The engine is still warming up through these passes (each
    // query_mix pass recompiles about 100 generated classes, which the
    // JIT then compiles again, less from pass to pass), so a fixed
    // number of timed passes keeps that share of the measurement the
    // same in every run
    case "query_mix" => new Queries(QueryMix, warmupPasses = 1, minTimedPasses = 5)
    case "curation_scale" => new Queries(CurationScale, warmupPasses = 1)
    case "stream_ingest" => new Streams(StreamIngest, minTimedPasses = 2)
    case "index_churn" => new IndexChurn
    // not gated: one pass over every query_mix candidate, traced to
    // profile them (perfbench/README.md, "Choosing query_mix")
    case "query_profile" => new Queries(QueryFamilies, warmupPasses = 1)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Floor-bound registry queries: a stratified sample of one in nine
    * of [[QueryFamilies]], drawn from a traced `query_profile` pass
    * (perfbench/README.md, "Choosing query_mix", which also names the
    * query left out because its oracle does not hold on every seed).
    * One query per stratum at its median latency, three from q*: a
    * storage-layout read, an eager builder, then the lazy q*, vpe_*,
    * pipeline_* and text_* queries. */
  val QueryMix = Seq(
    "vpe_partition_prune", "pipeline_pack",
    "q5_semijoin", "q27_setops", "q28_grouping_sets",
    "vpe_timetree_person", "pipeline_cap_per_key", "text_bpe_tokens")

  /** Every registry query of the four families query_mix draws from. */
  def QueryFamilies: Seq[String] = SparkEntry.queries.keys.toSeq.sorted.filter(n =>
    n.matches("q[0-9].*") || Seq("vpe_", "pipeline_", "text_").exists(n.startsWith))

  /** Compute-bound near-duplicate, ANN and text queries. */
  val CurationScale = Seq(
    "dedup_neardup_pairs", "dedup_embed_neardup", "text_tfidf_terms")

  /** VPE dataflows as multi-trigger streams: dedup state, the as-of
    * carry (flatMapGroupsWithState), and the stateless ingest gate. */
  val StreamIngest = Seq(
    "stream_dedup", "stream_asof_enrich", "stream_ingest_gate")
}

final class Queries(names: Seq[String], override val warmupPasses: Int,
                    override val minTimedPasses: Int = 1) extends Workload {
  def pass(ctx: Ctx, outputs: Boolean): Unit =
    names.foreach(ctx.query(_, outputs))
  override def oracleNames: Seq[String] = names
}

/** Streaming registry queries; each run's micro-batches are read back
  * from the progress Spark records (`StreamingOps.recentProgressJsons`). */
final class Streams(names: Seq[String], override val minTimedPasses: Int) extends Workload {
  /** The staged event and document batches the dataflows read (each
    * builder would stage them lazily). The gate's corpus index and its
    * md5 sidecar are built by the gate's first call, in the warm-up. */
  override def prepare(ctx: Ctx): Unit = ctx.span("streaming.stage") {
    StreamingOps.stageEventBatches(ctx.spark, ctx.data, 3)
    StreamingOps.stageDocBatches(ctx.spark, ctx.data, 3)
  }

  def pass(ctx: Ctx, outputs: Boolean): Unit = names.foreach { n =>
    StreamingOps.recentProgressJsons = Nil
    ctx.query(n, outputs)
    if (ctx.timing) StreamingOps.recentProgressJsons.foreach { j =>
      import org.json4s._
      val v = org.json4s.jackson.JsonMethods.parse(j)
      def long(x: JValue): Long = x match {
        case JInt(i) => i.toLong
        case JLong(l) => l
        case JDouble(d) => d.toLong
        case _ => 0L
      }
      ctx.triggers += ((n, long(v \ "durationMs" \ "triggerExecution"),
        long(v \ "numInputRows")))
    }
  }
  override def oracleNames: Seq[String] = names
}

/** Writes beside reads on both index families, sized so one pass
  * crosses both maintenance thresholds: `RebuildFraction` (drift of
  * appended + deleted rows over the base) and `CompactSmallFilesMax`
  * (un-compacted side-table files). One pass:
  *  - signature: gate-and-append a batch of fresh ids, gate a probe
  *    batch, delete the oldest live ids, maintain (drift > 1/4: rebuild);
  *  - ANN (64 cells; increments arrive spread over 48 partitions, so
  *    one append lands more delta files than the cadence allows): twice
  *    append then maintain (compaction), probe in between; then delete
  *    and maintain (drift > 1/4: rebuild), probe.
  * No warm-up pass: the three index builds of set-up warm the JVM, and
  * a warm-up pass would spend the id pool. The harness keeps its own
  * live-id bookkeeping for the final check. */
final class IndexChurn extends Workload {
  private val BaseDocs = 600L
  private val DocBatch = 100L
  private val DocDeletes = 80
  private val BaseVecs = 1200L
  private val Cells = 64
  private val VecBatch = 120L
  private val VecDeletes = 150
  private val ArrivalFiles = 48
  /** Quantized dot (unit vectors x 1000^2) at or above which an arrival
    * is a duplicate: cosine 0.9, so the planted exact re-ingests are
    * rejected and the soft-cluster neighbours are admitted. */
  private val DupThreshold = 900000L
  override def warmupPasses: Int = 0

  private var sigIdx, annIdx = ""
  private var nDocs = 0L
  private var nextDoc, nextVec, batchId = 0L
  private val liveDocs = mutable.TreeSet[Long]()
  private val liveVecs = mutable.TreeSet[Long]()
  private var probeMisses = 0L
  private var probes: DataFrame = _

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def hashed(s: SparkSession, d: String, lo: Long, hi: Long) =
    Dedup.shingleHashSets(docs(s, d).filter(col("doc_id") >= lo && col("doc_id") < hi),
      "doc_id", "text", DataPipelineQueries.SHINGLE_K)
  private def vecsQ(s: SparkSession, d: String, lo: Long, hi: Long) =
    Tables.embeddings(s, d).filter(col("vec_id") >= lo && col("vec_id") < hi)
      .select(col("vec_id"), col("label"),
        Similarity.quantize(col("embedding")).as("qv"))

  override def prepare(ctx: Ctx): Unit = {
    val (s, d) = (ctx.spark, ctx.data)
    nDocs = docs(s, d).count()
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "perfbench_index")
    sigIdx = root.resolve("sig").toString
    annIdx = root.resolve("ann").toString
    ctx.span("index.buildSignatureIndex") {
      SignatureIndex.buildSignatureIndex(hashed(s, d, 0, BaseDocs), sigIdx)
      SignatureIndex.ensureSidecar(sigIdx, "gate_md5") { p =>
        docs(s, d).filter(col("doc_id") < BaseDocs)
          .select(md5(col("text")).as("c_md5")).distinct()
          .write.mode("overwrite").parquet(p)
      }
    }
    ctx.span("index.buildAnnIndex") {
      val q = vecsQ(s, d, 0, BaseVecs)
      // the first vectors serve as the coarse quantizer (untrained);
      // rebuilds retrain it
      val cents = q.filter(col("vec_id") < Cells).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](2).toArray)).sortBy(_._1).toSeq
      AnnIndex.buildAnnIndex(q, cents, annIdx)
    }
    liveDocs.clear(); liveDocs ++= 0L until BaseDocs
    liveVecs.clear(); liveVecs ++= 0L until BaseVecs
    nextDoc = BaseDocs
    nextVec = BaseVecs
    probes = Tables.embeddings(s, d).filter(col("vec_id") % 97 === 5)
      .limit(10).select(col("vec_id").as("probe_id"),
        Similarity.quantize(col("embedding")).as("pqv"))
      .localCheckpoint(true)
  }

  private def dirBytes(path: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else scala.util.Using.resource(java.nio.file.Files.walk(p)) { st =>
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
    }
  }

  /** An index mutation; the traced run also counts the bytes it adds
    * under the index directories (rewrites included). */
  private def mutation[A](ctx: Ctx, fn: String, path: String)(body: => A): Option[A] =
    ctx.op("mutation", fn) {
      val before = if (ctx.tracer.isDefined) dirBytes(path) else Map.empty[String, Long]
      val r = ctx.span("index." + fn)(body)
      if (ctx.tracer.isDefined) {
        val after = dirBytes(path)
        ctx.note("bytes_written", after.iterator
          .filter { case (f, n) => !before.get(f).contains(n) }.map(_._2).sum.toDouble)
      }
      r
    }

  private def read[A](ctx: Ctx, fn: String, path: String)(body: => A): Option[A] =
    ctx.op("read", fn) {
      if (ctx.tracer.isDefined) ctx.note("index_bytes", dirBytes(path).values.sum.toDouble)
      ctx.span("index." + fn)(body)
    }

  /** Live parquet files of an index side table: the layout
    * manifest's snapshot where one exists (ANN), else the directory's
    * parquet files (signature). */
  private def liveFiles(root: String, sub: String): Seq[String] = {
    val dir = java.nio.file.Paths.get(root, sub)
    IndexLifecycle.manifestFilesUnder(java.nio.file.Paths.get(root), sub)
      .map(_.map(_.toString))
      .getOrElse(if (!java.nio.file.Files.isDirectory(dir)) Nil
        else scala.util.Using.resource(java.nio.file.Files.walk(dir)) { st =>
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toList
        })
  }

  /** A maintenance call, counted by what it did: a rebuild when it says
    * so, else a compaction when it reports rewritten cells or the live
    * files of the side tables it folds (`subs`) drop in number. */
  private def maintenance(ctx: Ctx, fn: String, path: String, subs: Seq[String])
                         (body: => IndexLifecycle.Maintenance): Unit =
    mutation(ctx, fn, path) {
      val before = subs.map(liveFiles(path, _).size).sum
      val m = body
      val after = subs.map(liveFiles(path, _).size).sum
      if (ctx.timing) {
        if (m.rebuilt) ctx.bump("rebuilds")
        else if (m.compacted > 0 || after < before) ctx.bump("compactions")
      }
    }

  def pass(ctx: Ctx, outputs: Boolean): Unit = {
    val (s, d) = (ctx.spark, ctx.data)
    import s.implicits._
    batchId += 1

    // signature family
    val inc = docs(s, d).filter(col("doc_id") >= nextDoc &&
      col("doc_id") < nextDoc + DocBatch)
    nextDoc += DocBatch
    mutation(ctx, "gateAndAppendBatch", sigIdx) {
      val ids = SignatureIndex.gateAndAppendBatch(inc, sigIdx, Seq("doc_id"), batchId)
        .collect().map(_.getLong(0))
      liveDocs ++= ids
      if (ctx.timing) ctx.bump("appended_rows", ids.length)
    }
    read(ctx, "gateBatchThroughIndex", sigIdx) {
      SignatureIndex.gateBatchThroughIndex(docs(s, d).filter(col("doc_id") >= nextDoc &&
        col("doc_id") < nextDoc + DocBatch), sigIdx, Seq("doc_id")).count()
    }
    val delDocs = liveDocs.take(DocDeletes).toSeq
    mutation(ctx, "deleteFromIndex", sigIdx) {
      SignatureIndex.deleteFromIndex(delDocs.toDF("doc_id"), sigIdx)
      liveDocs --= delDocs
    }
    maintenance(ctx, "maintainIndex", sigIdx, Seq("sig", "tombstones")) {
      // the rebuild corpus: every doc the index holds, rehashed
      val live = hashed(s, d, 0, nDocs).join(s.read.parquet(s"$sigIdx/sig")
        .select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      SignatureIndex.maintainIndex(s, sigIdx)(live)
    }

    // ANN family
    def append(): Unit = {
      val vinc = vecsQ(s, d, nextVec, nextVec + VecBatch).repartition(ArrivalFiles)
      nextVec += VecBatch
      mutation(ctx, "gateAndAppendAnnBatch", annIdx) {
        val ids = AnnIndex.gateAndAppendAnnBatch(vinc, annIdx, DupThreshold,
          batchId, nProbe = 4)
          .select(col("probe_id")).collect().map(_.getLong(0))
        liveVecs ++= ids
        if (ctx.timing) ctx.bump("appended_rows", ids.length)
      }
      batchId += 1
    }
    def maintain(): Unit =
      maintenance(ctx, "maintainAnnIndex", annIdx, Seq("delta", "tombstones")) {
        AnnIndex.maintainAnnIndex(s, annIdx)
      }
    append()
    maintain()
    probe(ctx)
    append()
    maintain()
    val delVecs = liveVecs.take(VecDeletes).toSeq
    mutation(ctx, "deleteFromAnnIndex", annIdx) {
      AnnIndex.deleteFromAnnIndex(delVecs.toDF("vec_id"), annIdx)
      liveVecs --= delVecs
    }
    maintain()
    probe(ctx)
  }

  private def probe(ctx: Ctx): Unit =
    read(ctx, "probeAnnIndex", annIdx) {
      val hits = AnnIndex.probeAnnIndex(ctx.spark, annIdx, probes, nProbe = 4, k = 3)
        .select(col("candidate_id")).collect().map(_.getLong(0))
      probeMisses += hits.count(h => !liveVecs.contains(h))
    }

  override def checks(ctx: Ctx): Seq[(String, Boolean, String)] = {
    val s = ctx.spark
    def ids(df: DataFrame): Array[Long] = df.collect().map(_.getLong(0))
    def column(root: String, subs: Seq[String], key: String): Array[Long] = {
      val fs = subs.flatMap(liveFiles(root, _))
      if (fs.isEmpty) Array.empty else ids(s.read.parquet(fs: _*).select(col(key)))
    }
    def live(rows: Array[Long], dead: Set[Long], want: collection.Set[Long],
             what: String): (String, Boolean, String) = {
      val alive = rows.filterNot(dead.contains)
      val dups = alive.length - alive.distinct.length
      val got = alive.toSet
      val missing = (want -- got).size
      val extra = (got -- want).size
      (what, dups == 0 && missing == 0 && extra == 0,
        s"live=${got.size} expected=${want.size} missing=$missing extra=$extra duplicates=$dups")
    }
    val onDisk = dirBytes(sigIdx) ++ dirBytes(annIdx)
    ctx.stats("index_files") = onDisk.size.toDouble
    ctx.stats("index_bytes") = onDisk.values.sum.toDouble
    ctx.stats("live_rows") = (liveDocs.size + liveVecs.size).toDouble
    val sigRows = ids(s.read.parquet(s"$sigIdx/sig").select(col("doc_id")))
    val annRows = column(annIdx, Seq("cells", "delta"), "vec_id")
    Seq(
      live(sigRows, column(sigIdx, Seq("tombstones"), "doc_id").toSet, liveDocs,
        "signature_live_ids"),
      live(annRows, column(annIdx, Seq("tombstones"), "vec_id").toSet, liveVecs,
        "ann_live_ids"),
      ("ann_probe_hits_live", probeMisses == 0, s"hits naming a dead id: $probeMisses"))
  }
}
