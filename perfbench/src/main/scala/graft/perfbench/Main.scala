package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.compact

import graft.{Bench, SparkEntry}
import graft.streaming.StreamingOps

/** Per-run state shared by the workloads: the session, the generated
  * inputs, the timed samples, and (traced mode) the tracer.
  *
  * Every operation goes through [[op]]: it is timed from the outside,
  * counted, and its failure recorded rather than thrown. Samples are
  * kept only while [[timing]] is set — set-up operations are not. */
final class Ctx(val spark: SparkSession, val data: String, val out: Path,
                val tracer: Option[Tracer]) {
  case class Sample(name: String, kind: String, ms: Double, ok: Boolean, pass: Int)
  val samples = mutable.ArrayBuffer[Sample]()
  /** (dataflow, triggerExecution ms, input rows) per timed micro-batch. */
  val triggers = mutable.ArrayBuffer[(String, Long, Long)]()
  val errors = mutable.ArrayBuffer[String]()
  val stats = mutable.LinkedHashMap[String, Double]()
  var timing = false
  var pass = 0
  private var seq = 0

  def op[A](kind: String, name: String)(body: => A): Option[A] = {
    seq += 1
    tracer.foreach(_.beginOp(seq, name, kind))
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case e: Throwable =>
        errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
    val ms = (System.nanoTime() - t0) / 1e6
    tracer.foreach(_.endOp())
    if (timing) samples += Sample(name, kind, ms, r.isDefined, pass)
    r
  }

  def span[A](name: String, phase: String = "call")(body: => A): A =
    tracer.fold(body)(_.span(name, phase)(body))

  def note(key: String, value: Double): Unit = tracer.foreach(_.note(key, value))

  def bump(key: String, by: Double = 1.0): Unit =
    stats(key) = stats.getOrElse(key, 0.0) + by

  /** One registry query: the builder call, then the result written to
    * the `noop` sink — or, for the correctness pass, to parquet. */
  def query(name: String, outputs: Boolean): Unit = op("query", name) {
    val t0 = System.nanoTime()
    val df = span("queries.build", "build")(SparkEntry.queries(name)(spark, data))
    note("build_ms", (System.nanoTime() - t0) / 1e6)
    span("exec.write", "write") {
      if (outputs)
        df.write.mode("overwrite")
          .parquet(out.resolve("outputs").resolve(name).toString)
      else df.write.format("noop").mode("overwrite").save()
    }
  }
}

/** The benchmark harness main. One fresh JVM per run:
  *
  *   Main <workload> <dataDir> <outDir> <seconds> <trace 0|1> <threads>
  *
  * Starts the engine in-process with `graft.Bench`'s session
  * configuration on `threads` task threads, builds the workload's
  * artifacts three times (each in a fresh artifact namespace, so
  * build-once caches are rebuilt), runs the warm-up passes, then runs
  * whole passes of the workload's operations in a closed loop with one
  * client until `seconds` have elapsed and the workload's minimum of
  * timed passes is made. Writes `result.json` (raw samples, set-up
  * times, per-pass stats, per-operation trace) under `outDir`; `run.py`
  * computes the metrics and runs the oracle check. */
object Main {
  val SetupReps = 3

  /** JVM-wide garbage collection and JIT compilation times so far: the
    * run stamps the part spent inside the timed region. */
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  private def codegens(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** A JSON number; NaN and infinities (never expected) become null. */
  def num(d: Double): JValue = if (d.isNaN || d.isInfinite) JNull else JDouble(d)

  def main(args: Array[String]): Unit = {
    val Array(workload, data, outDir, seconds, traceFlag, threads) = args
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    val calBefore = Bench.calibrationMs()
    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (traceFlag == "1") Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, data, out, tracer)
    val w = Workloads(workload)

    // set-up: the workload's artifacts (indexes, staged streams) are
    // built SetupReps times, each in a fresh artifact namespace; the
    // last namespace is the one the timed region uses. Then the
    // warm-up passes (cold: JIT, codegen, lazily built caches); the
    // first writes the outputs the correctness check reads.
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val prepareS = (0 until SetupReps).map { rep =>
      val ns = out.resolve(s"ns$rep")
      Files.createDirectories(ns)
      System.setProperty("java.io.tmpdir", ns.toString)
      val t0 = System.nanoTime()
      w.prepare(ctx)
      (System.nanoTime() - t0) / 1e9
    }
    val tWarm = System.nanoTime()
    for (k <- 0 until w.warmupPasses) {
      ctx.pass = -1 - k
      w.pass(ctx, outputs = k == 0)
    }
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val setupOps = tracer.map(_.done.size).getOrElse(0)

    val (gc0, jit0) = (gcMs(), jitMs())
    ctx.timing = true
    val tStart = System.nanoTime()
    var passes = 0
    // per timed pass: wall ms, JIT compilation ms, generated classes
    // compiled, and the JVM's CPU ms over all its threads
    val passStats = mutable.ArrayBuffer[JValue]()
    while (passes < w.minTimedPasses ||
      System.nanoTime() - tStart < seconds.toDouble * 1e9) {
      ctx.pass = passes
      val (p0, j0, c0, u0) = (System.nanoTime(), jitMs(), codegens(), cpuNs())
      w.pass(ctx, outputs = false)
      passStats += JArray(List(num((System.nanoTime() - p0) / 1e6), JInt(jitMs() - j0),
        JInt(codegens() - c0), num((cpuNs() - u0) / 1e6)))
      passes += 1
    }
    val wallS = (System.nanoTime() - tStart) / 1e9
    val (gcTimed, jitTimed) = (gcMs() - gc0, jitMs() - jit0)
    ctx.timing = false

    val checks = w.checks(ctx)
    val calAfter = Bench.calibrationMs()
    val rssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

    tracer.foreach(_.writeSpans(out.resolve("spans.json")))
    val traceJson: JValue = tracer.fold(JNull: JValue) { t =>
      JObject("setup_ops" -> JInt(setupOps),
        "ops" -> JArray(t.done.drop(setupOps).map(_.json).toList))
    }
    val oracle = w.oracleNames.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
    Files.write(out.resolve("oracle_sql.json"), compact(JObject(oracle.map {
      case (k, v) => k -> (JString(v): JValue) }.toList)).getBytes("UTF-8"))
    val result = JObject(
      "workload" -> JString(workload),
      "threads" -> JInt(threads.toInt),
      "session_s" -> num(sessionS),
      "prepare_s" -> JArray(prepareS.map(num).toList),
      "warmup_s" -> num(warmS),
      "wall_s" -> num(wallS),
      "passes" -> JInt(passes),
      "samples" -> JArray(ctx.samples.map(s => JArray(List(JString(s.name),
        JString(s.kind), num(s.ms), JBool(s.ok), JInt(s.pass)))).toList),
      "triggers" -> JArray(ctx.triggers.map { case (n, ms, rows) =>
        JArray(List(JString(n), JInt(ms), JInt(rows))) }.toList),
      "checks" -> JArray(checks.map { case (n, ok, detail) =>
        JArray(List(JString(n), JBool(ok), JString(detail))) }.toList),
      "stats" -> JObject(ctx.stats.toList.map { case (k, v) => k -> num(v) }),
      "errors" -> JArray(ctx.errors.map(JString(_)).toList),
      "outputs" -> JArray(w.oracleNames.map(JString(_)).toList),
      "peak_rss_mb" -> num(rssKb / 1024.0),
      "calibration_ms" -> JArray(List(num(calBefore), num(calAfter))),
      "timed_gc_ms" -> JInt(gcTimed),
      "timed_jit_ms" -> JInt(jitTimed),
      "pass_stats" -> JArray(passStats.toList),
      "trace" -> traceJson)
    Files.write(out.resolve("result.json"), (compact(result) + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
