package graft

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON metrics line.
  *
  * Methodology:
  *  - JVM/codegen warmup pass first (one light query) so the first
  *    measured query doesn't absorb classloading + codegen costs;
  *  - results are written to the `noop` sink, which forces full
  *    column materialization (a bare .count() would let Catalyst prune
  *    every projected column and under-measure scan-heavy queries);
  *  - each query runs once cold (pays plan codegen/JIT) then THREE
  *    warm passes; `queries`/`value` report the per-query MEDIAN of
  *    the warm passes. Two rounds running, a single co-tenant-noise
  *    sample masqueraded as a regression — medians shed one bad pass;
  *  - `gc_ms` records this JVM's GC time per pass and `calibration_ms`
  *    times a fixed single-thread integer loop before and after the
  *    run. A noisy host shows up as calibration drift / outsized GC,
  *    so a slow sample can be adjudicated from the sample itself.
  */
object Bench {

  /** Fixed-work single-thread loop (xorshift64*, 2^27 steps): a
    * deterministic CPU yardstick. Elapsed ms varies only with how much
    * of a core this process actually got — the co-tenancy stamp.
    * Shared with ScaleBench, which brackets each ladder measurement the
    * same way. */
  private[graft] def calibrationMs(): Double = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < (1 << 27)) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e6
    if (x == 0) System.err.println("unreachable") // keep the loop live
    dt
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  private def median3(a: Double, b: Double, c: Double): Double =
    math.max(math.min(a, b), math.min(math.max(a, b), c))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.localSession()
    // SPARK_GRAFT_CONF="k=v;k2=v2": session-conf overrides for tuning
    // experiments (e.g. graft.statePartitions=16). Unset in driver runs.
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => spark.conf.set(k.trim, v.trim)
        case _ =>
      }
    })

    val calBefore = calibrationMs()

    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def runToNoop(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      (System.nanoTime() - t0) / 1e9
    }

    // warmup: exercise scan + shuffle + codegen paths once, untimed
    SparkEntry.queries.get("q1_agg")
      .foreach(fn => fn(spark, sfDir).write.format("noop").mode("overwrite").save())

    // SPARK_GRAFT_ONLY=a,b,c restricts the run to named queries —
    // single-query timing experiments without paying for the full set
    // (the driver never sets it, so the per-round surface is unchanged)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // pass-major order (all queries per pass) so a transient host
    // stall degrades one PASS of many queries — which the median
    // discards — instead of all runs of a few adjacent queries.
    // Every pass is BRACKETED by the calibration loop: a pass whose
    // post-pass calibration exceeds its pre-pass one by >1.5× ran on a
    // host that got slower mid-pass (co-tenant contention — five rounds
    // of driver numbers misled this way), so warm passes are discarded
    // and re-run, bounded by maxContentionRetries. The retry count and
    // per-pass brackets ship in the JSON so a reader can adjudicate any
    // sample from the sample itself.
    case class Pass(times: Map[String, Double], gcMs: Long,
                    calPre: Double, calPost: Double) {
      def contended: Boolean = calPost > calPre * 1.5
    }
    var gcPrev = gcMillis()
    def pass(): Pass = {
      val cPre = calibrationMs()
      val times = names.map(n => n -> runToNoop(n)).toMap
      val cPost = calibrationMs()
      val gcNow = gcMillis()
      val d = gcNow - gcPrev
      gcPrev = gcNow
      Pass(times, d, cPre, cPost)
    }
    val cold = pass() // not retried: a re-run cold pass isn't cold
    var contendedRetried = 0
    val maxContentionRetries = 3
    def warmPass(): Pass = {
      var p = pass()
      while (p.contended && contendedRetried < maxContentionRetries) {
        contendedRetried += 1
        System.err.println(
          f"[bench] contended pass (calibration ${p.calPre}%.0f -> ${p.calPost}%.0f ms), retrying")
        p = pass()
      }
      p
    }
    val warmPasses = Seq(warmPass(), warmPass(), warmPass())
    val warmMed = names.map { n =>
      val Seq(a, b, c) = warmPasses.map(_.times(n))
      n -> median3(a, b, c)
    }
    // min-of-3: robust when ALL passes are contended (asymmetric noise
    // only ever ADDS time) — the right statistic for "how fast is this
    // code"; the median stays as the primary, comparable series
    val warmMin = names.map(n => n -> warmPasses.map(_.times(n)).min)

    val calAfter = calibrationMs()

    def qjson(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = warmMed.map(_._2).sum
    val coldTotal = names.map(cold.times).sum
    // failed queries are listed explicitly — a crashing query must not
    // masquerade as a fast success in the totals
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val allPasses = cold +: warmPasses
    val gcJson = allPasses.map(_.gcMs).mkString("[", ",", "]")
    val passTotals = warmPasses.map(_.times.values.sum).mkString("[", ",", "]")
    val passCal = allPasses
      .map(p => s"[${p.calPre},${p.calPost}]").mkString("[", ",", "]")
    val minTotal = warmMin.map(_._2).sum

    // The full metrics (per-query maps, cold pass, GC, per-pass
    // brackets) go to the artifact file; stdout's last line is a compact
    // summary (headline, min_total, n_queries, failed, commit, artifact
    // path) kept under 1 kB, because a line capture truncates longer
    // lines and the per-query maps of 131 queries alone are ~8 kB.
    val commit = try {
      scala.sys.process.Process(Seq("git", "rev-parse", "HEAD"),
        new java.io.File(".")).!!.trim
    } catch { case _: Exception => "unknown" }
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","commit":"$commit","min_total":$minTotal,"cold_total":$coldTotal,"failed":$failedJson,"queries":${qjson(warmMed)},"queries_min":${qjson(warmMin)},"cold_queries":${qjson(names.map(n => n -> cold.times(n)))},"warm_pass_totals":$passTotals,"gc_ms":$gcJson,"calibration_ms":[$calBefore,$calAfter],"pass_calibration_ms":$passCal,"contended_passes_retried":$contendedRetried,"sf":"$sfDir"}"""
    val artifact = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_results.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
      (fullJson + "\n").getBytes("UTF-8"))
    println(s"""{"metric":"total","value":$total,"unit":"sec","min_total":$minTotal,"cold_total":$coldTotal,"n_queries":${names.size},"failed":$failedJson,"warm_pass_totals":$passTotals,"calibration_ms":[$calBefore,$calAfter],"contended_passes_retried":$contendedRetried,"commit":"$commit","sf":"$sfDir","full_results":"$artifact"}""")
    spark.stop()
  }
}
