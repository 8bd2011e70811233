package graft

import org.apache.spark.sql.SparkSession

/** One-call session setup for library users: builds a SparkSession
  * with the engine's extensions (custom SQL functions), sane local
  * defaults, and — optionally — the testdata tables registered as
  * temp views so the whole surface is reachable from `spark.sql`.
  *
  * A reference user's "run every query they run today" entry point:
  * relational/SQL (views + functions), control plane (PlanCompiler),
  * graph surface (GraphStore), streaming (StreamingOps).
  */
object GraftSession {

  def builder(master: String = "local[*]",
              shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** Build-or-reuse a session and GUARANTEE the engine functions are
    * registered. `withExtensions` is silently ignored when getOrCreate
    * returns a pre-existing session (spark-shell, notebooks), so the
    * SQL functions are also registered imperatively — idempotent. */
  def getOrCreate(master: String = "local[*]"): SparkSession = {
    val s = builder(master).getOrCreate()
    graft.functions.VectorFunctions.register(s)
    s
  }

  /** Cores of the entry points' local master: SPARK_GRAFT_CPUS, else
    * every available processor. */
  private[graft] def localCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  /** The one session `Bench`, `Verify` and `ScaleBench` run in:
    * `local[localCpus]` with one shuffle partition per core, AQE on,
    * UTC, no UI, WARN logging. The bench series is only comparable
    * while this config stays fixed. */
  private[graft] def localSession(): SparkSession = {
    val cpus = localCpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Register every testdata table of `sfDir` as a temp view. */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    Tables.names.foreach { n =>
      Tables.load(spark, sfDir, n).createOrReplaceTempView(n)
    }
}
