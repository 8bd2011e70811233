package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Run `body`, returning its value and the Spark jobs it started. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
      (r, n.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

class RelationalQueriesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("every registered query runs and is deterministic at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df1 = fn(spark, sf)
      val rows1 = df1.collect()
      val rows2 = fn(spark, sf).collect()
      assert(rows1.sameElements(rows2), s"$name not deterministic")
      assert(df1.columns.nonEmpty, s"$name has no columns")
    }
  }

  test("every query with an oracle has matching column intent") {
    // each oracle must mention every output column name (alias parity
    // guard: the driver compare is name-keyed)
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(SparkEntry.queries.contains(name), s"oracle $name has no query")
      val cols = SparkEntry.queries(name)(spark, sf).columns
      cols.foreach { c =>
        assert(sql.toLowerCase.contains(c.toLowerCase),
          s"$name: column $c not mentioned in oracle SQL")
      }
    }
  }

  test("q1_agg aggregates are sane") {
    val rows = SparkEntry.queries("q1_agg")(spark, sf).collect()
    assert(rows.length > 0 && rows.length <= 9)
    val counts = rows.map(_.getAs[Long]("count_order"))
    assert(counts.sum <= 6000 && counts.forall(_ > 0))
  }

  test("q4_window_rank emits at most 3 rows per supplier, ranked") {
    val rows = SparkEntry.queries("q4_window_rank")(spark, sf).collect()
    val bySupp = rows.groupBy(_.getAs[Long]("l_suppkey"))
    assert(bySupp.values.forall(_.length <= 3))
    assert(rows.forall(r => r.getAs[Int]("rn") >= 1 && r.getAs[Int]("rn") <= 3))
  }

  test("q7_fullouter presence split is exhaustive and consistent") {
    val rows = SparkEntry.queries("q7_fullouter")(spark, sf).collect()
    rows.foreach { r =>
      val a = Option(r.getAs[Any]("cnt_a"))
      val b = Option(r.getAs[Any]("cnt_b"))
      val p = r.getAs[String]("presence")
      assert((a.isDefined, b.isDefined) match {
        case (true, true)  => p == "both"
        case (true, false) => p == "a_only"
        case (false, true) => p == "b_only"
        case _             => false
      })
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
