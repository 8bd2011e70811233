package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational operator layer (SURVEY.md §2) demonstrated over the
  * driver testdata, each with a DuckDB-oracle SQL twin.
  *
  * Design rules applied to every query (scale-first):
  *  - filters/projections are plain Column exprs so Catalyst pushes
  *    them into the parquet scan (PushedFilters / ReadSchema);
  *  - joins against dimension tables go through `broadcast(...)` —
  *    at 100 TB the fact side never shuffles for a dim join;
  *  - every aggregate is aliased identically in Spark and SQL (the
  *    driver's compare is name-keyed);
  *  - double aggregates are rounded (2–6 dp) so Spark's and DuckDB's
  *    summation orders can't produce last-bit hash mismatches;
  *  - every query ends with a deterministic ORDER BY.
  */
object RelationalQueries {
  type Q = (SparkSession, String) => DataFrame

  /** q1: TPC-H Q1-style scan + aggregate (SURVEY A1/A5 analog).
    * Map-side partial aggregation; no join. Reference: mean over
    * per-sample attribute vectors (Attributes.java:446-475). */
  private val q1_agg: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 2).as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("sum_disc_price"),
        round(avg($"l_quantity"), 4).as("avg_qty"),
        round(avg($"l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** q2: fact ⋈ broadcast dims with agg (SURVEY J5/J6 lookup-join).
    * part/supplier/nation/region are broadcast — zero fact shuffle
    * before the groupBy. */
  private val q2_join_dims: Q = (s, d) => {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val sup = Tables.supplier(s, d)
    val nat = Tables.nation(s, d)
    val reg = Tables.region(s, d)
    li.join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(
        round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy($"r_name", $"n_name")
  }

  /** q3: global top-k by computed score (SURVEY T2 IDRank:
    * orderBy(score.desc).limit(k)). Spark runs this as TakeOrdered —
    * no full sort at scale. Revenue is summed in DECIMAL (both inputs
    * carry two decimals): a double sum can land a hair under an exact
    * half cent, and then the cent it rounds to depends on summation
    * order — the DuckDB twin computes the same decimal sum. */
  private val q3_topk_orders: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_orderkey")
      .agg(round(sum($"l_extendedprice".cast("decimal(15,2)") *
          (lit(1) - $"l_discount".cast("decimal(15,2)"))), 2)
        .cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  /** q4: per-group top-k via window row_number (SURVEY T1 top-k
    * similar / T3 serial numbers). */
  private val q4_window_rank: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"l_suppkey").orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
    Tables.lineitem(s, d)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"rn")
      .orderBy($"l_suppkey", $"rn")
  }

  /** q5: semi join — EXISTS (SURVEY P3 kill-list family). */
  private val q5_semijoin: Q = (s, d) => {
    import s.implicits._
    val cust = Tables.customer(s, d)
    val bigOrders = Tables.orders(s, d).filter($"o_totalprice" > 400000)
    cust.join(bigOrders, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  /** q6: anti join — NOT EXISTS (SURVEY J4 kill-list anti-join:
    * SparkStreamingApp.java:253-256). */
  private val q6_antijoin: Q = (s, d) => {
    import s.implicits._
    val cust = Tables.customer(s, d)
    val recentOrders = Tables.orders(s, d).filter(year($"o_orderdate") >= 1996)
    cust.join(recentOrders, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** q7: full outer equi-join of two aggregated legs (SURVEY J1 —
    * tracklets ⟗ attributes, PedestrianReIDUsingAttrApp.java:156-158)
    * plus the presence-split predicates (P5) expressed as a status
    * column. */
  private val q7_fullouter: Q = (s, d) => {
    import s.implicits._
    val ords = Tables.orders(s, d)
    val a = ords.filter(year($"o_orderdate") === 1994)
      .groupBy($"o_custkey").agg(count(lit(1)).as("cnt_a"))
    val b = ords.filter(year($"o_orderdate") === 1995)
      .groupBy($"o_custkey").agg(count(lit(1)).as("cnt_b"))
    a.join(b, Seq("o_custkey"), "full_outer")
      .select(
        $"o_custkey",
        $"cnt_a",
        $"cnt_b",
        when($"cnt_a".isNotNull && $"cnt_b".isNotNull, "both")
          .when($"cnt_a".isNotNull, "a_only")
          .otherwise("b_only").as("presence"))
      .orderBy($"o_custkey")
  }

  /** q8: 3-way union of disjoint legs + downstream agg (SURVEY U1/U2
    * — instant ∪ late-tracklet ∪ late-attr). */
  private val q8_union: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
    val l1 = ev.filter($"event_type" === "click").select($"user_id", $"value", lit("leg_click").as("leg"))
    val l2 = ev.filter($"event_type" === "purchase").select($"user_id", $"value", lit("leg_purchase").as("leg"))
    val l3 = ev.filter($"event_type" === "signup").select($"user_id", $"value", lit("leg_signup").as("leg"))
    l1.unionByName(l2).unionByName(l3)
      .groupBy($"leg")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
      .orderBy($"leg")
  }

  /** q9: exact dedup (SURVEY P6 — duplicated-storing-request check;
    * DataManagingApp.java:447-455): distinct rows then count per key
    * space. */
  private val q9_distinct: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .select($"l_returnflag", $"l_linestatus")
      .distinct()
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** q10: rollup — grouping-set aggregates Catalyst gives for free
    * over the tabular model (SURVEY §2.5 note). */
  private val q10_rollup: Q = (s, d) => {
    import s.implicits._
    Tables.orders(s, d)
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total"))
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  /** q11: time-tree bucketing (SURVEY F4/G3 — Year→Month→Day→Hour
    * tree, Neo4jConnector.java:152-169) via date_trunc derivation. */
  private val q11_timetree: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .select(
        year($"ts").as("y"),
        month($"ts").as("m"),
        dayofmonth($"ts").as("day"),
        hour($"ts").as("h"),
        $"value")
      .groupBy($"y", $"m", $"day", $"h")
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("sum_value"))
      .orderBy($"y", $"m", $"day", $"h")
  }

  /** q12: scalar function family (SURVEY F1/F2/F12-adjacent):
    * trackletID-style concat `videoID + "_tarid" + serial`
    * (Tracklet.java:136-138) and basename-minus-extension regexp
    * (PedestrianTrackingApp.java:171-173). */
  private val q12_scalar_fns: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .filter($"event_id" < 1000)
      .select(
        $"event_id",
        concat($"user_id".cast("string"), lit("_tarid"), $"event_id".cast("string")).as("tracklet_id"),
        upper($"event_type").as("event_type_uc"),
        length($"props").as("props_len"),
        regexp_extract($"props", "\"k\": (\\d+)", 1).cast("int").as("prop_k"))
      .orderBy($"event_id")
  }

  /** q13: point lookup (SURVEY G4/S7 — tracklet retrieve / get path).
    * At scale this is a partition-pruned single-key read. */
  private val q13_point_lookup: Q = (s, d) => {
    import s.implicits._
    Tables.customer(s, d)
      .filter($"c_custkey" === 42)
      .select($"c_custkey", $"c_name", $"c_nationkey", round($"c_acctbal", 2).as("acctbal"), $"c_mktsegment")
  }

  /** q14: two-hop pattern join (SURVEY J6 — Cypher
    * (p1)-[:Similar]->(p2) as relational self/dim joins). */
  private val q14_twohop: Q = (s, d) => {
    import s.implicits._
    val cust = Tables.customer(s, d)
    val nat = Tables.nation(s, d)
    val reg = Tables.region(s, d)
    cust.join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name")
      .agg(count(lit(1)).as("n_customers"), round(avg($"c_acctbal"), 4).as("avg_bal"))
      .orderBy($"r_name")
  }

  /** q15: running window aggregate per key (SURVEY A5 per-batch
    * bookkeeping / T3 ordering semantics). */
  private val q15_running_sum: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .filter($"user_id" < 20)
      .select($"user_id", $"event_id", $"value")
      .withColumn("running_value", round(sum($"value").over(w), 2))
      .orderBy($"user_id", $"event_id")
  }

  /** q16: tumbling processing-window aggregate, batch analog of the
    * streaming micro-batch count (SURVEY W1/W2) — 5-minute epoch
    * buckets, expressed portably as epoch div. */
  private val q16_tumbling_window: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .select((floor(unix_timestamp($"ts") / 300) * 300).cast("long").as("bucket_start"), $"event_type", $"value")
      .groupBy($"bucket_start", $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("v"))
      .orderBy($"bucket_start", $"event_type")
  }

  /** q17: cube — full grouping-set lattice (SURVEY §2.5 note: Catalyst
    * provides cube/rollup/grouping sets over the tabular model). */
  private val q17_cube: Q = (s, d) => {
    import s.implicits._
    Tables.orders(s, d)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), round(avg($"o_totalprice"), 4).as("avg_price"))
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  /** q18_salted_agg: the hot-key salting pattern through the gate —
    * two-phase count over a deterministic salt (partial on (key,
    * salt), final on key) must equal the direct group count. This is
    * the shape a pathological skewed key takes at 100 TB when AQE
    * can't split it (a single group key). */
  private val q18_salted_agg: Q = (s, d) => {
    graft.operators.Skew.saltedCount(Tables.lineitem(s, d), "l_returnflag", 8)
      .orderBy(col("l_returnflag"))
  }

  /** q19_bucketed_join: the BIG-BIG co-located join — orders ⋈
    * lineitem on order key with BOTH sides bucketed by the join key at
    * rest ([[graft.storage.BucketedStore]]), merge-hinted so a
    * broadcast fallback can't hide the distribution claim. The
    * SortMergeJoin's required hash distribution is satisfied by the
    * bucket layout, so the join moves ZERO bytes over the network
    * (PlanAuditSpec: no hash-partitioning exchange in the plan; the
    * only exchange is the presentation orderBy above the join). The
    * oracle hash-checks that the bucketed round-trip loses nothing. */
  private val q19_bucketed_join: Q = (s, d) => {
    val (o, l) = graft.storage.BucketedStore.ordersLineitemByOrderKey(s, d)
    o.filter(col("o_orderpriority") === "1-URGENT").hint("merge")
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("l_linenumber"),
        col("o_orderpriority"), col("l_quantity"), col("l_returnflag"))
      .orderBy(col("o_orderkey"), col("l_linenumber"))
  }

  /** q20_asof_join: AS-OF join — each purchase matched to the newest
    * click at-or-before it by the same user ([[graft.operators
    * .TemporalJoins.asOfJoin]]: union + running last, ONE shuffle on
    * user_id, no inequality-join pair explosion). The click side is
    * pre-aggregated per (user, ts) — the determinism contract a SQL
    * ASOF join shares — and the DuckDB twin is a NATIVE `ASOF LEFT
    * JOIN`, so the oracle pins the operator to the industry semantics
    * (inclusive backward match, left-outer nulls) rather than to a
    * re-implementation of our own formulation.
    *
    * The click payload carries two NULLABLE fields with coprime null
    * patterns (value nulled when click_id ≡ 0 mod 3, tag when ≡ 0 mod
    * 4): an implementation that carried payload fields INDEPENDENTLY
    * (per-field last(ignoreNulls)) would fill a matched row's NULL
    * from an OLDER click and hash-mismatch — the oracle now proves the
    * atomic whole-row carry (`TemporalJoins.asOfJoin`'s struct), not
    * just non-null column equality (the round-8 ADVICE gap). */
  private val q20_asof_join: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
    val clicks = ev.filter($"event_type" === "click")
      .groupBy($"user_id", $"ts")
      .agg(max($"event_id").as("click_id"),
        max_by($"value", $"event_id").as("click_value0"))
      .select($"user_id", $"ts", $"click_id",
        when($"click_id" % 3 === 0, lit(null))
          .otherwise($"click_value0").as("click_value"),
        when($"click_id" % 4 === 0, lit(null))
          .otherwise(($"click_id" % 97).cast("long")).as("click_tag"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id", $"value")
    graft.operators.TemporalJoins.asOfJoin(purchases, clicks, "user_id", "ts")
      .select($"event_id".as("purchase_id"), $"user_id",
        unix_micros($"ts").as("p_ts_us"),
        round($"value", 2).as("p_value"),
        $"asof_click_id".as("click_id"),
        unix_micros($"asof_ts").as("c_ts_us"),
        round($"asof_click_value", 2).as("click_value"),
        $"asof_click_tag".as("click_tag"),
        (unix_micros($"ts") - unix_micros($"asof_ts")).as("wait_us"))
      .orderBy($"purchase_id")
  }

  /** q21_range_join: interval (range) join — signup events open
    * 30-minute windows; count/aggregate ALL events falling in each
    * window ([[graft.operators.TemporalJoins.rangeJoinBinned]]:
    * 10-minute bin keys turn the `lo <= ts < hi` predicate into a
    * broadcast EQUI-join + residual filter — never the
    * BroadcastNestedLoop Spark would plan for the bare inequality).
    * Timestamps compare as epoch micros (exact integers) so boundary
    * ties cannot diverge between engines. */
  private val q21_range_join: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select($"event_id", unix_micros($"ts").as("ts_us"), $"user_id", $"value", $"event_type")
    val iv = ev.filter($"event_type" === "signup")
      .orderBy($"event_id").limit(20)
      .select($"event_id".as("iv_id"), $"ts_us".as("lo"),
        ($"ts_us" + lit(1800L * 1000000L)).as("hi"))
    graft.operators.TemporalJoins
      .rangeJoinBinned(broadcast(iv), "lo", "hi", ev, "ts_us", 600L * 1000000L)
      .groupBy($"iv_id", $"lo")
      .agg(count(lit(1)).as("n_events"),
        count_distinct($"user_id").as("n_users"),
        round(sum($"value"), 2).as("sum_value"))
      .orderBy($"iv_id")
  }

  /** q22_gapfill: time-series resampling with GAP FILLING — per event
    * type, daily buckets including the days with NO events (zero
    * rows). The date spine derives from the corpus min/max via
    * `sequence` + explode and cross-joins the type dimension, then the
    * observed aggregate left-joins onto it — the only corpus-sized
    * pass is the daily aggregate (map-side partials); the spine is
    * days × types, a broadcast-sized frame however big the fact table
    * is. A downstream consumer (charting, forecasting, SLA checks)
    * needs the explicit zeros; this is the operator that makes them. */
  private val q22_gapfill: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select(to_date($"ts").as("day"), $"event_type", $"value")
    val agg = ev.groupBy($"day", $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("v"))
    val bounds = ev.agg(min($"day").as("d0"), max($"day").as("d1"))
    val spine = bounds
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      .crossJoin(ev.select($"event_type").distinct())
    spine.join(agg, Seq("day", "event_type"), "left_outer")
      .select($"day".cast("string").as("day"), $"event_type",
        coalesce($"n", lit(0L)).as("n"),
        coalesce($"v", lit(0.0)).as("v"))
      .orderBy($"day", $"event_type")
  }

  /** q23_funnel: ordered-sequence FUNNEL analysis — per user, did a
    * signup precede a click precede a purchase (strict event-time
    * order, ties broken by event_id like every serial assignment
    * here)? One shuffle on user_id; each stage is a conditional MIN
    * over the user's partition (no self-joins — the naive 3-way
    * event⋈event⋈event explodes quadratically on active users).
    * Output is the funnel histogram: users reaching stage 1/2/3. */
  private val q23_funnel: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"), $"event_id")
    val stages = ev.groupBy($"user_id").agg(
      min(when($"event_type" === "signup",
        struct($"us", $"event_id"))).as("s1"),
      min(when($"event_type" === "click",
        struct($"us", $"event_id"))).as("c"),
      min(when($"event_type" === "purchase",
        struct($"us", $"event_id"))).as("p"))
    // stage-2 click = first click AFTER the signup; stage-3 purchase =
    // first purchase after that click. min-over-filtered-structs keeps
    // it one aggregation: recompute with the stage-1 bound applied.
    val staged = ev.join(stages.select($"user_id", $"s1"), "user_id")
      .groupBy($"user_id", $"s1")
      .agg(min(when($"event_type" === "click" && $"s1".isNotNull &&
          struct($"us", $"event_id") > $"s1",
        struct($"us", $"event_id"))).as("c2"))
    val full = ev.join(staged, "user_id")
      .groupBy($"user_id", $"s1", $"c2")
      .agg(min(when($"event_type" === "purchase" && $"c2".isNotNull &&
          struct($"us", $"event_id") > $"c2",
        struct($"us", $"event_id"))).as("p3"))
    full.agg(
      count(lit(1)).as("n_users"),
      count($"s1").as("stage1_signup"),
      count($"c2").as("stage2_click_after"),
      count($"p3").as("stage3_purchase_after"))
  }

  /** q24_cohort: RETENTION cohorts — users grouped by first-activity
    * week, activity counted per weeks-since-cohort offset. Two
    * aggregations: first-seen per user (one shuffle on user_id), then
    * the (cohort, offset) rollup after a broadcast-sized join of the
    * per-user cohort back onto the activity — at 100 TB the per-user
    * frame is the one that must stay narrow (2 longs/user), which it
    * is. */
  private val q24_cohort: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select($"user_id", expr("unix_micros(ts) div 604800000000L").as("week"))
    val cohorts = ev.groupBy($"user_id").agg(min($"week").as("cohort_week"))
    ev.join(cohorts, "user_id")
      .groupBy($"cohort_week", ($"week" - $"cohort_week").as("week_offset"))
      .agg(count_distinct($"user_id").as("active_users"))
      .orderBy($"cohort_week", $"week_offset")
  }

  /** q25_pivot: crosstab — days × event-type matrix via `pivot` with
    * an EXPLICIT value list (the open-ended form needs a distinct scan
    * first and produces an unbounded schema; production pivots pin the
    * columns). Catalyst compiles it to the same one-pass conditional
    * aggregation the SQL twin writes out — wide tables for free. */
  private val q25_pivot: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .select(to_date($"ts").cast("string").as("day"), $"event_type", $"value")
      .groupBy($"day")
      .pivot("event_type", Seq("click", "purchase", "signup"))
      .agg(round(sum($"value"), 2))
      .na.fill(0.0, Seq("click", "purchase", "signup"))
      .orderBy($"day")
  }

  /** q26_lag_delta: day-over-day deltas per event type via `lag` — the
    * window-navigation family (lag/lead) the running-sum query doesn't
    * cover. One shuffle on the type key; each partition is a day
    * series. */
  private val q26_lag_delta: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"day")
    Tables.events(s, d)
      .select(to_date($"ts").cast("string").as("day"), $"event_type")
      .groupBy($"day", $"event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("prev_n", lag($"n", 1).over(w))
      .withColumn("delta", $"n" - coalesce($"prev_n", $"n"))
      .orderBy($"event_type", $"day")
  }

  /** q27_setops: INTERSECT / EXCEPT — Catalyst's set operators (planned
    * as aggregate/join under the hood, here demonstrated as the user
    * writes them): customers active in 1994 ∩ 1995, and 1994 ∖ 1995,
    * counted. */
  private val q27_setops: Q = (s, d) => {
    import s.implicits._
    val ords = Tables.orders(s, d)
    val a = ords.filter(year($"o_orderdate") === 1994).select($"o_custkey")
    val b = ords.filter(year($"o_orderdate") === 1995).select($"o_custkey")
    val both = a.intersect(b).agg(count(lit(1)).as("n")).select(lit("both_years").as("set_name"), $"n")
    val only94 = a.except(b).agg(count(lit(1)).as("n")).select(lit("only_1994").as("set_name"), $"n")
    both.unionByName(only94).orderBy($"set_name")
  }

  /** q28_grouping_sets: explicit GROUPING SETS — the multi-grain
    * aggregate shape reports use when the grains are NOT hierarchical
    * (here {(flag,status), (status), ()}: a per-status subtotal that
    * ROLLUP(flag,status) cannot produce and CUBE would over-produce).
    * One scan, one expand+aggregate — Spark plans all grains in a
    * single Expand node, so the fact table is read once regardless of
    * how many grains the report asks for (the 100-TB property; a
    * UNION ALL of three aggregates would scan three times).
    * grouping_id() disambiguates genuine values from subtotal rows;
    * the 'ALL' sentinel keeps the output NULL-free so cross-engine
    * NULL ordering/hashing can't bite. */
  private val q28_grouping_sets: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_linestatus"), Seq()),
        $"l_returnflag", $"l_linestatus")
      .agg(
        grouping_id().cast("long").as("gid"),
        round(sum($"l_quantity"), 2).as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_price"),
        count(lit(1)).as("n_lines"))
      .select(
        coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        $"gid", $"sum_qty", $"sum_price", $"n_lines")
      .orderBy($"gid", $"returnflag", $"linestatus")
  }

  val queries: Map[String, Q] = Map(
    "q28_grouping_sets" -> q28_grouping_sets,
    "q25_pivot" -> q25_pivot,
    "q26_lag_delta" -> q26_lag_delta,
    "q27_setops" -> q27_setops,
    "q22_gapfill" -> q22_gapfill,
    "q23_funnel" -> q23_funnel,
    "q24_cohort" -> q24_cohort,
    "q20_asof_join" -> q20_asof_join,
    "q21_range_join" -> q21_range_join,
    "q19_bucketed_join" -> q19_bucketed_join,
    "q18_salted_agg" -> q18_salted_agg,
    "q17_cube" -> q17_cube,
    "q1_agg" -> q1_agg,
    "q2_join_dims" -> q2_join_dims,
    "q3_topk_orders" -> q3_topk_orders,
    "q4_window_rank" -> q4_window_rank,
    "q5_semijoin" -> q5_semijoin,
    "q6_antijoin" -> q6_antijoin,
    "q7_fullouter" -> q7_fullouter,
    "q8_union" -> q8_union,
    "q9_distinct" -> q9_distinct,
    "q10_rollup" -> q10_rollup,
    "q11_timetree" -> q11_timetree,
    "q12_scalar_fns" -> q12_scalar_fns,
    "q13_point_lookup" -> q13_point_lookup,
    "q14_twohop" -> q14_twohop,
    "q15_running_sum" -> q15_running_sum,
    "q16_tumbling_window" -> q16_tumbling_window)

  val oracles: Map[String, String] = Map(
    "q28_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  count(*) AS n_lines
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY gid, returnflag, linestatus""".stripMargin,
    "q25_pivot" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |  coalesce(round(sum(CASE WHEN event_type = 'click' THEN value END), 2), 0.0) AS click,
        |  coalesce(round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2), 0.0) AS purchase,
        |  coalesce(round(sum(CASE WHEN event_type = 'signup' THEN value END), 2), 0.0) AS signup
        |FROM events
        |GROUP BY 1
        |ORDER BY day""".stripMargin,
    "q26_lag_delta" ->
      """WITH d AS (
        |  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT day, event_type, n,
        |  lag(n, 1) OVER w AS prev_n,
        |  n - coalesce(lag(n, 1) OVER w, n) AS delta
        |FROM d
        |WINDOW w AS (PARTITION BY event_type ORDER BY day)
        |ORDER BY event_type, day""".stripMargin,
    "q27_setops" ->
      """WITH a AS (SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1994),
        |b AS (SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995)
        |SELECT 'both_years' AS set_name,
        |  (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b) t) AS n
        |UNION ALL
        |SELECT 'only_1994',
        |  (SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b) t)
        |ORDER BY set_name""".stripMargin,
    "q22_gapfill" ->
      """WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, value FROM events),
        |agg AS (
        |  SELECT day, event_type, count(*) AS n, round(sum(value), 2) AS v
        |  FROM ev GROUP BY day, event_type),
        |bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
        |spine AS (
        |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM bounds),
        |grid AS (
        |  SELECT s.day, t.event_type
        |  FROM spine s, (SELECT DISTINCT event_type FROM ev) t)
        |SELECT CAST(g.day AS VARCHAR) AS day, g.event_type AS event_type,
        |  coalesce(a.n, 0) AS n, coalesce(a.v, 0.0) AS v
        |FROM grid g LEFT JOIN agg a
        |  ON g.day = a.day AND g.event_type = a.event_type
        |ORDER BY 1, 2""".stripMargin,
    "q23_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |  FROM events),
        |s AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup'
        |        THEN {'us': us, 'id': event_id} END) AS s1
        |  FROM ev GROUP BY user_id),
        |c AS (
        |  SELECT ev.user_id, s.s1,
        |    min(CASE WHEN event_type = 'click' AND s.s1 IS NOT NULL
        |             AND {'us': us, 'id': event_id} > s.s1
        |        THEN {'us': us, 'id': event_id} END) AS c2
        |  FROM ev JOIN s USING (user_id) GROUP BY ev.user_id, s.s1),
        |p AS (
        |  SELECT ev.user_id, c.s1, c.c2,
        |    min(CASE WHEN event_type = 'purchase' AND c.c2 IS NOT NULL
        |             AND {'us': us, 'id': event_id} > c.c2
        |        THEN {'us': us, 'id': event_id} END) AS p3
        |  FROM ev JOIN c USING (user_id) GROUP BY ev.user_id, c.s1, c.c2)
        |SELECT count(*) AS n_users,
        |  count(s1) AS stage1_signup,
        |  count(c2) AS stage2_click_after,
        |  count(p3) AS stage3_purchase_after
        |FROM p""".stripMargin,
    "q24_cohort" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) // 604800000000 AS week FROM events),
        |cohorts AS (
        |  SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id)
        |SELECT c.cohort_week, e.week - c.cohort_week AS week_offset,
        |  count(DISTINCT e.user_id) AS active_users
        |FROM ev e JOIN cohorts c USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY cohort_week, week_offset""".stripMargin,
    "q20_asof_join" ->
      """WITH clicks0 AS (
        |  SELECT user_id, ts, max(event_id) AS click_id,
        |    arg_max(value, event_id) AS click_value0
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY user_id, ts),
        |clicks AS (
        |  SELECT user_id, ts, click_id,
        |    CASE WHEN click_id % 3 = 0 THEN NULL ELSE click_value0 END
        |      AS click_value,
        |    CASE WHEN click_id % 4 = 0 THEN NULL
        |         ELSE CAST(click_id % 97 AS BIGINT) END AS click_tag
        |  FROM clicks0),
        |purchases AS (
        |  SELECT user_id, ts, event_id, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id AS purchase_id, p.user_id,
        |  epoch_us(p.ts) AS p_ts_us, round(p.value, 2) AS p_value,
        |  c.click_id, epoch_us(c.ts) AS c_ts_us,
        |  round(c.click_value, 2) AS click_value, c.click_tag,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS wait_us
        |FROM purchases p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY purchase_id""".stripMargin,
    "q21_range_join" ->
      """WITH ev AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, user_id, value, event_type
        |  FROM events),
        |iv AS (
        |  SELECT event_id AS iv_id, ts_us AS lo, ts_us + 1800000000 AS hi
        |  FROM ev WHERE event_type = 'signup'
        |  ORDER BY event_id LIMIT 20)
        |SELECT iv.iv_id, iv.lo, count(*) AS n_events,
        |  count(DISTINCT e.user_id) AS n_users,
        |  round(sum(e.value), 2) AS sum_value
        |FROM iv JOIN ev e ON e.ts_us >= iv.lo AND e.ts_us < iv.hi
        |GROUP BY iv.iv_id, iv.lo
        |ORDER BY iv_id""".stripMargin,
    "q19_bucketed_join" ->
      """SELECT o_orderkey, l_linenumber, o_orderpriority, l_quantity,
        |  l_returnflag
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |ORDER BY o_orderkey, l_linenumber""".stripMargin,
    "q18_salted_agg" ->
      """SELECT l_returnflag, count(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q17_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(avg(o_totalprice), 4) AS avg_price
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_join_dims" ->
      """SELECT r_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,
    "q3_topk_orders" ->
      """SELECT l_orderkey,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(15,2)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q4_window_rank" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, rn FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber,
        |    row_number() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) t
        |WHERE rn <= 3
        |ORDER BY l_suppkey, rn""".stripMargin,
    "q5_semijoin" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "q6_antijoin" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND EXTRACT(year FROM o_orderdate) >= 1996)
        |ORDER BY c_custkey""".stripMargin,
    "q7_fullouter" ->
      """SELECT coalesce(a.o_custkey, b.o_custkey) AS o_custkey,
        |  a.cnt_a, b.cnt_b,
        |  CASE WHEN a.cnt_a IS NOT NULL AND b.cnt_b IS NOT NULL THEN 'both'
        |       WHEN a.cnt_a IS NOT NULL THEN 'a_only'
        |       ELSE 'b_only' END AS presence
        |FROM
        |  (SELECT o_custkey, count(*) AS cnt_a FROM orders
        |   WHERE EXTRACT(year FROM o_orderdate) = 1994 GROUP BY o_custkey) a
        |FULL OUTER JOIN
        |  (SELECT o_custkey, count(*) AS cnt_b FROM orders
        |   WHERE EXTRACT(year FROM o_orderdate) = 1995 GROUP BY o_custkey) b
        |ON a.o_custkey = b.o_custkey
        |ORDER BY o_custkey""".stripMargin,
    "q8_union" ->
      """SELECT leg, count(*) AS n, round(sum(value), 2) AS total_value FROM (
        |  SELECT user_id, value, 'leg_click' AS leg FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, value, 'leg_purchase' AS leg FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, value, 'leg_signup' AS leg FROM events WHERE event_type = 'signup') t
        |GROUP BY leg
        |ORDER BY leg""".stripMargin,
    "q9_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus
        |FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q10_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q11_timetree" ->
      """SELECT EXTRACT(year FROM ts) AS y, EXTRACT(month FROM ts) AS m,
        |  EXTRACT(day FROM ts) AS day, EXTRACT(hour FROM ts) AS h,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2, 3, 4
        |ORDER BY y, m, day, h""".stripMargin,
    "q12_scalar_fns" ->
      """SELECT event_id,
        |  CAST(user_id AS VARCHAR) || '_tarid' || CAST(event_id AS VARCHAR) AS tracklet_id,
        |  upper(event_type) AS event_type_uc,
        |  length(props) AS props_len,
        |  CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS prop_k
        |FROM events
        |WHERE event_id < 1000
        |ORDER BY event_id""".stripMargin,
    "q13_point_lookup" ->
      """SELECT c_custkey, c_name, c_nationkey, round(c_acctbal, 2) AS acctbal, c_mktsegment
        |FROM customer WHERE c_custkey = 42""".stripMargin,
    "q14_twohop" ->
      """SELECT r_name, count(*) AS n_customers, round(avg(c_acctbal), 4) AS avg_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin,
    "q15_running_sum" ->
      """SELECT user_id, event_id, value,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
        |FROM events
        |WHERE user_id < 20
        |ORDER BY user_id, event_id""".stripMargin,
    "q16_tumbling_window" ->
      """SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS bucket_start,
        |  event_type, count(*) AS n, round(sum(value), 2) AS v
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY bucket_start, event_type""".stripMargin)
}
