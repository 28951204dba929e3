package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** General analytics capability of the engine — scan/filter/aggregate/
  * join/window/set-op coverage over the TPC-H-ish tables (SURVEY.md §2.2-
  * §2.6). These double as the bench headliners: each is shaped so the
  * optimized plan is the one we'd want at 100 TB (filters at the scan,
  * small dims broadcast, partial aggregation before shuffle).
  *
  * Double-precision policy for oracle parity: money math goes through
  * exact DECIMAL casts (cents/hundredths are exact), sums stay decimal,
  * the final value is cast back to DOUBLE — deterministic in both Spark
  * and DuckDB regardless of accumulation order.
  */
object AnalyticsQueries {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** TPC-H Q1-shaped pricing summary: the canonical partial-agg
    * pipeline — one scan, map-side combine, tiny shuffle (6 groups).
    */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00"))
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= cutoff)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** TPC-H Q3-shaped top-k revenue: dim filter -> join -> agg -> top-10.
    * customer is the small side -> broadcast; lineitem never shuffles
    * until the (already reduced) aggregate.
    */
  def topRevenue(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        (dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .as("rev"))
    ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(li, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey")
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-shaped multi-join: region -> nation -> supplier dims all
    * broadcast, lineitem aggregated by nation.
    */
  def revenueByNation(s: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(s, dir)
    val supp = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    val li = Tables.lineitem(s, dir)
      .select(col("l_suppkey"),
        (dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .as("rev"))
    li.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy("n_name")
  }

  /** Window/top-N: each user's 3 highest-value events (rank + running
    * tie-break on event_id keeps it deterministic).
    */
  def topEventsPerUser(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .orderBy("user_id", "rnk")
  }

  /** Set-op / anti-join: customers with no high-value order. The anti
    * side is filtered before the join so the build set stays small
    * enough to broadcast at scale.
    */
  def noHighValueOrder(s: SparkSession, dir: String): DataFrame = {
    val bigOrders = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_custkey").as("c_custkey"))
    Tables.customer(s, dir).select("c_custkey")
      .join(bigOrders, Seq("c_custkey"), "left_anti")
      .orderBy("c_custkey")
  }

  /** Rollup: revenue by (region, nation) with subtotal and grand-total
    * rows — grouping-sets coverage (§2.4 beyond the reference). Dims
    * broadcast; one shuffle for the aggregate.
    */
  def revenueRollup(s: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(s, dir).select("n_nationkey", "n_name", "n_regionkey")
    val region = Tables.region(s, dir).select("r_regionkey", "r_name")
    val supp = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    val li = Tables.lineitem(s, dir)
      .select(col("l_suppkey"),
        (dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .as("rev"))
    li.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
  }

  /** Set op: BUILDING-segment customers EXCEPT big spenders — §2.6
    * coverage (set semantics match in both engines).
    */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val building = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val bigSpenders = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 300000.0)
      .select(col("o_custkey").as("c_custkey"))
    building.except(bigSpenders).orderBy("c_custkey")
  }

  /** Set op: INTERSECT of the same two sets, via a three-branch union
    * pipeline (unionByName is how multi-branch capture streams merge,
    * SURVEY.md §2.6).
    */
  def setIntersect(s: SparkSession, dir: String): DataFrame = {
    val building = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val bigSpenders = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 300000.0)
      .select(col("o_custkey").as("c_custkey"))
    building.intersect(bigSpenders).orderBy("c_custkey")
  }

  /** Last-touch click attribution: every click joins its user's views
    * inside the preceding `windowUs` (a time-BOUNDED equi+range join —
    * the bound is what keeps q_attr_stream's state finite), then
    * the LATEST qualifying view wins (ties by highest view id —
    * deterministic). `gap_us` is the click−view lag the attribution
    * report plots. Integer-µs time math end to end.
    *
    * Shape for scale: one shuffle on user_id for the join; the
    * last-touch pick is a per-click window over the already-bounded
    * pair set (≤ views-per-user-per-day each), never over raw events.
    */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    val windowUs = 86400000000L // 24 h
    val ev = Tables.events(s, dir)
    val us = epochUs(ev, "ts")
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), us.as("view_us"), col("event_id").as("view_id"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), us.as("click_us"), col("event_id").as("click_id"))
    val w = Window.partitionBy(col("click_id"))
      .orderBy(col("view_us").desc, col("view_id").desc)
    c.join(v, Seq("user_id"))
      .filter(col("view_us") <= col("click_us") &&
        col("click_us") <= col("view_us") + windowUs)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("click_id"), col("user_id"), col("click_us"),
        col("view_id"), col("view_us"),
        (col("click_us") - col("view_us")).as("gap_us"))
      .orderBy("click_id")
  }

  /** Sessionization (batch): per-user runs of events whose event_id
    * gap <= 100 form a session; emits per-user session stats. The
    * classic lag -> flag -> cumulative-sum window pipeline, one
    * shuffle on user_id.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"))
      .withColumn("prev", lag(col("event_id"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev").isNull || col("event_id") - col("prev") > 100, 1)
          .otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id")
      .agg(countDistinct(col("sess_id")).as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** Semi-join: orders having at least 5 lineitems — aggregate-then-
    * semi-join shape (the build side is pre-reduced to order keys, so
    * at scale it is the smaller input).
    */
  def bigOrders(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_items"))
      .filter(col("n_items") >= 5)
    Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
      .join(counts, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .orderBy("o_orderkey")
  }

  /** TPC-H Q14-shaped conditional aggregation: share of revenue from
    * ECONOMY parts — `sum(CASE WHEN ...)` / `sum(...)`, one broadcast
    * join, exact decimal accumulation.
    */
  def promoRevenue(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(s, dir).select("p_partkey", "p_type")
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"),
        (dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .as("rev"))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .agg(
        (sum(when(col("p_type") === "ECONOMY", col("rev"))
          .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double") * 100.0 /
          sum(col("rev")).cast("double")).as("economy_pct"),
        count(lit(1)).as("n_items"))
  }

  /** Q7-shaped: yearly revenue trend — date-part extraction feeding a
    * group key (year(l_shipdate)), partial-agg before the tiny shuffle.
    */
  def yearlyRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(year(col("l_shipdate")).as("ship_year"),
        (dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .as("rev"))
      .groupBy("ship_year")
      .agg(sum(col("rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("ship_year")

  /** JSON extraction: parse the event payload's `k` field and
    * aggregate per user — the semi-structured-column surface
    * (get_json_object stays codegen'd; no UDF).
    */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("k")).cast("long").as("sum_k"),
        max(col("k")).as("max_k"))
      .orderBy("user_id")

  /** Pivot: per-user event counts spread over event-type columns —
    * `.pivot` with an explicit value list (deterministic column set;
    * without it Spark runs a distinct scan first).
    */
  def pivotEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")

  /** Ordered aggregates: exact median / p90 per event type (Spark's
    * exact `percentile` and DuckDB's `quantile_cont` both linearly
    * interpolate — identical doubles). `approx_percentile` is the
    * 100 TB variant (sketch-based, no sort), left un-oracled like HLL.
    */
  def percentiles(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        expr("percentile(value, 0.5)").as("med"),
        expr("percentile(value, 0.9)").as("p90"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** Epoch-µs long for the events `ts` column, robust to how the
    * parquet was written: TIMESTAMP(NANOS) reads as a raw nanos long
    * (Tables.events sets nanosAsLong), TIMESTAMP(MICROS) reads as a
    * real TimestampType — the driver's generator has produced both.
    * Either way the oracle's `epoch_us(ts)` lands on the same integers
    * (the generator's instants are µs-precision, so `DIV 1000` on the
    * nanos form is exact).
    */
  private[graft] def epochUs(ev: DataFrame, c: String): Column =
    ev.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType => expr(s"$c DIV 1000")
      case org.apache.spark.sql.types.TimestampType => unix_micros(col(c))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // naive wall-clock: DuckDB's epoch_us reads it as-is (i.e. as
        // UTC); the NTZ→TZ cast interprets it in the SESSION zone, so
        // this is only the same integer when the session zone is UTC —
        // which every entrypoint here pins. Guard loudly rather than
        // return a silently shifted epoch.
        require(ev.sparkSession.conf.get("spark.sql.session.timeZone") == "UTC",
          s"events.$c is TIMESTAMP_NTZ: epochUs needs spark.sql.session.timeZone=UTC")
        unix_micros(col(c).cast(org.apache.spark.sql.types.TimestampType))
      case other =>
        throw new IllegalArgumentException(
          s"events.$c: expected nanos LONG or TIMESTAMP, got $other")
    }

  /** As-of attribution: every purchase event picks the user's LATEST
    * view/click at-or-before purchase time ([[graft.ops.TemporalJoins
    * .asOfJoin]] — union + one window pass per user, never a
    * per-row range join). Ties on the source timestamp break on the
    * higher event id, pinned on both sides.
    */
  def asOfAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), epochUs(ev, "ts").as("ts_us"))
    val sources = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("src_id"),
        col("event_type").as("src_type"), epochUs(ev, "ts").as("src_ts_us"))
    graft.ops.TemporalJoins.asOfJoin(
        purchases, sources, Seq("user_id"), "ts_us", "src_ts_us",
        Seq("src_id", "src_type", "src_ts_us"),
        rightTiebreak = Some("src_id"))
      .orderBy("event_id")
  }

  /** The same attribution as-of join through the NATIVE whole-operator
    * path ([[graft.plans.AsofJoinExec]] — logical node + planner
    * strategy + sort-merge exec): same oracle as `q_asof_join`, so the
    * driver's hash gate pins the custom physical operator against
    * DuckDB's lateral-join semantics row for row. Each side shuffles
    * at its own width and the carry is a one-candidate merge cursor —
    * no union padding, no window frame (see the exec's scaladoc).
    */
  def asOfAttributionNative(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), epochUs(ev, "ts").as("ts_us"))
    val sources = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("src_id"),
        col("event_type").as("src_type"), epochUs(ev, "ts").as("src_ts_us"))
    graft.ops.TemporalJoins.asOfJoinNative(
        purchases, sources, Seq("user_id"), "ts_us", "src_ts_us",
        Seq("src_id", "src_type", "src_ts_us"),
        rightTiebreak = Some("src_id"))
      .orderBy("event_id")
  }

  /** The attribution as-of join under a 3-day match window
    * ([[graft.ops.TemporalJoins.asOfJoinTolerance]] — pandas
    * merge_asof tolerance semantics): a purchase only attributes to
    * a view/click within 72 hours; staler matches null out while the
    * purchase row survives. The attribution-window question every
    * marketing readout actually asks.
    */
  def asOfAttributionTol(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), epochUs(ev, "ts").as("ts_us"))
    val sources = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("src_id"),
        col("event_type").as("src_type"), epochUs(ev, "ts").as("src_ts_us"))
    graft.ops.TemporalJoins.asOfJoinTolerance(
        purchases, sources, Seq("user_id"), "ts_us", "src_ts_us",
        Seq("src_id", "src_type", "src_ts_us"),
        toleranceUs = 3L * 86400000000L,
        rightTiebreak = Some("src_id"))
      .orderBy("event_id")
  }

  /** Per-user engaged-time census through
    * [[graft.ops.TemporalJoins.intervalCoverage]]: each event opens
    * an activity interval `[ts, ts + value seconds)` and the union
    * sweep reports the time actually covered after overlap-merge —
    * the billing/engagement number a plain Σ duration double-counts.
    */
  def engagedTime(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val iv = ev.select(col("user_id"), epochUs(ev, "ts").as("lo"),
      (epochUs(ev, "ts") +
        expr("CAST(floor(value * 1000000) AS BIGINT)")).as("hi"))
    graft.ops.TemporalJoins.intervalCoverage(iv, "user_id", "lo", "hi")
      .select(col("user_id"), col("n_intervals"),
        col("covered").as("covered_us"), col("span").as("span_us"),
        col("gap").as("gap_us"))
      .orderBy("user_id")
  }

  /** FORWARD-direction twin ([[graft.plans.AsofJoinExec]] with
    * `direction = "forward"`): each purchase picks the NEXT view/click
    * at-or-after it — the "what did the user do right after buying"
    * join, and the pandas `merge_asof(direction="forward")` surface.
    * Equal-(key, time) ties take the LOWEST src_id (ascending sort,
    * first peek), matching the oracle's ASC LIMIT 1.
    */
  def asOfAttributionNativeFwd(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), epochUs(ev, "ts").as("ts_us"))
    val sources = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("src_id"),
        col("event_type").as("src_type"), epochUs(ev, "ts").as("src_ts_us"))
    graft.ops.TemporalJoins.asOfJoinNative(
        purchases, sources, Seq("user_id"), "ts_us", "src_ts_us",
        Seq("src_id", "src_type", "src_ts_us"),
        rightTiebreak = Some("src_id"), direction = "forward")
      .orderBy("event_id")
  }

  /** Strict (<) twin of [[asOfAttributionNative]] — gates the native
    * exec's strict comparison path under the DuckDB oracle (the
    * composed strict form shares this oracle).
    */
  def asOfAttributionNativeStrict(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), epochUs(ev, "ts").as("ts_us"))
    val sources = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("src_id"),
        col("event_type").as("src_type"), epochUs(ev, "ts").as("src_ts_us"))
    graft.ops.TemporalJoins.asOfJoinNative(
        purchases, sources, Seq("user_id"), "ts_us", "src_ts_us",
        Seq("src_id", "src_type", "src_ts_us"),
        rightTiebreak = Some("src_id"), strict = true)
      .orderBy("event_id")
  }

  /** Strict (<) variant: the view/click must be STRICTLY before the
    * purchase — the form attribution uses when simultaneous events
    * must not self-attribute.
    */
  def asOfAttributionStrict(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), epochUs(ev, "ts").as("ts_us"))
    val sources = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("src_id"),
        col("event_type").as("src_type"), epochUs(ev, "ts").as("src_ts_us"))
    graft.ops.TemporalJoins.asOfJoin(
        purchases, sources, Seq("user_id"), "ts_us", "src_ts_us",
        Seq("src_id", "src_type", "src_ts_us"),
        rightTiebreak = Some("src_id"), strict = true)
      .orderBy("event_id")
  }

  /** Cohort-adjusted RFM segmentation — the classic customer-value
    * grid (recency / frequency / monetary quintiles), computed WITHIN
    * each user's signup-week cohort rather than globally: quintiles
    * compare a user against peers who joined the same week (the
    * cohort-adjusted variant marketers use to avoid penalizing young
    * accounts), and — the scale point — the three ntile windows
    * partition BY COHORT, so no global window exists and cohorts
    * parallelize horizontally. The corpus-scale event table collapses
    * to one row per user in a partial-agged hash aggregate BEFORE any
    * window runs.
    *
    * Exact arithmetic throughout: times are epoch-µs longs, monetary
    * sums are per-row milli-quantized BEFORE aggregation (never a
    * float sum), cohort weeks use the q_cohorts epoch anchor, and
    * every ntile orders by (metric, user_id) — a total order, so
    * quintile assignment is engine-exact.
    */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    // null purchase values count as 0 revenue (COALESCE before the
    // sum): an all-null user would otherwise carry a NULL monetary and
    // Spark (NULLS FIRST) vs DuckDB (NULLS LAST) ntile defaults would
    // place them in opposite quintiles
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), epochUs(ev, "ts").as("t"),
        coalesce(floor(col("value") * 1000).cast("long"), lit(0L)).as("vq"))
    val agg = p.groupBy("user_id").agg(
      min(col("t")).as("first_ts_us"),
      max(col("t")).as("last_ts_us"),
      count(lit(1)).as("frequency"),
      sum(col("vq")).as("monetary_milli"))
      .withColumn("cohort_w",
        expr("(first_ts_us - 1704067200000000) div 604800000000"))
    def q(metric: String) = ntile(5).over(Window.partitionBy("cohort_w")
      .orderBy(col(metric), col("user_id")))
    agg.select(col("user_id"), col("cohort_w"), col("last_ts_us"),
        col("frequency"), col("monetary_milli"),
        q("last_ts_us").as("r_q"), q("frequency").as("f_q"),
        q("monetary_milli").as("m_q"))
      .withColumn("rfm", col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
      .orderBy("user_id")
  }

  /** Ordered funnel analysis — the classic product-analytics operator:
    * how many users complete signup → view → click → purchase IN
    * ORDER, each step's first occurrence strictly after the previous
    * step's. Sequential semantics (not mere per-type presence) via
    * cascading first-after aggregations: step N's frame is one
    * equi-join on user + one min() hash-agg over step-N events later
    * than the user's step-N−1 time — N−1 joins total, each keyed by
    * user, each partial-agged; no windows. Conversion is exact ppm vs
    * the previous step; the 4-row assembly joins on step_no−1.
    */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val e = ev.select(col("user_id"), col("event_type"),
        epochUs(ev, "ts").as("t"))
      .localCheckpoint() // four step filters read it
    def firstAfter(prev: DataFrame, step: String): DataFrame =
      e.filter(col("event_type") === step)
        .join(prev, Seq("user_id"))
        .filter(col("t") > col("pt"))
        .groupBy("user_id").agg(min(col("t")).as("t2"))
        .select(col("user_id"), col("t2").as("pt"))
    val steps = Seq("signup", "view", "click", "purchase")
    val frames = steps.tail.scanLeft(
      e.filter(col("event_type") === steps.head)
        .groupBy("user_id").agg(min(col("t")).as("pt")))(firstAfter)
    val counts = frames.zipWithIndex.map { case (f, i) =>
      f.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step_no"), lit(steps(i)).as("step"),
          col("n_users"))
    }.reduce(_.unionByName(_))
    val prev = counts.select(col("step_no").as("p_no"),
      col("n_users").as("p_users"))
    counts.join(broadcast(prev), col("p_no") === col("step_no") - 1, "left")
      .select(col("step_no"), col("step"), col("n_users"),
        expr("CASE WHEN p_users IS NULL THEN CAST(1000000 AS BIGINT) " +
          "WHEN p_users = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE n_users * 1000000 div p_users END").as("conv_ppm"))
      .orderBy("step_no")
  }

  /** Weekly cohort retention — the other classic: users grouped by
    * first-seen week (anchor 2024-01-01 UTC), and for each (cohort,
    * weeks-since-cohort offset) the count of active users plus exact
    * ppm retention vs the cohort's size. Two hash-aggs (per-user first
    * time; per (user, offset) presence) + one broadcast join of the
    * cohort-size table; all time math is integer microseconds.
    */
  def cohorts(s: SparkSession, dir: String): DataFrame = {
    val anchorUs = 1704067200000000L // 2024-01-01T00:00:00Z
    val weekUs = 7L * 86400 * 1000000
    val ev = Tables.events(s, dir)
    val e = ev.select(col("user_id"), epochUs(ev, "ts").as("t"))
      .localCheckpoint() // first-seen agg + activity agg
    val first = e.groupBy("user_id").agg(min(col("t")).as("t0"))
      .select(col("user_id"),
        expr(s"(t0 - ${anchorUs}L) div ${weekUs}L").as("cohort_w"))
    val sizes = first.groupBy("cohort_w")
      .agg(count(lit(1)).as("cohort_size"))
    e.join(first, Seq("user_id"))
      .select(col("user_id"), col("cohort_w"),
        expr(s"(t - ${anchorUs}L) div ${weekUs}L - cohort_w").as("offset_w"))
      .distinct()
      .groupBy("cohort_w", "offset_w")
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cohort_w"))
      .withColumn("retention_ppm",
        expr("n_active * 1000000 div cohort_size"))
      .select("cohort_w", "offset_w", "n_active", "cohort_size",
        "retention_ppm")
      .orderBy("cohort_w", "offset_w")
  }

  /** User-journey transition matrix — the Markov-chain view of the
    * event stream: for every (from, to) adjacent event-type pair
    * within a user's event_id-ordered history, the transition count
    * and exact ppm probability. One per-user lead window (keyed
    * exchange, parallel per user) + two hash-aggs; output is
    * |types|²-bounded.
    */
  def transitions(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val pairs = ev
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("from_type").agg(sum(col("n")).as("from_total"))
    pairs.join(broadcast(totals), Seq("from_type"))
      .withColumn("p_ppm", expr("n * 1000000 div from_total"))
      .select("from_type", "to_type", "n", "from_total", "p_ppm")
      .orderBy("from_type", "to_type")
  }

  /** Daily rate-anomaly flags: per (UTC day, event_type) counts with
    * the exact integer spike test `n · n_days · 1000 > 2000 ·
    * type_total` (day count above 2× the type's daily average) — the
    * ops monitor that catches an error flood or a dead producer in
    * one pruned scan + one hash-agg; integer day arithmetic against
    * the epoch, no date-zone drift.
    */
  def dailyAnomaly(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    // µs fit in 2^53, so the double floor-divide is exact and equals
    // DuckDB's integer // on the nonnegative epoch
    val byDay = ev.select(
        floor(epochUs(ev, "ts") / lit(86400000000L)).cast("long").as("day"),
        col("event_type"))
      .groupBy("day", "event_type").agg(count(lit(1)).as("n"))
      .localCheckpoint() // feeds totals, day census, and the output
    val totals = byDay.groupBy("event_type")
      .agg(sum(col("n")).as("type_total"))
    val days = byDay.select(col("day")).distinct()
      .agg(count(lit(1)).as("n_days"))
    byDay.join(broadcast(totals), Seq("event_type"))
      .join(broadcast(days))
      .withColumn("spike", expr("n * n_days * 1000 > 2000 * type_total"))
      .select("day", "event_type", "n", "type_total", "n_days", "spike")
      .orderBy("day", "event_type")
  }

  /** Per-user daily gap-fill ([[graft.ops.TemporalJoins.gapFillDaily]]):
    * the dense daily grid over each user's activity span — silent days
    * carry n=0, is_gap=true, and the forward-filled last reading
    * (last-observation-carried-forward). One key-partitioned exchange
    * shared by the day agg, span agg, grid join, and fill window.
    */
  def gapFill(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    graft.ops.TemporalJoins
      .gapFillDaily(ev, "user_id", epochUs(ev, "ts"), "event_id", "value")
      .withColumnRenamed("key", "user_id")
      .orderBy("user_id", "day")
  }

  /** The native as-of join driven ENTIRELY from SQL text through the
    * [[graft.GraftExtensions]] `graft_asof_join` table function — the
    * pure-SQL surface a DuckDB `ASOF JOIN` user expects. Same inputs,
    * same lateral oracle, and the same `AsofJoinExec` plan as
    * [[asOfAttributionNative]]; the only difference is that the query
    * text never touches the Column API.
    */
  def asOfAttributionSql(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val ev = Tables.events(s, dir)
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), epochUs(ev, "ts").as("ts_us"))
      .createOrReplaceTempView("graft_purchases")
    ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("src_id"),
        col("event_type").as("src_type"), epochUs(ev, "ts").as("src_ts_us"))
      .createOrReplaceTempView("graft_sources")
    s.sql(
      """SELECT event_id, user_id, ts_us, src_id, src_type, src_ts_us
        |FROM graft_asof_join('graft_purchases', 'graft_sources', 'user_id',
        |                     'ts_us', 'src_ts_us',
        |                     'src_id,src_type,src_ts_us',
        |                     'backward', 'false', 'src_id')
        |ORDER BY event_id""".stripMargin)
  }

  /** [[asOfAttributionSql]] with INLINE SUBQUERY relation arguments —
    * `graft_asof_join('(SELECT ...)', '(SELECT ...)', ...)` — the
    * compose-with-any-relation surface DuckDB's own ASOF JOIN has; no
    * per-side temp views. Same oracle, same plan.
    */
  def asOfAttributionSqlSub(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val ev = Tables.events(s, dir)
    ev.select(col("event_id"), col("user_id"), col("event_type"),
        epochUs(ev, "ts").as("ts_us"))
      .createOrReplaceTempView("graft_events_asof")
    s.sql(
      """SELECT event_id, user_id, ts_us, src_id, src_type, src_ts_us
        |FROM graft_asof_join(
        |  '(SELECT event_id, user_id, ts_us FROM graft_events_asof
        |     WHERE event_type = ''purchase'')',
        |  '(SELECT user_id, event_id AS src_id, event_type AS src_type,
        |           ts_us AS src_ts_us FROM graft_events_asof
        |     WHERE event_type IN (''view'', ''click''))',
        |  'user_id', 'ts_us', 'src_ts_us',
        |  'src_id,src_type,src_ts_us',
        |  'backward', 'false', 'src_id')
        |ORDER BY event_id""".stripMargin)
  }

  /** [[asOfAttributionTol]] driven from SQL text — the 11th
    * `graft_asof_join` argument (`tolerance`, with `''` as the
    * not-salted bucket_width placeholder). Same oracle as the Column
    * form: the SQL surface must not change the answer.
    */
  def asOfAttributionTolSql(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val ev = Tables.events(s, dir)
    ev.select(col("event_id"), col("user_id"), col("event_type"),
        epochUs(ev, "ts").as("ts_us"))
      .createOrReplaceTempView("graft_events_asof")
    s.sql(
      """SELECT event_id, user_id, ts_us, src_id, src_type, src_ts_us
        |FROM graft_asof_join(
        |  '(SELECT event_id, user_id, ts_us FROM graft_events_asof
        |     WHERE event_type = ''purchase'')',
        |  '(SELECT user_id, event_id AS src_id, event_type AS src_type,
        |           ts_us AS src_ts_us FROM graft_events_asof
        |     WHERE event_type IN (''view'', ''click''))',
        |  'user_id', 'ts_us', 'src_ts_us',
        |  'src_id,src_type,src_ts_us',
        |  'backward', 'false', 'src_id', '', '259200000000')
        |ORDER BY event_id""".stripMargin)
  }

  /** The attribution as-of join through the hot-key fallback
    * ([[graft.ops.TemporalJoins.asOfJoinTimeSplit]], weekly buckets):
    * the salted-key recipe SCALING.md prescribes when one user
    * dominates the event stream. Same inputs, same lateral oracle as
    * `q_asof_native` — the split must be invisible in the result.
    */
  def asOfAttributionSalted(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), epochUs(ev, "ts").as("ts_us"))
    val sources = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("src_id"),
        col("event_type").as("src_type"), epochUs(ev, "ts").as("src_ts_us"))
    graft.ops.TemporalJoins.asOfJoinTimeSplit(
        purchases, sources, Seq("user_id"), "ts_us", "src_ts_us",
        Seq("src_id", "src_type", "src_ts_us"),
        rightTiebreak = Some("src_id"),
        bucketWidth = 7L * 86400000000L)
      .orderBy("event_id")
  }

  /** FORWARD-direction twin of [[asOfAttributionSalted]] — the
    * carry-forward mirror (earliest following right row per (key,
    * bucket)). Same inputs, same lateral oracle as
    * `q_asof_native_fwd` — the split must be invisible in the result.
    */
  def asOfAttributionSaltedFwd(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), epochUs(ev, "ts").as("ts_us"))
    val sources = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("src_id"),
        col("event_type").as("src_type"), epochUs(ev, "ts").as("src_ts_us"))
    graft.ops.TemporalJoins.asOfJoinTimeSplit(
        purchases, sources, Seq("user_id"), "ts_us", "src_ts_us",
        Seq("src_id", "src_type", "src_ts_us"),
        rightTiebreak = Some("src_id"),
        bucketWidth = 7L * 86400000000L,
        direction = "forward")
      .orderBy("event_id")
  }

  /** [[gapFill]] driven from SQL text through the `graft_gap_fill`
    * table function — same per-key daily LOCF grid, same oracle.
    */
  def gapFillSql(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val ev = Tables.events(s, dir)
    ev.select(col("user_id"), epochUs(ev, "ts").as("ts_us"),
        col("event_id"), col("value"))
      .createOrReplaceTempView("graft_events_ts")
    s.sql(
      """SELECT key AS user_id, day, n, day_last_q, filled_q, is_gap
        |FROM graft_gap_fill('graft_events_ts', 'user_id', 'ts_us',
        |                    'event_id', 'value')
        |ORDER BY user_id, day""".stripMargin)
  }

  private val oracleLiteral: Map[String, String] = Map(
    "q_gapfill" ->
      """WITH b AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    epoch_us(ts) AS tus, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS q FROM events),
        |r AS (SELECT user_id, day, q, row_number() OVER (
        |    PARTITION BY user_id, day ORDER BY tus DESC, event_id DESC) AS rn
        |  FROM b WHERE q IS NOT NULL),
        |lastq AS (SELECT user_id, day, q AS day_last_q FROM r WHERE rn = 1),
        |cnt AS (SELECT user_id, day, CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1, 2),
        |sp AS (SELECT user_id, min(day) AS d0, max(day) AS d1
        |  FROM b GROUP BY 1),
        |grid AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day FROM sp),
        |j AS (SELECT g.user_id, g.day, COALESCE(c.n, 0) AS n, l.day_last_q
        |  FROM grid g LEFT JOIN cnt c USING (user_id, day)
        |  LEFT JOIN lastq l USING (user_id, day))
        |SELECT user_id, day, n, day_last_q,
        |  last_value(day_last_q IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS filled_q,
        |  n = 0 AS is_gap
        |FROM j ORDER BY user_id, day""".stripMargin,
    "q_transitions" ->
      """WITH p AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS next_type
        |  FROM events),
        |j AS (SELECT event_type AS from_type, next_type AS to_type,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS from_total
        |  FROM j GROUP BY 1)
        |SELECT j.from_type, j.to_type, j.n, t.from_total,
        |  CAST(j.n * 1000000 // t.from_total AS BIGINT) AS p_ppm
        |FROM j JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,
    "q_daily_anomaly" ->
      """WITH b AS (SELECT epoch_us(ts) // 86400000000 AS day, event_type,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS type_total
        |  FROM b GROUP BY 1),
        |dd AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS n_days FROM b)
        |SELECT b.day, b.event_type, b.n, t.type_total, dd.n_days,
        |  b.n * dd.n_days * 1000 > 2000 * t.type_total AS spike
        |FROM b JOIN t USING (event_type) CROSS JOIN dd
        |ORDER BY b.day, b.event_type""".stripMargin,
    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        |s1 AS (SELECT user_id, min(t) AS pt FROM e
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(t) AS pt FROM e JOIN s1 USING (user_id)
        |  WHERE event_type = 'view' AND t > s1.pt GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(t) AS pt FROM e JOIN s2 USING (user_id)
        |  WHERE event_type = 'click' AND t > s2.pt GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(t) AS pt FROM e JOIN s3 USING (user_id)
        |  WHERE event_type = 'purchase' AND t > s3.pt GROUP BY 1),
        |c AS (
        |  SELECT 1 AS step_no, 'signup' AS step, CAST(count(*) AS BIGINT) AS n_users FROM s1
        |  UNION ALL SELECT 2, 'view', count(*) FROM s2
        |  UNION ALL SELECT 3, 'click', count(*) FROM s3
        |  UNION ALL SELECT 4, 'purchase', count(*) FROM s4)
        |SELECT a.step_no, a.step, a.n_users,
        |  CAST(CASE WHEN b.n_users IS NULL THEN 1000000
        |    WHEN b.n_users = 0 THEN 0
        |    ELSE a.n_users * 1000000 // b.n_users END AS BIGINT) AS conv_ppm
        |FROM c a LEFT JOIN c b ON b.step_no = a.step_no - 1
        |ORDER BY a.step_no""".stripMargin,
    "q_cohorts" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
        |f AS (SELECT user_id,
        |    (min(t) - 1704067200000000) // 604800000000 AS cohort_w
        |  FROM e GROUP BY 1),
        |sizes AS (SELECT cohort_w, CAST(count(*) AS BIGINT) AS cohort_size
        |  FROM f GROUP BY 1),
        |act AS (SELECT DISTINCT e.user_id, f.cohort_w,
        |    (e.t - 1704067200000000) // 604800000000 - f.cohort_w AS offset_w
        |  FROM e JOIN f USING (user_id)),
        |a AS (SELECT cohort_w, offset_w, CAST(count(*) AS BIGINT) AS n_active
        |  FROM act GROUP BY 1, 2)
        |SELECT a.cohort_w, a.offset_w, a.n_active, s.cohort_size,
        |  CAST(a.n_active * 1000000 // s.cohort_size AS BIGINT) AS retention_ppm
        |FROM a JOIN sizes s USING (cohort_w)
        |ORDER BY a.cohort_w, a.offset_w""".stripMargin,
    "q_asof_native_fwd" ->
      """SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |  a.src_id, a.src_type, a.src_ts_us
        |FROM events e LEFT JOIN LATERAL (
        |  SELECT r.event_id AS src_id, r.event_type AS src_type,
        |    epoch_us(r.ts) AS src_ts_us
        |  FROM events r
        |  WHERE r.user_id = e.user_id AND r.event_type IN ('view','click')
        |    AND r.ts >= e.ts
        |  ORDER BY r.ts ASC, r.event_id ASC LIMIT 1) a ON TRUE
        |WHERE e.event_type = 'purchase'
        |ORDER BY e.event_id""".stripMargin,
    "q_asof_native_strict" ->
      """SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |  a.src_id, a.src_type, a.src_ts_us
        |FROM events e LEFT JOIN LATERAL (
        |  SELECT r.event_id AS src_id, r.event_type AS src_type,
        |    epoch_us(r.ts) AS src_ts_us
        |  FROM events r
        |  WHERE r.user_id = e.user_id AND r.event_type IN ('view','click')
        |    AND r.ts < e.ts
        |  ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) a ON TRUE
        |WHERE e.event_type = 'purchase'
        |ORDER BY e.event_id""".stripMargin,
    "q_asof_strict" ->
      """SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |  a.src_id, a.src_type, a.src_ts_us
        |FROM events e LEFT JOIN LATERAL (
        |  SELECT r.event_id AS src_id, r.event_type AS src_type,
        |    epoch_us(r.ts) AS src_ts_us
        |  FROM events r
        |  WHERE r.user_id = e.user_id AND r.event_type IN ('view','click')
        |    AND r.ts < e.ts
        |  ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) a ON TRUE
        |WHERE e.event_type = 'purchase'
        |ORDER BY e.event_id""".stripMargin,
    "q_rfm" ->
      """WITH p AS (SELECT user_id, epoch_us(ts) AS t,
        |    coalesce(CAST(floor(value * 1000) AS BIGINT), 0) AS vq
        |  FROM events WHERE event_type = 'purchase'),
        |a AS (SELECT user_id, CAST(min(t) AS BIGINT) AS first_ts_us,
        |    CAST(max(t) AS BIGINT) AS last_ts_us,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(vq) AS BIGINT) AS monetary_milli FROM p GROUP BY 1),
        |c AS (SELECT *, (first_ts_us - 1704067200000000) // 604800000000
        |    AS cohort_w FROM a),
        |q AS (SELECT user_id, cohort_w, last_ts_us, frequency, monetary_milli,
        |    CAST(ntile(5) OVER (PARTITION BY cohort_w ORDER BY last_ts_us, user_id) AS INTEGER) AS r_q,
        |    CAST(ntile(5) OVER (PARTITION BY cohort_w ORDER BY frequency, user_id) AS INTEGER) AS f_q,
        |    CAST(ntile(5) OVER (PARTITION BY cohort_w ORDER BY monetary_milli, user_id) AS INTEGER) AS m_q
        |  FROM c)
        |SELECT user_id, cohort_w, last_ts_us, frequency, monetary_milli,
        |  r_q, f_q, m_q,
        |  CAST(r_q * 100 + f_q * 10 + m_q AS INTEGER) AS rfm
        |FROM q ORDER BY user_id""".stripMargin,
    "q_asof_native" ->
      """SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |  a.src_id, a.src_type, a.src_ts_us
        |FROM events e LEFT JOIN LATERAL (
        |  SELECT r.event_id AS src_id, r.event_type AS src_type,
        |    epoch_us(r.ts) AS src_ts_us
        |  FROM events r
        |  WHERE r.user_id = e.user_id AND r.event_type IN ('view','click')
        |    AND r.ts <= e.ts
        |  ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) a ON TRUE
        |WHERE e.event_type = 'purchase'
        |ORDER BY e.event_id""".stripMargin,
    "q_asof_tol" ->
      """SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |  a.src_id, a.src_type, a.src_ts_us
        |FROM events e LEFT JOIN LATERAL (
        |  SELECT r.event_id AS src_id, r.event_type AS src_type,
        |    epoch_us(r.ts) AS src_ts_us
        |  FROM events r
        |  WHERE r.user_id = e.user_id AND r.event_type IN ('view','click')
        |    AND r.ts <= e.ts
        |    AND epoch_us(r.ts) >= epoch_us(e.ts) - 259200000000
        |  ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) a ON TRUE
        |WHERE e.event_type = 'purchase'
        |ORDER BY e.event_id""".stripMargin,
    "q_engaged_time" ->
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS lo,
        |    epoch_us(ts) + CAST(floor(value * 1000000) AS BIGINT) AS hi
        |  FROM events),
        |s AS (SELECT *, max(hi) OVER (PARTITION BY user_id
        |    ORDER BY lo, hi
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ph
        |  FROM iv),
        |c AS (SELECT user_id, lo, hi,
        |    greatest(hi - greatest(lo, COALESCE(ph, lo)), 0) AS cov FROM s)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        |  CAST(sum(cov) AS BIGINT) AS covered_us,
        |  CAST(max(hi) - min(lo) AS BIGINT) AS span_us,
        |  CAST(max(hi) - min(lo) - sum(cov) AS BIGINT) AS gap_us
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_asof_join" ->
      """SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |  a.src_id, a.src_type, a.src_ts_us
        |FROM events e LEFT JOIN LATERAL (
        |  SELECT r.event_id AS src_id, r.event_type AS src_type,
        |    epoch_us(r.ts) AS src_ts_us
        |  FROM events r
        |  WHERE r.user_id = e.user_id AND r.event_type IN ('view','click')
        |    AND r.ts <= e.ts
        |  ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) a ON TRUE
        |WHERE e.event_type = 'purchase'
        |ORDER BY e.event_id""".stripMargin,
    "q_percentiles" ->
      """SELECT event_type,
        |  quantile_cont(value, 0.5) AS med,
        |  quantile_cont(value, 0.9) AS p90,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_pivot_events" ->
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_json_extract" ->
      """SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT
        |  CAST(sum(CASE WHEN p_type = 'ECONOMY'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) * 100.0 /
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS economy_pct,
        |  count(*) AS n_items
        |FROM lineitem, part WHERE l_partkey = p_partkey""".stripMargin,
    "q7_yearly_revenue" ->
      """SELECT year(l_shipdate) AS ship_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem GROUP BY 1 ORDER BY ship_year""".stripMargin,
    "q_rollup_revenue" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem, supplier, nation, region
        |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "q_set_ops" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0
        |ORDER BY c_custkey""".stripMargin,
    "q_set_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0
        |ORDER BY c_custkey""".stripMargin,
    "q_attribution" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |v AS (SELECT user_id, us AS view_us, event_id AS view_id
        |  FROM e WHERE event_type = 'view'),
        |c AS (SELECT user_id, us AS click_us, event_id AS click_id
        |  FROM e WHERE event_type = 'click'),
        |p AS (SELECT c.click_id, c.user_id, c.click_us, v.view_us, v.view_id,
        |    row_number() OVER (PARTITION BY c.click_id
        |      ORDER BY v.view_us DESC, v.view_id DESC) AS rn
        |  FROM c JOIN v ON c.user_id = v.user_id
        |  WHERE v.view_us <= c.click_us
        |    AND c.click_us <= v.view_us + 86400000000)
        |SELECT click_id, user_id, click_us, view_id, view_us,
        |  click_us - view_us AS gap_us
        |FROM p WHERE rn = 1 ORDER BY click_id""".stripMargin,
    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id,
        |    lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
        |  FROM events),
        |f AS (SELECT user_id, event_id,
        |    CASE WHEN prev IS NULL OR event_id - prev > 100 THEN 1 ELSE 0 END AS new_sess
        |  FROM g),
        |sess AS (SELECT user_id, event_id,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM f)
        |SELECT user_id, count(DISTINCT sess_id) AS n_sessions,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_big_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING count(*) >= 5)
        |ORDER BY o_orderkey""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_revenue" ->
      """SELECT o_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "q5_revenue_by_nation" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem, supplier, nation
        |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_window_top_events" ->
      """SELECT user_id, event_id, value, rnk FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk
        |  FROM events) t
        |WHERE rnk <= 3 ORDER BY user_id, rnk""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin
  )

  /** The SQL-text twins gate against the SAME oracle text as their
    * Column-API originals — one result definition, two entry points,
    * so the surfaces can never drift apart.
    */
  val oracle: Map[String, String] = oracleLiteral ++ Map(
    "q_asof_sql"    -> oracleLiteral("q_asof_native"),
    "q_asof_sql_sub" -> oracleLiteral("q_asof_native"),
    "q_asof_tol_sql" -> oracleLiteral("q_asof_tol"),
    "q_asof_salted" -> oracleLiteral("q_asof_native"),
    "q_asof_salted_fwd" -> oracleLiteral("q_asof_native_fwd"),
    "q_gapfill_sql" -> oracleLiteral("q_gapfill"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary"    -> (pricingSummary _),
    "q3_top_revenue"        -> (topRevenue _),
    "q5_revenue_by_nation"  -> (revenueByNation _),
    "q14_promo_revenue"     -> (promoRevenue _),
    "q7_yearly_revenue"     -> (yearlyRevenue _),
    "q_window_top_events"   -> (topEventsPerUser _),
    "q_anti_join"           -> (noHighValueOrder _),
    "q_rollup_revenue"      -> (revenueRollup _),
    "q_set_ops"             -> (setOps _),
    "q_set_intersect"       -> (setIntersect _),
    "q_sessionize"          -> (sessionize _),
    "q_attribution"         -> (attribution _),
    "q_big_orders"          -> (bigOrders _),
    "q_json_extract"        -> (jsonExtract _),
    "q_pivot_events"        -> (pivotEvents _),
    "q_funnel"              -> (funnel _),
    "q_cohorts"             -> (cohorts _),
    "q_transitions"         -> (transitions _),
    "q_daily_anomaly"       -> (dailyAnomaly _),
    "q_gapfill"             -> (gapFill _),
    "q_percentiles"         -> (percentiles _),
    "q_asof_join"           -> (asOfAttribution _),
    "q_asof_strict"         -> (asOfAttributionStrict _),
    "q_asof_native"         -> (asOfAttributionNative _),
    "q_asof_native_strict"  -> (asOfAttributionNativeStrict _),
    "q_asof_tol"            -> (asOfAttributionTol _),
    "q_asof_tol_sql"        -> (asOfAttributionTolSql _),
    "q_engaged_time"        -> (engagedTime _),
    "q_asof_native_fwd"     -> (asOfAttributionNativeFwd _),
    "q_asof_sql"            -> (asOfAttributionSql _),
    "q_asof_sql_sub"        -> (asOfAttributionSqlSub _),
    "q_asof_salted"         -> (asOfAttributionSalted _),
    "q_asof_salted_fwd"     -> (asOfAttributionSaltedFwd _),
    "q_gapfill_sql"         -> (gapFillSql _),
    "q_rfm"                 -> (rfmSegments _)
  )
}
