package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.RiskFunctions

/** Declared relational query suite over the driver-provided TPC-H-ish
  * tables (SURVEY.md §7.6). Every query here has an equivalent DuckDB
  * oracle in [[graft.SparkEntry.oracleSql]].
  *
  * Cross-engine exactness rules used throughout:
  *  - double SUM/AVG is order-dependent → aggregate in DECIMAL (exact,
  *    commutative) and cast the final value back to double;
  *  - every window/top-k has a total order (unique tie-break column);
  *  - `length`/`year` return int in Spark vs bigint in DuckDB → cast
  *    both sides to one type explicitly.
  */
object RelationalQueries {

  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events.parquet has shipped in two physical layouts: TIMESTAMP
    * (NANOS), which Spark's vectorized reader only accepts as a
    * nanos-long under the legacy conf (divided to µs here exactly as
    * DuckDB truncates ns→µs), and plain TIMESTAMP(MICROS), which reads
    * as TIMESTAMP_NTZ. Normalize both to session-tz TimestampType (the
    * session runs UTC, so the NTZ wall clock IS the instant) so every
    * downstream operator sees one `ts` type regardless of the file.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // schema conversion consults SQLConf.get, which resolves through the
    // calling thread's ACTIVE session (falling back to the JVM default) —
    // pin it to `s` so the conf above is the one the reader actually sees
    SparkSession.setActiveSession(s)
    val raw = tbl(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Exact (decimal-carried) sum of a double column, surfaced as double. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  // ── Aggregations ────────────────────────────────────────────────────

  /** TPC-H Q1 pattern (A1): wide grouped aggregate with map-side
    * partial aggregation; the scan should prune to 7 columns.
    */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(24,6)")).cast("double").as("sum_disc_price"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))

  /** A2 pattern: global avg (exact decimal path) + count. stddev is
    * deliberately NOT oracle-checked (float-order dependent) — it is
    * covered by ScalaTest instead.
    */
  def q2GlobalStats(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .agg(
        (dsum(col("o_totalprice")) / count(col("o_totalprice"))).as("avg_price"),
        count(lit(1)).as("n_orders"))

  /** A6 pattern (dashboard terms agg): count per event type. */
  def q3GroupCount(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** A7 pattern (dashboard range buckets): histogram of event value. */
  def q4RangeBucket(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(floor(col("value") / 50.0).cast("long").as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Exact count-distinct per group (shuffle-expanding aggregate). */
  def q5CountDistinct(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  /** Min/max per group — exact on doubles. */
  def q6MinMax(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer")
      .groupBy(col("c_nationkey"))
      .agg(min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"),
        count(lit(1)).as("n_customers"))

  // ── Projections / filters ───────────────────────────────────────────

  /** P1/P4: selective filter + narrow projection; `.explain` must show
    * PushedFilters + 4-column ReadSchema.
    */
  def q7FilterProject(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))

  /** F8/F14-style scalar expressions: regexp extract from a JSON-ish
    * props string + coalesce + numeric bucketing.
    */
  def q8ScalarExpr(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(
        col("event_id"),
        coalesce(regexp_extract(col("props"), "\"k\": (\\d+)", 1)
          .cast("int"), lit(-1)).as("k_value"),
        floor(col("value")).cast("long").as("value_floor"))

  /** F12/string functions; both engines cast length to int explicitly. */
  def q9StringFuncs(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer")
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("name_upper"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        length(col("c_name")).cast("int").as("name_len"),
        nullif(trim(col("c_mktsegment")), lit("")).as("segment"))

  /** F10/F11 pattern: timestamp parts + truncation on order dates. */
  def q10DateParts(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("sum_price"))

  // ── Joins ───────────────────────────────────────────────────────────

  /** 4-way equi-join star probe: lineitem ⋈ orders ⋈ customer ⋈ nation,
    * aggregated per nation. The three dimension sides are
    * broadcast-able; only lineitem⋈orders shuffles (and AQE may
    * broadcast orders at small SF).
    */
  def q11JoinStar(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
    val o = tbl(s, dir, "orders")
    val c = tbl(s, dir, "customer")
    val n = tbl(s, dir, "nation")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(24,6)")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Left-semi join (EXISTS): customers having at least one order. */
  def q12SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer")
    val o = tbl(s, dir, "orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
  }

  /** Left-anti join (NOT EXISTS): customers with no orders. */
  def q13AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer")
    val o = tbl(s, dir, "orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_acctbal"))
  }

  /** J2 pattern (nearest-neighbor join, keyed variant): for every
    * customer the closest supplier *of the same nation* by account
    * balance; deterministic tie-break on s_suppkey. Same shape as the
    * flights×stations spatial join but with an equi-key prefilter so
    * the candidate set stays bounded at scale.
    */
  def q14NearestJoin(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer")
    val sup = broadcast(tbl(s, dir, "supplier"))
    val joined = c.join(sup, col("c_nationkey") === col("s_nationkey"))
      .withColumn("bal_dist", abs(col("c_acctbal") - col("s_acctbal")))
    val w = Window.partitionBy(col("c_custkey"))
      .orderBy(col("bal_dist").asc, col("s_suppkey").asc)
    joined.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("c_custkey"), col("s_suppkey").as("nearest_suppkey"),
        col("bal_dist"))
  }

  // ── Windows / top-k ─────────────────────────────────────────────────

  /** W1/A8 pattern: top-1 row per key (largest order per customer). */
  def q15WindowTop1(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    tbl(s, dir, "orders")
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
  }

  /** Running (prefix) sum per order. RANGE frame, not ROWS:
    * (l_orderkey, l_linenumber) is not unique in the generated data, so
    * a ROWS frame would depend on tie order — RANGE includes all peers,
    * making the cumulative value deterministic; decimal keeps it exact.
    */
  def q16RunningSum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    tbl(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        sum(col("l_quantity").cast("decimal(18,2)")).over(w)
          .cast("double").as("running_qty"))
  }

  /** Global top-k with total order (sort + limit). */
  def q17TopK(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  // ── Set operations ──────────────────────────────────────────────────

  def q18Union(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .union(tbl(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      .distinct()

  def q19Intersect(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .intersect(tbl(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))

  def q20Except(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "nation").select(col("n_nationkey").as("nationkey"))
      .except(tbl(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))

  // ── Multi-dimensional aggregates / pivot / subquery patterns ────────

  /** ROLLUP over (returnflag, linestatus) — hierarchical totals. */
  def q22Rollup(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))

  /** CUBE over (orderstatus, orderpriority). */
  def q23Cube(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))

  /** Pivot: per-user event-type counts as columns (fixed pivot values
    * so the plan is a single pass, no distinct-values pre-query).
    */
  def q24Pivot(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0)

  /** Scalar-subquery pattern: customers above the global average
    * balance. The scalar is computed once and broadcast (cross join
    * with a 1-row aggregate), never per-row.
    */
  def q25AboveAvg(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer")
    val avgBal = c.agg(
      (dsum(col("c_acctbal")) / count(col("c_acctbal"))).as("_avg"))
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("_avg"))
      .select(col("c_custkey"), col("c_acctbal"))
  }

  /** Approximate sketches (HLL distinct + quantiles), surfaced as a
    * hash-checkable contract: the sketch values themselves are
    * engine-specific by design, so the declared output carries the
    * EXACT totals plus booleans asserting each sketch landed inside
    * its documented error bound — `approx_count_distinct(rsd=0.02)`
    * within 3·rsd of the exact distinct count, and each
    * `percentile_approx(accuracy=1000)` (rank error ≤ 1/1000) inside
    * a comfortably wider exact-quantile bracket. The oracle recomputes
    * the exact columns and states the booleans as TRUE, so a sketch
    * drifting outside its bound turns the row red rather than
    * invisible. SketchSpec pins the raw estimates besides.
    */
  def q26Approx(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.02).as("_au"),
        // ONE sketch / ONE sorted-counts buffer per group, queried at
        // every requested rank (r16 optimization): the array forms of
        // percentile_approx / percentile share a single aggregation
        // buffer where the scalar forms each built their own copy of
        // the group's values — 6 per-group value buffers collapse to
        // 2. Each requested rank is interpolated from the identical
        // buffer by the identical code path, so the results are
        // bit-identical to the scalar calls (oracle hash unchanged).
        percentile_approx(col("value"), array(lit(0.5), lit(0.99)),
          lit(1000)).as("_apx"),
        expr("percentile(value, array(0.45D, 0.55D, 0.98D, 0.999D))")
          .as("_pex"))
      .select(col("event_type"), col("n_events"), col("exact_users"),
        (abs(col("_au") - col("exact_users"))
          <= lit(0.06) * col("exact_users")).as("hll_ok"),
        element_at(col("_apx"), 1)
          .between(element_at(col("_pex"), 1), element_at(col("_pex"), 2))
          .as("median_ok"),
        element_at(col("_apx"), 2)
          .between(element_at(col("_pex"), 3), element_at(col("_pex"), 4))
          .as("p99_ok"))

  /** Exact interpolated percentiles per group (sort-based `percentile`,
    * not the approximate sketch) — rounded for cross-engine float
    * parity with DuckDB's `quantile_cont`.
    */
  def q27Percentile(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        // one shared sorted-counts buffer for all three ranks (array
        // form) instead of three independent copies of every group's
        // values — same interpolation per rank, bit-identical output
        // (see q26Approx)
        expr("percentile(value, array(0.25D, 0.5D, 0.9D))").as("_p"),
        count(lit(1)).as("n"))
      .select(col("event_type"),
        round(element_at(col("_p"), 1), 6).as("p25"),
        round(element_at(col("_p"), 2), 6).as("p50"),
        round(element_at(col("_p"), 3), 6).as("p90"),
        col("n"))

  /** Ranking/navigation window suite: rank, dense_rank, lag, lead,
    * ntile over a deterministic total order per customer.
    */
  def q28WindowSuite(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    tbl(s, dir, "orders").select(
      col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
      rank().over(w).as("rnk"),
      dense_rank().over(w).as("drnk"),
      lag(col("o_totalprice"), 1).over(w).as("prev_price"),
      lead(col("o_totalprice"), 1).over(w).as("next_price"),
      ntile(4).over(w).as("quartile"))
  }

  /** Top-k per group through the bounded-heap custom aggregate (k
    * entries per group survive partial aggregation — no per-group
    * window sort). Oracle is the equivalent window row_number query.
    */
  def q29TopKAgg(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(graft.functions.expressions.TopKByAgg
        .topKBy(col("value"), col("event_id"), 5).as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("event_id"), col("col.score").as("value"))

  /** TPC-H Q3 shape: segment-filtered star join → grouped revenue →
    * global top-10. Filters push to all three scans; the final sort is
    * a TakeOrdered (top-k), not a full global sort.
    */
  def q30ShipPriority(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-06-15").cast("timestamp")
    val cust = tbl(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ords = tbl(s, dir, "orders")
      .filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val items = tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    items
      .join(ords, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(24,6)")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** Correlated-subquery pattern (decorrelated by hand the way
    * Catalyst would: per-group aggregate + equi join): customers above
    * their own nation's average balance.
    */
  def q31AboveNationAvg(s: SparkSession, dir: String): DataFrame = {
    val cust = tbl(s, dir, "customer")
    val natAvg = cust.groupBy(col("c_nationkey"))
      .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
        / count(col("c_acctbal"))).as("nation_avg"))
    cust.join(natAvg, Seq("c_nationkey"))
      .filter(col("c_acctbal") > col("nation_avg"))
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        round(col("nation_avg"), 6).as("nation_avg"))
  }

  /** Explicit GROUPING SETS with grouping_id — the generalized form of
    * rollup/cube (A6/A7 family).
    */
  def q32GroupingSets(s: SparkSession, dir: String): DataFrame = {
    tbl(s, dir, "orders").createOrReplaceTempView("orders_gs")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus)*2 + grouping(o_orderpriority) AS INTEGER) AS gid,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |""".stripMargin)
  }

  /** Array-valued aggregation: per-user sorted distinct event types.
    * The sorted array is surfaced as a joined string — array cells are
    * not hashable through the oracle compare, a string is; ordering is
    * pinned by sort_array so the cell is deterministic.
    */
  def q33ArrayAgg(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        array_join(sort_array(collect_set(col("event_type"))), ",").as("types"),
        count(lit(1)).as("n"))

  /** Date/time arithmetic suite (F10/F11 family beyond parts):
    * datediff, month add, truncation, day-of-week extraction.
    */
  def q34DateArith(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .select(
        col("o_orderkey"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date"))
          .cast("int").as("days_to_2002"),
        // dates surfaced as ISO strings: date cells deserialize to
        // different host types across engines (date vs timestamp)
        date_format(add_months(col("o_orderdate").cast("date"), 3), "yyyy-MM-dd")
          .as("plus_3m"),
        date_format(date_trunc("quarter", col("o_orderdate")), "yyyy-MM-dd")
          .as("quarter_start"),
        dayofweek(col("o_orderdate")).cast("int").as("dow"))

  /** μ+2σ outlier flags (batch analog of the reference's anomaly
    * operator B7, `src/combine_spark.py:367-382`), made oracle-exact:
    * Σx and Σx² are carried as DECIMAL (order-independent), μ and σ
    * are then derived with the same float expressions in both engines,
    * so the boolean flag and rounded z-score match bit-for-bit.
    */
  def q35ZScoreOutliers(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val stats = ev.groupBy(col("event_type")).agg(
      sum(col("value").cast("decimal(18,6)")).cast("double").as("sx"),
      sum((col("value") * col("value")).cast("decimal(38,12)")).cast("double").as("sx2"),
      count(col("value")).cast("double").as("n"))
      .withColumn("mu", col("sx") / col("n"))
      .withColumn("sigma",
        sqrt((col("sx2") - col("sx") * col("sx") / col("n")) / (col("n") - 1)))
      .select("event_type", "mu", "sigma")
    ev.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), col("event_id"),
        (abs(col("value") - col("mu")) > lit(2.0) * col("sigma")).as("is_outlier"),
        round((col("value") - col("mu")) / col("sigma"), 4).as("zscore"))
  }

  /** TPC-H Q5 shape: revenue through the full dimension hierarchy
    * (lineitem → orders → customer → nation → region) — exercises all
    * snowflake levels. Every non-fact side carries an explicit
    * `broadcast` hint so the plan is 4 BroadcastHashJoins regardless of
    * stats freshness (asserted in PlanAssertionsSpec); the hints pin
    * the bench-scale plan — at cluster scale the orders/customer joins
    * would instead be bucket-co-located (`bucketBy` + `sortBy` on the
    * join key at write time) and only nation/region stay broadcast.
    */
  def q36RegionRevenue(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .join(broadcast(tbl(s, dir, "orders")), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(tbl(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(tbl(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(24,6)")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  // ── TPC-H planner-stressing shapes (Q2/Q4/Q7/Q8/Q21), adapted to the
  //    available schema: there is no partsupp and no commit/receipt
  //    date, so lineitem stands in as the part↔supplier offer relation
  //    and "late" means shipped >N days after the order date. ─────────

  /** TPC-H Q2 shape — min-correlated subquery: for each small part, the
    * cheapest regional (part, supplier) offer; offers = min lineitem
    * price per (part, supplier). Decorrelated the way Catalyst would:
    * per-part min aggregate + join back on the min. The offer aggregate
    * is the only big shuffle; every dimension is broadcast.
    */
  def q37MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val cost = tbl(s, dir, "lineitem")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice")).as("supply_cost"))
    val regionalSupp = tbl(s, dir, "supplier")
      .join(broadcast(tbl(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(tbl(s, dir, "region").filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val smallParts = tbl(s, dir, "part")
      .filter(col("p_size") <= 10)
      .select(col("p_partkey"), col("p_brand"))
    // regionalSupp/smallParts scale with SF (unlike nation/region) —
    // no explicit hint; AQE broadcasts them while they fit and falls
    // back to shuffle joins at cluster scale
    val offers = cost
      .join(regionalSupp, col("l_suppkey") === col("s_suppkey"))
      .join(smallParts, col("l_partkey") === col("p_partkey"))
    // the correlated min as a per-part window over ONE offers pass — an
    // aggregate + join-back would compute the whole offers subtree
    // twice and re-join it with a sort-merge join
    val w = Window.partitionBy(col("p_partkey"))
    offers
      .withColumn("_min_cost", min(col("supply_cost")).over(w))
      .filter(col("supply_cost") === col("_min_cost"))
      .select(col("p_partkey"), col("p_brand"), col("s_name"),
        col("s_acctbal"), col("n_name"), col("supply_cost"))
  }

  /** TPC-H Q4 shape — EXISTS + date range: orders of one quarter that
    * have at least one lineitem shipped more than 60 days after the
    * order date, counted per priority. The EXISTS compiles to a LEFT
    * SEMI join on the order key with the date predicate as a join
    * residual — one shuffle, no row duplication before the aggregate.
    */
  def q38PriorityExists(s: SparkSession, dir: String): DataFrame = {
    val ords = tbl(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
    val items = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    ords
      .join(items,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q7 shape — two-nation shipping volume: revenue between a
    * supplier nation and a customer nation (both directions) by year.
    * Two independent dimension chains hang off lineitem; nation filters
    * are pushed below the joins, so only qualifying suppliers/customers
    * reach the fact join.
    */
  def q39NationVolume(s: SparkSession, dir: String): DataFrame = {
    val (na, nb) = ("NATION_1", "NATION_2")
    val nations = tbl(s, dir, "nation")
      .filter(col("n_name").isin(na, nb))
    val supp = tbl(s, dir, "supplier")
      .join(broadcast(nations.select(col("n_nationkey").as("_snk"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("_snk"))
      .select(col("s_suppkey"), col("supp_nation"))
    val cust = tbl(s, dir, "customer")
      .join(broadcast(nations.select(col("n_nationkey").as("_cnk"),
        col("n_name").as("cust_nation"))), col("c_nationkey") === col("_cnk"))
      .select(col("c_custkey"), col("cust_nation"))
    // orders is fact-scaled: the l_orderkey join stays a shuffle join
    // at scale (AQE broadcasts it at bench SF); supp/cust are nation-
    // filtered slivers but still SF-scaled — AQE's call too
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(tbl(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === na && col("cust_nation") === nb) ||
        (col("supp_nation") === nb && col("cust_nation") === na))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("int").as("l_year"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(24,6)")).cast("double").as("revenue"))
  }

  /** TPC-H Q8 shape — market share via CASE aggregation: of all PROMO
    * revenue sold into region ASIA per year, the share supplied by
    * NATION_3. Both nation dimensions join the same fact pass; the
    * share is a conditional decimal sum over the total decimal sum, so
    * the double division is bit-identical across engines.
    */
  def q40MarketShare(s: SparkSession, dir: String): DataFrame = {
    val asiaCust = tbl(s, dir, "customer")
      .join(broadcast(tbl(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(tbl(s, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val suppNation = tbl(s, dir, "supplier")
      .join(broadcast(tbl(s, dir, "nation").select(col("n_nationkey").as("_snk"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("_snk"))
      .select(col("s_suppkey"), col("supp_nation"))
    val vol = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(24,6)")
    // part/orders/customer/supplier all scale with SF — no explicit
    // broadcast pins; only the fixed-cardinality nation/region hints
    // above are unconditional
    tbl(s, dir, "lineitem")
      .join(tbl(s, dir, "part").filter(col("p_type") === "PROMO")
        .select("p_partkey"), col("l_partkey") === col("p_partkey"))
      .join(tbl(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"))
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(
        round(
          sum(when(col("supp_nation") === "NATION_3", vol).otherwise(lit(0).cast("decimal(24,6)")))
            .cast("double") /
            sum(vol).cast("double"), 6).as("mkt_share"),
        sum(vol).cast("double").as("total_revenue"))
  }

  /** TPC-H Q21 shape — double EXISTS/NOT EXISTS: suppliers whose late
    * lineitems (shipped >90 days after the order date) sit on
    * multi-supplier orders where NO other supplier was late.
    *
    * Decorrelated into ONE pass over lineitem: group to per-(order,
    * supplier) late-row counts, then per-order window stats — "some
    * other supplier exists" = suppliers-per-order ≥ 2; "no other
    * supplier late" = late-suppliers-per-order = 1. The naive form
    * (semi + anti self-joins against the late subtree) scans lineitem
    * three times and shuffles it twice more. Top-100 via orderBy+limit
    * compiles to TakeOrderedAndProject (no global sort).
    */
  def q41WaitingSupplier(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    val ords = tbl(s, dir, "orders").select("o_orderkey", "o_orderdate")
    // orders is fact-scaled: shuffle join on the order key (AQE
    // broadcasts at bench SF)
    val perSupp = li
      .join(ords, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(count(when(
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        lit(1))).as("_n_late"))
    val w = Window.partitionBy(col("l_orderkey"))
    perSupp
      .withColumn("_n_supp", count(lit(1)).over(w))
      .withColumn("_n_late_supp",
        sum(when(col("_n_late") > 0, 1).otherwise(0)).over(w))
      .filter(col("_n_late") > 0 && col("_n_supp") >= 2 &&
        col("_n_late_supp") === 1)
      .join(tbl(s, dir, "supplier").select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(sum(col("_n_late")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(100)
  }

  /** TPC-H Q10 shape — returned-item customers: revenue lost to
    * returns per customer over a quarter, top 20. The returnflag and
    * date filters push below the joins; top-20 is
    * TakeOrderedAndProject with the customer key as tie-break.
    */
  def q42ReturnedCustomers(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .join(tbl(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(tbl(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(tbl(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(24,6)")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)

  /** TPC-H Q12 shape — conditional priority counting over late-shipped
    * lineitems (no shipmode column in this schema, so returnflag is
    * the grouping dimension): one join, CASE sums, no row explosion.
    */
  def q43LateShipPriority(s: SparkSession, dir: String): DataFrame = {
    val highPrio = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(tbl(s, dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(highPrio, 1).otherwise(0)).cast("long").as("high_line_count"),
        sum(when(highPrio, 0).otherwise(1)).cast("long").as("low_line_count"))
  }

  /** TPC-H Q13 shape — customer order-count distribution INCLUDING
    * zero-order customers: the order filter lives in the LEFT join
    * condition (a WHERE would drop the nulls Q13 exists to count),
    * then a two-level aggregate.
    */
  def q44OrderCountDistribution(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer").select("c_custkey")
      .join(tbl(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        .select("o_orderkey", "o_custkey"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  /** TPC-H Q14 shape — promo revenue share of one month: conditional
    * decimal sum over total decimal sum; the double division is
    * bit-identical across engines because both operands are.
    */
  def q45PromoShare(s: SparkSession, dir: String): DataFrame = {
    val vol = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(24,6)")
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .join(tbl(s, dir, "part").select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .agg(
        round(lit(100.0) *
          sum(when(col("p_type") === "PROMO", vol)
            .otherwise(lit(0).cast("decimal(24,6)"))).cast("double") /
          sum(vol).cast("double"), 6).as("promo_revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q19 shape — disjunctive predicate join: an equi join on the
    * part key with a three-branch OR residual over brand/size/quantity
    * (each branch a different selectivity), summed to one row.
    */
  def q46DisjunctiveJoin(s: SparkSession, dir: String): DataFrame = {
    val branch = (col("p_brand") === "Brand#1" && col("p_size") <= 5 &&
      col("l_quantity") >= 1 && col("l_quantity") <= 11) ||
      (col("p_brand") === "Brand#2" && col("p_size") <= 10 &&
        col("l_quantity") >= 10 && col("l_quantity") <= 20) ||
      (col("p_brand") === "Brand#3" && col("p_size") <= 15 &&
        col("l_quantity") >= 20 && col("l_quantity") <= 30)
    tbl(s, dir, "lineitem")
      .join(tbl(s, dir, "part").select("p_partkey", "p_brand", "p_size"),
        col("l_partkey") === col("p_partkey") && branch)
      .agg(
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(24,6)")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q22 shape — scalar-average subquery + anti join: customers
    * above the positive-balance average with no RECENT orders (every
    * synthetic customer has some order, so Q22's "no orders at all"
    * would be vacuously empty — the date-scoped NOT EXISTS keeps the
    * anti join selective), rolled up by a derived country code. The
    * scalar lands as an O(1) driver literal (the F13 pattern); the
    * NOT EXISTS is a LEFT ANTI join.
    */
  def q47RichInactiveCustomers(s: SparkSession, dir: String): DataFrame = {
    val cust = tbl(s, dir, "customer")
    val threshold = cust.filter(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("t"))
      .first().getDouble(0)
    cust
      .filter(col("c_acctbal") > lit(threshold))
      .join(tbl(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy((col("c_nationkey") % 10).as("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("totacctbal"))
  }

  // ── TPC-H remaining shapes (Q6/Q9/Q11/Q15/Q16/Q17/Q18/Q20), adapted:
  //    no partsupp table, so lineitem is the supply relation and
  //    p_retailprice stands in for supply cost. ───────────────────────

  /** TPC-H Q6 shape — scan-only conditional revenue: three pushed
    * predicates, no join, one decimal sum. The plan must be a single
    * pruned parquet scan (3-column ReadSchema) + partial/final agg.
    */
  def q48RevenueDelta(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.02 && col("l_discount") <= 0.06 &&
        col("l_quantity") < 24)
      .agg(
        sum((col("l_extendedprice") * col("l_discount")).cast("decimal(24,6)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  /** TPC-H Q9 shape — profit per nation per year: lineitem joined to a
    * name-filtered part, supplier→nation, and orders; profit =
    * revenue − retail cost (p_retailprice stands in for ps_supplycost).
    * One fact pass; nation is broadcast, the SF-scaled dims are AQE's
    * call.
    */
  def q49ProductProfit(s: SparkSession, dir: String): DataFrame = {
    val amount = (col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      col("p_retailprice") * col("l_quantity")).cast("decimal(24,6)")
    tbl(s, dir, "lineitem")
      .join(tbl(s, dir, "part").filter(col("p_name").contains("widget"))
        .select("p_partkey", "p_retailprice"),
        col("l_partkey") === col("p_partkey"))
      .join(tbl(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(tbl(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(tbl(s, dir, "orders").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(sum(amount).cast("double").as("sum_profit"))

  }

  /** TPC-H Q11 shape — group-HAVING against a global scalar: per-part
    * supply value restricted to one nation's suppliers, keeping parts
    * whose value exceeds a fraction of the nation total. The total is a
    * 1-row aggregate cross-joined back (computed once, broadcast) — the
    * scalar-subquery decorrelation Catalyst itself performs.
    */
  def q50ImportantStock(s: SparkSession, dir: String): DataFrame = {
    val natSupp = tbl(s, dir, "supplier")
      .join(broadcast(tbl(s, dir, "nation").filter(col("n_name") === "NATION_5")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val supply = tbl(s, dir, "lineitem")
      .join(natSupp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum((col("l_extendedprice") * col("l_quantity")).cast("decimal(24,6)"))
        .cast("double").as("part_value"))
    val total = supply.agg(sum(col("part_value").cast("decimal(30,6)"))
      .cast("double").as("_total"))
    supply.crossJoin(broadcast(total))
      .filter(col("part_value") > col("_total") * 0.002)
      .select(col("l_partkey").as("p_partkey"), col("part_value"))
  }

  /** TPC-H Q15 shape — top supplier by quarterly revenue (all ties
    * kept): per-supplier revenue aggregate, max as a broadcast 1-row
    * scalar, equality join back. Decimal-exact sums make the double
    * equality deterministic across engines.
    */
  def q51TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(24,6)")).cast("double").as("total_revenue"))
    val maxRev = rev.agg(max(col("total_revenue")).as("_max"))
    rev.crossJoin(broadcast(maxRev))
      .filter(col("total_revenue") === col("_max"))
      .join(tbl(s, dir, "supplier").select("s_suppkey", "s_name", "s_acctbal"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("total_revenue"))
  }

  /** TPC-H Q16 shape — distinct-supplier counts per part descriptor
    * with a NOT-IN exclusion: suppliers with negative balance are
    * anti-joined out BEFORE the count-distinct (the NOT IN compiles to
    * a left-anti join, not a per-row subquery).
    */
  def q52PartSupplierCount(s: SparkSession, dir: String): DataFrame = {
    val badSupp = tbl(s, dir, "supplier")
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    tbl(s, dir, "lineitem").select("l_partkey", "l_suppkey")
      .join(badSupp, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(tbl(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO")
        .select("p_partkey", "p_brand", "p_type", "p_size"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** TPC-H Q17 shape — correlated per-part average: lineitems of one
    * brand/type whose quantity is below half their part's average
    * quantity. Decorrelated into a per-part aggregate joined back to
    * the fact — the aggregate runs over the FILTERED part set only
    * (pushing the semi-join into the avg input), not all of lineitem.
    */
  def q53SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val parts = tbl(s, dir, "part")
      .filter(col("p_type") === "SMALL").select("p_partkey")
    val li = tbl(s, dir, "lineitem")
      .join(parts, col("l_partkey") === col("p_partkey"))
    val avgQty = li.groupBy(col("l_partkey").as("_pk"))
      .agg((sum(col("l_quantity").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("avg_qty"))
    li.join(avgQty, col("l_partkey") === col("_pk"))
      .filter(col("l_quantity") < col("avg_qty") * 0.5)
      .agg(
        (sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") /
          lit(7.0)).as("avg_yearly"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q18 shape — large-volume orders: per-order quantity
    * aggregate HAVING above a threshold, joined to orders + customer,
    * top-100 by price. The big-order set is tiny after the HAVING, so
    * both enrichment joins broadcast it; TakeOrderedAndProject caps the
    * sort.
    */
  def q54LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = tbl(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
        .as("total_qty"))
      .filter(col("total_qty") > 250.0)
    big
      .join(tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        col("l_orderkey") === col("o_orderkey"))
      .join(tbl(s, dir, "customer").select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
  }

  /** TPC-H Q20 shape — nested correlated IN: suppliers in one nation
    * holding a dominant share of some SMALL part's supply (per-(part,
    * supplier) quantity above 30% of the part total). One pass over the
    * supply relation: group to (part, supplier), window-sum to part
    * totals — no self-join against a second aggregate subtree.
    */
  def q55PromoSuppliers(s: SparkSession, dir: String): DataFrame = {
    val parts = tbl(s, dir, "part")
      .filter(col("p_type") === "SMALL").select("p_partkey")
    val perSupp = tbl(s, dir, "lineitem")
      .join(parts, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("_qty"))
    val w = Window.partitionBy(col("l_partkey"))
    val dominant = perSupp
      .withColumn("_part_total", sum(col("_qty")).over(w))
      .filter(col("_qty").cast("double") > col("_part_total").cast("double") * 0.3)
      .select(col("l_suppkey")).distinct()
    tbl(s, dir, "supplier")
      .join(broadcast(tbl(s, dir, "nation").filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
  }

  // ── Business-logic patterns (B1/B2 over oracle-checkable columns) ───

  /** Exercises the PRODUCTION risk-score expression (B1/B2) against an
    * oracle CASE chain, with lineitem columns standing in for the
    * weather inputs. Unlike the reference's tests — which re-declare the
    * scoring expression (`tests/test_risk_score.py:26-46`) — this runs
    * the real [[RiskFunctions.riskScore]] column.
    */
  def q21RiskCase(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
    val score = RiskFunctions.riskScore(
      weatherCode = col("l_quantity") * 2.0,
      gusts = col("l_extendedprice") / lit(1000.0),
      precip = col("l_discount") * 100.0,
      visibility = col("l_partkey") % 5000,
      cloudCover = col("l_tax") * 1000.0,
      onGround = col("l_returnflag") === "R",
      baroAltitude = col("l_suppkey"))
    li.select(
      col("l_orderkey"), col("l_linenumber"),
      score.as("risk_score"),
      RiskFunctions.riskCategory(score).as("risk_category"))
  }
}
