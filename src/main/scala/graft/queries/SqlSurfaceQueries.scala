package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.DuckDbRound.round

/** Standard-SQL operator surface beyond the core analytics set: distinct
  * aggregation, set operations, ROLLUP grouping, semi/anti joins, and the
  * scalar function library (string/date/math built-ins). These are the
  * operators a user of the generated trifecta views runs day-to-day; all
  * are Catalyst built-ins (codegen'd, pushdown-friendly). */
object SqlSurfaceQueries {

  type Q = (SparkSession, String) => DataFrame

  val queries: ListMap[String, Q] = ListMap(
    // Table PROFILING (r15): per-column null count, exact distinct
    // count, and numeric min/max over orders — the ingest-hygiene pass a
    // pipeline runs before admitting a new table (nulls where a key
    // should be, cardinality collapse, out-of-range values). ONE scan:
    // all six columns' aggregates ride one agg (Spark plans the multi-
    // distinct via Expand — scan once, expand per distinct), then the
    // 1-row wide result unpivots to a row per column with a stack
    // projection. At 100 TB the same shape holds with the exact
    // distincts swapped for approx_count_distinct (the sketch family);
    // exact here keeps the row oracle-checkable.
    "table_profile" -> ((spark, dir) => {
      val o = Tables.load(spark, dir, "orders")
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      val numeric = Set("o_orderkey", "o_custkey", "o_totalprice")
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
        Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
          countDistinct(col(c)).as(s"${c}__distinct")) ++
          (if (numeric(c))
            Seq(min(col(c)).cast("double").as(s"${c}__min"),
              max(col(c)).cast("double").as(s"${c}__max"))
          else Nil)
      }
      val wide = o.agg(aggs.head, aggs.tail: _*)
      val rows = cols.map { c =>
        struct(lit(c).as("column_name"), col("n_rows"),
          col(s"${c}__nulls").as("n_nulls"),
          col(s"${c}__distinct").as("n_distinct"),
          (if (numeric(c)) col(s"${c}__min")
           else lit(null).cast("double")).as("min_num"),
          (if (numeric(c)) col(s"${c}__max")
           else lit(null).cast("double")).as("max_num"))
      }
      wide.select(explode(array(rows: _*)).as("r"))
        .select("r.column_name", "r.n_rows", "r.n_nulls", "r.n_distinct",
          "r.min_num", "r.max_num")
        .orderBy("column_name")
    }),
    // Exact distinct aggregation (expand + two-phase agg in Spark)
    "distinct_agg" -> ((spark, dir) => {
      Tables.load(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),
    // Set operations: INTERSECT / EXCEPT with distinct semantics
    "set_ops_customers" -> ((spark, dir) => {
      val customer = Tables.load(spark, dir, "customer")
      val orders = Tables.load(spark, dir, "orders")
      val rich = customer.filter(col("c_acctbal") > 5000).select(col("c_custkey").as("k"))
      val active = orders.select(col("o_custkey").as("k"))
      val both = rich.intersect(active).withColumn("category", lit("rich_active"))
      val inactive = rich.except(active).withColumn("category", lit("rich_inactive"))
      both.union(inactive).select(col("category"), col("k").as("c_custkey"))
        .orderBy("category", "c_custkey")
    }),
    // ROLLUP subtotals (keys coalesced so both engines sort identically)
    "rollup_revenue" -> ((spark, dir) => {
      Tables.load(spark, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("revenue"), col("n"))
        .orderBy("rflag", "lstatus")
    }),
    // Explicit GROUPING SETS (distinct from rollup/cube): by-flag and
    // by-status subtotals only, no grand total
    "grouping_sets_revenue" -> ((spark, dir) => {
      Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
      spark.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS rflag,
               coalesce(l_linestatus, 'ALL') AS lstatus,
               round(round(sum(l_extendedprice * (1 - l_discount)) * 100, 0) / 100, 2) AS revenue
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        ORDER BY rflag, lstatus""")
    }),
    // Semi join (EXISTS) and anti join (NOT EXISTS) over the same key
    "semi_anti_join" -> ((spark, dir) => {
      val customer = Tables.load(spark, dir, "customer")
      val orders = Tables.load(spark, dir, "orders")
      val withOrders = customer.join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_orders").as("status"))
      val without = customer.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("no_orders").as("status"))
      withOrders.union(without).orderBy("c_custkey")
    }),
    // Pivot: one column per return flag (conditional-agg equivalent)
    "pivot_returnflag" -> ((spark, dir) => {
      Tables.load(spark, dir, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(round(sum(col("l_quantity")), 2))
        .withColumnRenamed("A", "qty_a")
        .withColumnRenamed("N", "qty_n")
        .withColumnRenamed("R", "qty_r")
        .na.fill(0.0, Seq("qty_a", "qty_n", "qty_r"))
        .orderBy("l_linestatus")
    }),
    // CUBE: all grouping-set combinations
    "cube_revenue" -> ((spark, dir) => {
      Tables.load(spark, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("revenue"))
        .orderBy("rflag", "lstatus")
    }),
    // Correlated scalar subquery: parts priced above their brand's average
    "correlated_subquery" -> ((spark, dir) => {
      Tables.load(spark, dir, "part").createOrReplaceTempView("part_sq")
      spark.sql("""
        SELECT p_partkey, p_brand, p_retailprice
        FROM part_sq p
        WHERE p_retailprice > (SELECT avg(p2.p_retailprice)
                               FROM part_sq p2 WHERE p2.p_brand = p.p_brand)
        ORDER BY p_partkey""")
    }),
    // As-of event attribution: each event carries the timestamp of the
    // user's most recent prior-or-same-time signup event — the as-of-join
    // pattern expressed as a single running window (no join, no shuffle
    // beyond the user partitioning)
    "asof_last_signup" -> ((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(spark, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
          coalesce(max(when(col("event_type") === "signup", col("ts"))).over(w),
            lit(java.sql.Timestamp.valueOf("1970-01-01 00:00:00"))).as("last_signup_ts"))
        .orderBy("event_id")
    }),
    // Custom typed aggregate (Aggregator/udaf surface): value-weighted mean
    // price per order status, weighted by quantity
    "weighted_mean_price" -> ((spark, dir) => {
      Tables.load(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(graft.functions.WeightedMean.weightedMean(
          col("l_extendedprice"), col("l_quantity")), 4).as("wmean_price"))
        .orderBy("l_returnflag")
    }),
    // Custom TypedImperativeAggregate: bounded top-k-by buffer (the sketch
    // aggregate tier) — top-3 order keys by extended price per return flag,
    // emitted as a comma-joined string for oracle stability
    "topk_by_agg" -> ((spark, dir) => {
      Tables.load(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(graft.functions.TopKBy.top_k_by(
          col("l_orderkey"), col("l_extendedprice"), 3).as("keys"))
        .select(col("l_returnflag"),
          concat_ws(",", expr("transform(keys, x -> cast(x as string))")).as("top_keys"))
        .orderBy("l_returnflag")
    }),
    // Sketch aggregates: HLL distinct + approximate quantiles. Approximate
    // by design -> rows-only check (deterministic for fixed input). The
    // REALIZED HLL relative error rides along as a column: the hash-
    // checked gate below can only pin a boolean (the oracle cannot
    // reproduce Spark's HLL value), so this rows-only row is where the
    // observed error stays visible in every round's CORRECTNESS artifacts
    // — drift inside the gate's 3-sigma band shows up here (and fails the
    // pinned 2.5% envelope in SketchErrorSpec).
    "approx_sketches" -> ((spark, dir) => {
      Tables.load(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("approx_median_price"),
          percentile_approx(col("l_extendedprice"), lit(0.99), lit(1000)).as("approx_p99_price"))
        .withColumn("hll_rel_err",
          round(abs(col("approx_parts") - col("exact_parts"))
            / col("exact_parts"), 6))
        .orderBy("l_returnflag")
    }),
    // Driver-visible ERROR-BOUND gate for the sketch aggregates: the exact
    // values (distinct count, interpolated percentiles) are computed by
    // both engines and hash-compared as usual; the booleans compare the
    // in-engine sketch against the in-engine exact value, and the oracle
    // states the literal TRUEs — so a sketch drifting outside its
    // documented bound turns this row red while HLL/KLL internals stay
    // engine-private. Bounds: HLL at rsd=0.02 gated within 6% — rsd is a
    // ONE-sigma target, not a guarantee, so the gate allows 3 sigma; a
    // correctly-working sketch outside 3 sigma is a ~0.3% event, while a
    // broken one (wrong register merge, wrong bias correction) misses by
    // far more. percentile_approx at accuracy=1000 within 1% of the
    // exact value (rank error 1/1000 on these distributions lands well
    // inside).
    "approx_sketches_gate" -> ((spark, dir) => {
      val agg = Tables.load(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey"), 0.02).as("hll_parts"),
          expr("percentile(l_extendedprice, 0.5)").as("exm"),
          expr("percentile(l_extendedprice, 0.99)").as("exp99"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("apm"),
          percentile_approx(col("l_extendedprice"), lit(0.99), lit(1000)).as("app99"))
      agg.select(col("l_returnflag"), col("exact_parts"),
          round(col("exm"), 4).as("exact_median"),
          round(col("exp99"), 4).as("exact_p99"),
          (abs(col("hll_parts") - col("exact_parts")) / col("exact_parts") <= 0.06)
            .as("hll_within_3sigma"),
          (abs(col("apm") - col("exm")) / col("exm") <= 0.01)
            .as("median_within_1pct"),
          (abs(col("app99") - col("exp99")) / col("exp99") <= 0.01)
            .as("p99_within_1pct"))
        .orderBy("l_returnflag")
    }),
    // Count-min sketch frequency gate — the third sketch family (HLL =
    // distinct, KLL = quantiles, CMS = frequency): one CMS over the
    // token stream, probed for a BOUNDED list of candidate terms (the
    // heavy-hitter shortlist a monitoring tier tracks — never the vocab,
    // which is web-scale). The estimate is engine-private like the HLL
    // registers, so the hashed columns are the exact counts plus the two
    // CMS guarantees as booleans: est >= exact always (CMS never
    // undercounts), est <= exact + eps*N (the width bound; seed pinned,
    // so deterministic). The oracle computes the exact counts and states
    // the literal TRUEs — a sketch regression turns the row red while
    // sketch internals stay engine-private (the approx_sketches_gate
    // discipline). Driver-side probing reads ONE kilobyte-sized sketch —
    // the centroid/codebook bounded-collect precedent.
    "cms_term_counts" -> ((spark, dir) => {
      val probeTerms = Seq("dup", "hash", "join", "slow", "the", "vector")
      val eps = 0.001
      val docs = Tables.load(spark, dir, "documents")
      val terms = docs.select(
        explode(split(lower(col("text")), " ")).as("term"))
      val Array(skBytes, total) = terms
        .agg(count_min_sketch(col("term"), lit(eps), lit(0.99), lit(42)),
          count(lit(1)))
        .head().toSeq.toArray
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(skBytes.asInstanceOf[Array[Byte]]))
      // the CMS width bound est <= exact + eps*N holds per probe only
      // with confidence 0.99 (depth-many Markov rows) — it is NOT a hard
      // sketch guarantee, and a new fixture or sf could legitimately
      // exceed 1x eps*N. The gate therefore allows 8x eps*N: far inside
      // "the estimate is a frequency, not noise" territory, far outside
      // what any seed/fixture wiggle can produce, so the row only turns
      // red on a genuine sketch regression (no_undercount stays the hard
      // CMS invariant)
      val slack = 8L * math.ceil(eps * total.asInstanceOf[Long]).toLong
      val exact = terms.filter(col("term").isin(probeTerms: _*))
        .groupBy("term").agg(count(lit(1)).as("exact_count"))
        .collect().map(r => r.getString(0) -> r.getLong(1))
      import spark.implicits._
      exact.toSeq.map { case (t, ex) =>
        val est = cms.estimateCount(t)
        (t, ex, est >= ex, est <= ex + slack)
      }.toDF("term", "exact_count", "no_undercount", "overcount_within_eps")
        .orderBy("term")
    }),
    // Scalar function library: string, date and math built-ins in one pass
    "scalar_functions" -> ((spark, dir) => {
      Tables.load(spark, dir, "orders")
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("o_year"),
          month(col("o_orderdate")).as("o_month"),
          dayofmonth(col("o_orderdate")).as("o_day"),
          upper(substring(col("o_orderstatus"), 1, 1)).as("status_u"),
          concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("status_prio"),
          length(col("o_orderpriority")).as("prio_len"),
          abs(col("o_totalprice") - 1000.0).as("price_delta"),
          round(col("o_totalprice") / 100.0, 2).as("price_h"),
          floor(col("o_totalprice")).as("price_floor"),
          ceil(col("o_totalprice")).as("price_ceil"))
        .orderBy("o_orderkey")
    }),
    // Date/time function breadth: truncation, arithmetic, calendar fields
    "date_functions" -> ((spark, dir) => {
      Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"),
          date_trunc("month", col("o_orderdate")).as("order_month"),
          datediff(col("o_orderdate"), lit("1995-01-01")).as("days_since_95"),
          date_format(date_add(col("o_orderdate").cast("date"), 30), "yyyy-MM-dd")
            .as("due_date"),
          // DATE-typed outputs coerce inconsistently between the engines'
          // dataframe bridges — emit calendar dates as strings
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
          dayofweek(col("o_orderdate")).as("dow"),
          quarter(col("o_orderdate")).as("qtr"))
        .orderBy("o_orderkey")
    }),
    // Conditional aggregation: count_if / filtered sums / boolean aggs
    "conditional_agg" -> ((spark, dir) => {
      Tables.load(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count_if(col("l_discount") > 0.05).as("n_discounted"),
          round(sum(when(col("l_discount") > 0.05, col("l_extendedprice"))
            .otherwise(0.0)), 2).as("discounted_revenue"),
          every(col("l_quantity") > 0).as("all_positive_qty"),
          some(col("l_tax") > 0.07).as("any_high_tax"))
        .orderBy("l_returnflag")
    }),
    // Exact percentiles per group (the sort-based aggregate twin of the
    // approx_sketches path — use this when the group is small enough to
    // sort, the sketch when it isn't)
    "median_price_by_flag" -> ((spark, dir) => {
      Tables.load(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("median_price"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),
    // Window-function breadth: navigation (lag/lead), ranking (rank,
    // percent_rank, ntile) over a TOTAL per-customer order (date, key) so
    // every function is deterministic
    "window_functions" -> ((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      val wPrice = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          lag("o_orderkey", 1).over(w).as("prev_order"),
          lead("o_orderkey", 1).over(w).as("next_order"),
          rank().over(wPrice).as("price_rank"),
          round(percent_rank().over(wPrice), 6).as("price_pct_rank"),
          ntile(4).over(w).as("quartile"))
        .orderBy("o_orderkey")
    }),
    // Outer-join aggregation (TPC-H Q13 shape): orders-per-customer
    // distribution including zero-order customers via LEFT OUTER JOIN
    "orders_per_customer_dist" -> ((spark, dir) => {
      val c = Tables.load(spark, dir, "customer")
      val o = Tables.load(spark, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(c("c_custkey"))
        .agg(count(o("o_orderkey")).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }))

  val oracleSql: ListMap[String, String] = ListMap(
    // one branch per profiled column; non-numeric columns carry NULL
    // min/max like the engine's typed-null projection
    "table_profile" -> {
      val numeric = Set("o_orderkey", "o_custkey", "o_totalprice")
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority").map { c =>
        val mm =
          if (numeric(c))
            s"CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num"
          else "CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num"
        s"""SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct, $mm
           |FROM orders""".stripMargin
      }.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
        "\n) ORDER BY column_name")
    },
    "pivot_returnflag" ->
      """SELECT l_linestatus,
        |  coalesce(round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2), 0.0) AS qty_a,
        |  coalesce(round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2), 0.0) AS qty_n,
        |  coalesce(round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2), 0.0) AS qty_r
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "cube_revenue" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |  coalesce(l_linestatus, 'ALL') AS lstatus,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,
    "correlated_subquery" ->
      """SELECT p_partkey, p_brand, p_retailprice
        |FROM part p
        |WHERE p_retailprice > (SELECT avg(p2.p_retailprice)
        |                       FROM part p2 WHERE p2.p_brand = p.p_brand)
        |ORDER BY p_partkey""".stripMargin,
    "asof_last_signup" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |  coalesce(max(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END) OVER
        |    (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    TIMESTAMP '1970-01-01 00:00:00') AS last_signup_ts
        |FROM events ORDER BY event_id""".stripMargin,
    "weighted_mean_price" ->
      """SELECT l_returnflag,
        |  round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS wmean_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "distinct_agg" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "set_ops_customers" ->
      """WITH rich AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000),
        |active AS (SELECT o_custkey AS k FROM orders)
        |SELECT 'rich_active' AS category, k AS c_custkey FROM (SELECT k FROM rich INTERSECT SELECT k FROM active)
        |UNION ALL
        |SELECT 'rich_inactive' AS category, k AS c_custkey FROM (SELECT k FROM rich EXCEPT SELECT k FROM active)
        |ORDER BY category, c_custkey""".stripMargin,
    "rollup_revenue" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |  coalesce(l_linestatus, 'ALL') AS lstatus,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,
    "topk_by_agg" ->
      """WITH r AS (
        |  SELECT l_returnflag, l_orderkey,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey) AS rn
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  string_agg(CAST(l_orderkey AS VARCHAR), ',' ORDER BY rn) AS top_keys
        |FROM r WHERE rn <= 3 GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "grouping_sets_revenue" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |  coalesce(l_linestatus, 'ALL') AS lstatus,
        |  round(round(sum(l_extendedprice * (1 - l_discount)) * 100, 0) / 100, 2) AS revenue
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY rflag, lstatus""".stripMargin,
    "semi_anti_join" ->
      """SELECT c_custkey, 'has_orders' AS status FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' AS status FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "scalar_functions" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(month(o_orderdate) AS INTEGER) AS o_month,
        |  CAST(day(o_orderdate) AS INTEGER) AS o_day,
        |  upper(substring(o_orderstatus, 1, 1)) AS status_u,
        |  concat_ws('-', o_orderstatus, o_orderpriority) AS status_prio,
        |  CAST(length(o_orderpriority) AS INTEGER) AS prio_len,
        |  abs(o_totalprice - 1000.0) AS price_delta,
        |  round(o_totalprice / 100.0, 2) AS price_h,
        |  CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
        |  CAST(ceil(o_totalprice) AS BIGINT) AS price_ceil
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "date_functions" ->
      """SELECT o_orderkey,
        |  date_trunc('month', o_orderdate) AS order_month,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_95,
        |  strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS due_date,
        |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
        |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "conditional_agg" ->
      """SELECT l_returnflag,
        |  CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_discounted,
        |  round(sum(CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0.0 END), 2) AS discounted_revenue,
        |  bool_and(l_quantity > 0) AS all_positive_qty,
        |  bool_or(l_tax > 0.07) AS any_high_tax
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "median_price_by_flag" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // exact-vs-exact: exact columns computed by both engines; the
    // error-bound booleans are in-engine (sketch vs exact) and pinned to
    // TRUE — any out-of-bound sketch value diverges the hash
    "approx_sketches_gate" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_median,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS exact_p99,
        |  TRUE AS hll_within_3sigma,
        |  TRUE AS median_within_1pct,
        |  TRUE AS p99_within_1pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // exact probe-term counts + the stated CMS guarantees as literal TRUEs
    "cms_term_counts" ->
      """WITH t AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents)
        |SELECT term, CAST(count(*) AS BIGINT) AS exact_count,
        |  TRUE AS no_undercount, TRUE AS overcount_within_eps
        |FROM t WHERE term IN ('dup', 'hash', 'join', 'slow', 'the', 'vector')
        |GROUP BY term ORDER BY term""".stripMargin,
    "window_functions" ->
      """SELECT o_orderkey, o_custkey,
        |  lag(o_orderkey, 1) OVER w AS prev_order,
        |  lead(o_orderkey, 1) OVER w AS next_order,
        |  CAST(rank() OVER wp AS INTEGER) AS price_rank,
        |  round(percent_rank() OVER wp, 6) AS price_pct_rank,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  wp AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "orders_per_customer_dist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)
}
