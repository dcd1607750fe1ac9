package graft.queries

import graft.Q
import graft.ops.{Dims, Num, Tables}
import graft.ops.Num.{r6, r6Sql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operators beyond the reference surface (SURVEY §2 notes them
  * "not present"): as-of join, range join, set ops, rollup, top-k per
  * group, ranking/lead/cumulative windows, pivot, anti join, exact
  * percentiles. Rounds out the engine so a user never falls back to
  * another system for standard analytics shapes.
  */
object Relational {
  // ---------------------------------------------------------------- as-of
  /** As-of join, Spark-first: for each click, the latest purchase by the
    * same user at-or-before the click. No per-row probe and no range
    * explosion — tag both sides, union, and take `last(..., ignoreNulls)`
    * over a (user, time) window: ONE shuffle, sorted once, linear scan.
    * This is the sort-merge as-of plan a native engine would run, expressed
    * with builtins. Ties at the same timestamp order the purchase first
    * (at-or-before includes equal timestamps); event_id breaks exact ties
    * deterministically. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
        col("event_type"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), lit(1).as("is_left"), col("event_id"),
        lit(null).cast("double").as("r_value"), lit(null).cast("long").as("r_ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), lit(0).as("is_left"), col("event_id"),
        col("value").as("r_value"), col("ts_us").as("r_ts_us"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("is_left"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("last_purchase_value", last("r_value", ignoreNulls = true).over(w))
      .withColumn("last_purchase_ts_us", last("r_ts_us", ignoreNulls = true).over(w))
      .filter(col("is_left") === lit(1))
      .select(col("event_id").as("click_event_id"), col("user_id"),
        col("ts_us").as("click_ts_us"), col("last_purchase_value"), col("last_purchase_ts_us"))
  }

  val asofJoinSql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value FROM events),
      |tagged AS (
      |  SELECT user_id, ts_us, 1 AS is_left, event_id,
      |         CAST(NULL AS DOUBLE) AS r_value, CAST(NULL AS BIGINT) AS r_ts_us
      |  FROM ev WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT user_id, ts_us, 0 AS is_left, event_id, value AS r_value, ts_us AS r_ts_us
      |  FROM ev WHERE event_type = 'purchase'),
      |win AS (
      |  SELECT *,
      |         last_value(r_value IGNORE NULLS) OVER wa AS last_purchase_value,
      |         last_value(r_ts_us IGNORE NULLS) OVER wa AS last_purchase_ts_us
      |  FROM tagged
      |  WINDOW wa AS (PARTITION BY user_id ORDER BY ts_us, is_left, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id AS click_event_id, user_id, ts_us AS click_ts_us,
      |       last_purchase_value, last_purchase_ts_us
      |FROM win WHERE is_left = 1
      |ORDER BY click_event_id""".stripMargin

  // ----------------------------------------------------------- range join
  /** Range join against a generated band dimension: lineitem priced into
    * 10k-wide bands via a BETWEEN join. The band table is tiny → broadcast
    * nested-loop, each row tests ≤10 bands; at scale the same query runs as
    * a band-key equi-join after assigning floor(price/width) — this form
    * keeps the BETWEEN semantics visible. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val bands = spark.range(0, 10).select(
      col("id").cast("long").as("band_id"),
      (col("id") * 10000).cast("double").as("lo"),
      ((col("id") + 1) * 10000).cast("double").as("hi"))
    Tables.lineitem(spark, dir)
      .join(broadcast(bands),
        col("l_extendedprice") >= col("lo") && col("l_extendedprice") < col("hi"))
      .groupBy("band_id", "lo", "hi")
      .agg(count(lit(1)).as("n_items"), r6(avg(col("l_discount"))).as("avg_discount"))
  }

  lazy val rangeJoinSql: String =
    s"""WITH bands AS (
       |  SELECT range AS band_id, CAST(range * 10000 AS DOUBLE) AS lo,
       |         CAST((range + 1) * 10000 AS DOUBLE) AS hi
       |  FROM range(10))
       |SELECT band_id, lo, hi, count(*) AS n_items, ${r6Sql("avg(l_discount)")} AS avg_discount
       |FROM lineitem JOIN bands ON l_extendedprice >= lo AND l_extendedprice < hi
       |GROUP BY 1, 2, 3 ORDER BY band_id""".stripMargin

  // -------------------------------------------------------------- set ops
  /** UNION / INTERSECT / EXCEPT in one result: furniture-segment customers
    * split by order activity. Tags make the three set results one
    * deterministic relation. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val furn = Tables.customer(spark, dir)
      .filter(lower(col("c_mktsegment")).contains("furniture"))
      .select("c_custkey")
    val active = Tables.orders(spark, dir)
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
      .filter(col("n") >= lit(12))
      .select(col("o_custkey").as("c_custkey"))
    furn.intersect(active).withColumn("tag", lit("furniture_active"))
      .unionByName(furn.except(active).withColumn("tag", lit("furniture_inactive")))
  }

  val setOpsSql: String =
    """WITH furn AS (SELECT c_custkey FROM customer WHERE contains(lower(c_mktsegment), 'furniture')),
      |active AS (SELECT o_custkey AS c_custkey FROM orders GROUP BY 1 HAVING count(*) >= 12)
      |SELECT c_custkey, 'furniture_active' AS tag FROM (SELECT * FROM furn INTERSECT SELECT * FROM active)
      |UNION ALL
      |SELECT c_custkey, 'furniture_inactive' AS tag FROM (SELECT * FROM furn EXCEPT SELECT * FROM active)
      |ORDER BY tag, c_custkey""".stripMargin

  // --------------------------------------------------------------- rollup
  /** ROLLUP over (category, age_group): subtotals + grand total in one
    * pass (partial aggregation handles the lattice — no re-scan per
    * level). */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Dims.withAgeGroup(Dims.withCategory(Tables.customer(spark, dir)))
      .filter(col("age_group").isNotNull)
      .rollup("category", "age_group")
      .agg(count(lit(1)).as("n_customers"), r6(sum(col("c_acctbal"))).as("sum_balance"))

  lazy val rollupAggSql: String =
    s"""SELECT category, age_group, count(*) AS n_customers, ${r6Sql("sum(c_acctbal)")} AS sum_balance
       |FROM (SELECT ${Dims.categorySql} AS category, ${Dims.ageGroupSql} AS age_group, c_acctbal FROM customer)
       |WHERE age_group IS NOT NULL
       |GROUP BY ROLLUP (category, age_group)
       |ORDER BY category NULLS FIRST, age_group NULLS FIRST""".stripMargin

  // ------------------------------------------------------ top-k per group
  /** Top-3 orders by price per market segment — rank inside the window,
    * filter, never a global sort of the fact table. */
  def topKPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val joined = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    val w = Window.partitionBy("c_mktsegment").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    joined
      .withColumn("rk", row_number().over(w).cast("long")) // DuckDB ranks are BIGINT
      .filter(col("rk") <= lit(3))
      .select(col("c_mktsegment"), col("rk"), col("o_orderkey"), col("o_totalprice"))
  }

  val topKPerGroupSql: String =
    """SELECT c_mktsegment, rk, o_orderkey, o_totalprice
      |FROM (SELECT c_mktsegment, o_orderkey, o_totalprice,
      |             row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |      FROM orders JOIN customer ON o_custkey = c_custkey)
      |WHERE rk <= 3 ORDER BY c_mktsegment, rk""".stripMargin

  // ------------------------------------------------------- window family
  /** Ranking / lead / cumulative frames over each customer's order
    * history — the window-function families the reference never used. */
  def windowFamily(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .withColumn("rk", rank().over(w).cast("long"))        // DuckDB ranks are BIGINT
      .withColumn("drk", dense_rank().over(w).cast("long"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", r6(percent_rank().over(w)))
      .withColumn("cume", r6(cume_dist().over(w)))
      .withColumn("next_price", lead("o_totalprice", 1).over(w))
      .withColumn("second_price", nth_value(col("o_totalprice"), 2).over(wCum))
      .withColumn("cum_spend", r6(sum(col("o_totalprice")).over(wCum)))
      .select("o_custkey", "o_orderkey", "rk", "drk", "quartile", "pct_rank", "cume",
        "next_price", "second_price", "cum_spend")
  }

  lazy val windowFamilySql: String =
    s"""SELECT o_custkey, o_orderkey,
       |       rank() OVER wo AS rk,
       |       dense_rank() OVER wo AS drk,
       |       ntile(4) OVER wo AS quartile,
       |       ${r6Sql("percent_rank() OVER wo")} AS pct_rank,
       |       ${r6Sql("cume_dist() OVER wo")} AS cume,
       |       lead(o_totalprice) OVER wo AS next_price,
       |       nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_price,
       |       ${r6Sql("sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")} AS cum_spend
       |FROM orders
       |WINDOW wo AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- pivot
  /** Pivot order counts: status columns per priority. Spark `pivot` with an
    * explicit value list (no extra distinct-scan); the oracle is the
    * equivalent conditional aggregation. */
  def pivotStatus(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("O", "F", "P"))

  val pivotStatusSql: String =
    """SELECT o_orderpriority,
      |       count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
      |       count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
      |       count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
      |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------------------ anti join
  /** Customers with no orders since 2000 — LEFT ANTI join (NOT EXISTS).
    * (Unqualified "no orders at all" is empty on this data — every customer
    * has orders — which would make the check degenerate.) */
  def antiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  val antiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01')
      |ORDER BY c_custkey""".stripMargin

  // ----------------------------------------------------------- percentile
  /** Exact interpolated percentiles per group (both engines define
    * quantiles as linear interpolation at p*(n-1)). */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        r6(expr("percentile(l_extendedprice, 0.5)")).as("p50"),
        r6(expr("percentile(l_extendedprice, 0.9)")).as("p90"),
        r6(expr("percentile(l_extendedprice, 0.99)")).as("p99"),
        count(lit(1)).as("n"))

  lazy val percentilesSql: String =
    s"""SELECT l_returnflag,
       |       ${r6Sql("quantile_cont(l_extendedprice, 0.5)")} AS p50,
       |       ${r6Sql("quantile_cont(l_extendedprice, 0.9)")} AS p90,
       |       ${r6Sql("quantile_cont(l_extendedprice, 0.99)")} AS p99,
       |       count(*) AS n
       |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  // ----------------------------------------------------------- star join
  /** Five-way star join over the full TPC-H-ish schema: lineitem fact ⋈
    * part / supplier / nation / region dims, revenue by (region, part
    * brand). Every dim broadcasts (they are orders of magnitude smaller
    * than the fact), so the fact table streams through four broadcast hash
    * joins with ZERO pre-aggregation shuffles — the one shuffle is the
    * final groupBy. This is the plan shape that keeps a 100 TB fact scan
    * join-bound rather than shuffle-bound; Catalyst + AQE pick the join
    * order and the broadcast side from size estimates. */
  def starJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "p_brand")
      // exact integer cents×100 (price and discount carry ≤2+2 decimals):
      // summation is then order-independent, unlike a raw double sum whose
      // partial-aggregate ordering noise can cross the r6 boundary
      .agg((sum(Num.cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10000.0)) / lit(10000.0)).as("revenue"),
        count(lit(1)).as("n_lineitems"))

  lazy val starJoinSql: String =
    s"""SELECT r_name, p_brand,
       |       CAST(sum(${Num.centsSql("l_extendedprice * (1.0 - l_discount)", 10000.0)}) AS BIGINT) / 10000.0 AS revenue,
       |       count(*) AS n_lineitems
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------- outer join
  /** Full outer join: per-nation customer counts vs supplier counts, keeping
    * nations that have only one side (coalesced to 0). Rounds out the join
    * family (inner/semi/anti/asof/range/star are covered elsewhere). */
  def outerJoin(spark: SparkSession, dir: String): DataFrame = {
    val custPerNation = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey").as("nationkey")).agg(count(lit(1)).as("n_customers"))
    val suppPerNation = Tables.supplier(spark, dir)
      .groupBy(col("s_nationkey").as("nationkey")).agg(count(lit(1)).as("n_suppliers"))
    custPerNation.join(suppPerNation, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
  }

  val outerJoinSql: String =
    """SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
      |       coalesce(c.n_customers, 0) AS n_customers,
      |       coalesce(s.n_suppliers, 0) AS n_suppliers
      |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_customers FROM customer GROUP BY 1) c
      |FULL OUTER JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers FROM supplier GROUP BY 1) s
      |USING (nationkey)
      |ORDER BY nationkey""".stripMargin

  // ------------------------------------------------------------- unpivot
  /** Unpivot (melt): lineitem's three charge components to long form via
    * `stack` — the inverse of r_pivot, the standard wide→long reshape. */
  def unpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("stack(3, 'price', l_extendedprice, 'discount', l_discount, 'tax', l_tax) AS (component, amount)"))
      .select(col("l_orderkey"), col("l_linenumber"), col("component"), r6(col("amount")).as("amount"))

  lazy val unpivotSql: String =
    s"""SELECT l_orderkey, l_linenumber, component, ${r6Sql("amount")} AS amount
       |FROM (
       |  SELECT l_orderkey, l_linenumber, 'price' AS component, l_extendedprice AS amount FROM lineitem
       |  UNION ALL
       |  SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
       |  UNION ALL
       |  SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem)
       |ORDER BY l_orderkey, l_linenumber, component""".stripMargin

  // ---------------------------------------------------------- range frame
  /** RANGE-frame window: per customer, rolling sum of order value over the
    * trailing 30 days of *order time* (value-based frame, not row count —
    * rows land in the frame by day distance, so gaps and ties behave
    * correctly). Exact-cents sum keeps the rolling total order-independent. */
  def rangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val day = datediff(col("o_orderdate"), lit("1990-01-01")).cast("long")
    val cents = Num.cents(col("o_totalprice"))
    val w = Window.partitionBy("o_custkey").orderBy(col("day"))
      .rangeBetween(-30, Window.currentRow)
    Tables.orders(spark, dir)
      .withColumn("day", day)
      .withColumn("cents", cents)
      .withColumn("trailing_30d_spend", sum(col("cents")).over(w) / lit(100.0))
      .select("o_custkey", "o_orderkey", "day", "trailing_30d_spend")
  }

  lazy val rangeFrameSql: String =
    s"""WITH o AS (
      |  SELECT o_custkey, o_orderkey,
      |         datediff('day', DATE '1990-01-01', o_orderdate) AS day,
      |         ${Num.centsSql("o_totalprice")} AS cents
      |  FROM orders)
      |SELECT o_custkey, o_orderkey, CAST(day AS BIGINT) AS day,
      |       CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY day
      |                             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0
      |         AS trailing_30d_spend
      |FROM o
      |ORDER BY o_custkey, day, o_orderkey""".stripMargin

  // --------------------------------------------------- pricing summary (Q1)
  /** TPC-H Q1-shaped pricing summary: the canonical scan→filter→wide-agg
    * benchmark plan. Money sums in exact integer ten-thousandths (doubles
    * would drift with summation order); averages divide the exact sums. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    def cents(c: org.apache.spark.sql.Column) = Num.cents(c, 10000.0)
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        (sum(cents(col("l_extendedprice"))) / lit(10000.0)).as("sum_base_price"),
        (sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))) / lit(10000.0)).as("sum_disc_price"),
        r6(avg(col("l_quantity"))).as("avg_qty"),
        count(lit(1)).as("count_order"))
  }

  lazy val pricingSummarySql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       |       CAST(sum(${Num.centsSql("l_extendedprice", 10000.0)}) AS BIGINT) / 10000.0 AS sum_base_price,
       |       CAST(sum(${Num.centsSql("l_extendedprice * (1.0 - l_discount)", 10000.0)}) AS BIGINT) / 10000.0 AS sum_disc_price,
       |       ${r6Sql("avg(l_quantity)")} AS avg_qty,
       |       count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= '1998-09-02'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------- correlated subquery
  /** Correlated EXISTS + scalar subquery, via SQL (the DataFrame API has no
    * correlated-subquery surface): orders that contain a high-quantity
    * lineitem, flagged against the customer's average order value. Catalyst
    * decorrelates both into joins — RewriteCorrelatedScalarSubquery plans
    * the scalar as an aggregate+join, the EXISTS as a left-semi. */
  def existsSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("v_orders")
    Tables.lineitem(spark, dir).createOrReplaceTempView("v_lineitem")
    spark.sql(existsSubquerySqlFor("v_orders", "v_lineitem"))
  }

  /** One SQL text for both engines — "price above customer average" compares
    * cents·count > sum(cents) in exact integers, because a raw-double avg's
    * partial-agg ordering noise could flip the strict compare at the
    * boundary. */
  private def existsSubquerySqlFor(orders: String, lineitem: String): String =
    s"""SELECT o.o_orderkey, o.o_custkey,
       |       CAST(CASE WHEN ${Num.centsSql("o.o_totalprice")} *
       |           (SELECT count(*) FROM $orders o2 WHERE o2.o_custkey = o.o_custkey) >
       |         (SELECT CAST(sum(${Num.centsSql("o2.o_totalprice")}) AS BIGINT)
       |          FROM $orders o2 WHERE o2.o_custkey = o.o_custkey)
       |         THEN 1 ELSE 0 END AS BIGINT) AS above_cust_avg
       |FROM $orders o
       |WHERE EXISTS (SELECT 1 FROM $lineitem l
       |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
       |ORDER BY o.o_orderkey""".stripMargin

  lazy val existsSubquerySql: String = existsSubquerySqlFor("orders", "lineitem")

  lazy val all: Seq[Q] = Seq(
    Q("r_star_join", starJoin _, starJoinSql, col("r_name"), col("p_brand")),
    Q("r_pricing_summary", pricingSummary _, pricingSummarySql,
      col("l_returnflag"), col("l_linestatus")),
    Q("r_range_frame", rangeFrame _, rangeFrameSql,
      col("o_custkey"), col("day"), col("o_orderkey")),
    Q("r_exists_subquery", existsSubquery _, existsSubquerySql),
    Q("r_outer_join", outerJoin _, outerJoinSql, col("nationkey")),
    Q("r_unpivot", unpivot _, unpivotSql, col("l_orderkey"), col("l_linenumber"), col("component")),
    Q("r_asof_join", asofJoin _, asofJoinSql, col("click_event_id")),
    Q("r_range_join", rangeJoin _, rangeJoinSql, col("band_id")),
    Q("r_set_ops", setOps _, setOpsSql, col("tag"), col("c_custkey")),
    Q("r_rollup", rollupAgg _, rollupAggSql,
      col("category").asc_nulls_first, col("age_group").asc_nulls_first),
    Q("r_topk_per_group", topKPerGroup _, topKPerGroupSql, col("c_mktsegment"), col("rk")),
    Q("r_window_family", windowFamily _, windowFamilySql, col("o_custkey"), col("o_orderkey")),
    Q("r_pivot", pivotStatus _, pivotStatusSql, col("o_orderpriority")),
    Q("r_anti_join", antiJoin _, antiJoinSql, col("c_custkey")),
    Q("r_percentiles", percentiles _, percentilesSql, col("l_returnflag")),
  )
}
