package graft.queries

import graft.Q
import graft.ops._
import graft.ops.Num.{r6, r6Sql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One narrowly-scoped query per SURVEY §2 operator row, so the driver's
  * line-by-line inventory check can tick each operator off independently of
  * the three composite pipelines in [[Reference]].
  */
object Micro {
  /** S2/P1/P2 + F-family + O-family: projected scan with predicate pushdown
    * and a stable sort. `.explain` must show PushedFilters + a 4-column
    * ReadSchema — the reference does this pruning by hand in its SQL
    * (analyse.py:156-165); Catalyst derives it from the plan. */
  def projectFilterSort(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp") && col("l_quantity") > lit(45.0))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")

  val projectFilterSortSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_quantity > 45.0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** P4-P15/X8/X9 bundle: surrogate key concat, hour/minute extraction,
    * minute-of-day, HH:MM bin label, clip-at-zero. */
  def derivedCols(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("push_id", concat(col("user_id").cast("string"), lit("_"), col("event_type")))
      .withColumn("h", hour(col("ts")).cast("long"))
      .withColumn("m", minute(col("ts")).cast("long"))
      .withColumn("minute_of_day", col("h") * lit(60) + col("m"))
      .withColumn("bin_label", Binning.hhmmLabel(Binning.floorBin(col("minute_of_day"), 10)))
      .withColumn("value_clipped", greatest(lit(0.0), col("value") - lit(100.0)))
      .select("event_id", "push_id", "h", "m", "minute_of_day", "bin_label", "value_clipped")

  lazy val derivedColsSql: String =
    s"""SELECT event_id,
       |       CAST(user_id AS VARCHAR) || '_' || event_type AS push_id,
       |       hour(ts) AS h, minute(ts) AS m,
       |       hour(ts) * 60 + minute(ts) AS minute_of_day,
       |       ${Binning.hhmmLabelSql("(hour(ts) * 60 + minute(ts)) // 10 * 10")} AS bin_label,
       |       greatest(0.0, value - 100.0) AS value_clipped
       |FROM events ORDER BY event_id""".stripMargin

  /** P3/X6/X7: coerce-to-null casts (`errors='coerce'`, analyse.py:29,175,
    * 183-184) — try_cast / try_to_timestamp, never ANSI cast (hard-part 8). */
  def tryCasts(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("status_num", expr("try_cast(o_orderstatus AS double)"))
      .withColumn("prio_num", expr("try_cast(substring(o_orderpriority, 1, 1) AS double)"))
      // epoch micros, not a raw timestamp: pandas reads Spark timestamps at
      // ns resolution but DuckDB yields us — equal values, different dtype,
      // a needless hash hazard
      .withColumn("date_roundtrip_us", unix_micros(try_to_timestamp(col("o_orderdate").cast("string"))))
      .select("o_orderkey", "status_num", "prio_num", "date_roundtrip_us")

  val tryCastsSql: String =
    """SELECT o_orderkey,
      |       try_cast(o_orderstatus AS DOUBLE) AS status_num,
      |       try_cast(substring(o_orderpriority, 1, 1) AS DOUBLE) AS prio_num,
      |       epoch_us(try_cast(CAST(o_orderdate AS VARCHAR) AS TIMESTAMP)) AS date_roundtrip_us
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** X1/X2/X3 + F3/F4 + A-family: contains-categorization and when-chain
    * bucketing, grouped. */
  def whenContains(spark: SparkSession, dir: String): DataFrame =
    Dims.withAgeGroup(Dims.withCategory(Tables.customer(spark, dir)))
      .filter(col("age_group").isNotNull)
      .groupBy("category", "age_group")
      .agg(count(lit(1)).as("n_customers"), r6(avg(col("c_acctbal"))).as("avg_balance"))

  lazy val whenContainsSql: String =
    s"""SELECT category, age_group, count(*) AS n_customers, ${r6Sql("avg(c_acctbal)")} AS avg_balance
       |FROM (SELECT ${Dims.categorySql} AS category, ${Dims.ageGroupSql} AS age_group, c_acctbal FROM customer)
       |WHERE age_group IS NOT NULL
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** A2 + hard-part 2: deterministic keep-FIRST dedup. pandas
    * drop_duplicates keeps the first row in file order (analyse.py:194,237,
    * 408); Spark's dropDuplicates keeps an arbitrary one, so the engine uses
    * row_number over an explicit (o_orderdate, o_orderkey) order. Scale:
    * one hash shuffle by key; with heavy key skew a min_by(struct(...))
    * two-level agg is the drop-in replacement. */
  def dedupFirst(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === lit(1))
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
  }

  val dedupFirstSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
      |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      |      FROM orders)
      |WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  /** J1 + J4 + A5: broadcast inner join, HAVING gate, LEFT SEMI join
    * (the `isin` at analyse.py:431). */
  def semiHaving(spark: SparkSession, dir: String): DataFrame = {
    val active = Tables.orders(spark, dir)
      .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= lit(12))
    Tables.customer(spark, dir)
      .join(active, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
  }

  val semiHavingSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders GROUP BY o_custkey HAVING count(*) >= 12)
      |ORDER BY c_custkey""".stripMargin

  /** A4/W4: min_by/max_by extremes — the aggregate form of the reference's
    * iloc[0]/iloc[-1] (analyse.py:260-261). Ordered by the unique event_id
    * so both engines pick the same row. */
  def minMaxBy(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(min_by(col("value"), col("event_id")).as("first_value"),
        max_by(col("value"), col("event_id")).as("last_value"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"),
        count(lit(1)).as("n_events"))

  val minMaxBySql: String =
    """SELECT event_type,
      |       arg_min(value, event_id) AS first_value, arg_max(value, event_id) AS last_value,
      |       min(value) AS min_value, max(value) AS max_value, count(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** X4 + A1: right-closed binning over l_quantity (integer-valued, so the
    * (lo, hi] boundary semantics are actually exercised at x = 10, 20, ...),
    * NaN-key groups dropped. */
  def cutRightClosed(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("qty_bin", Binning.cutRightClosed(col("l_quantity"), 10.0, 50.0))
      .filter(col("qty_bin").isNotNull)
      .groupBy("qty_bin")
      .agg(count(lit(1)).as("n_items"), r6(avg(col("l_extendedprice"))).as("avg_price"))

  lazy val cutRightClosedSql: String =
    s"""SELECT qty_bin, count(*) AS n_items, ${r6Sql("avg(l_extendedprice)")} AS avg_price
       |FROM (SELECT ${Binning.cutRightClosedSql("l_quantity", 10.0, 50.0)} AS qty_bin, l_extendedprice FROM lineitem)
       |WHERE qty_bin IS NOT NULL
       |GROUP BY qty_bin ORDER BY qty_bin""".stripMargin

  /** W2/W3 on a real time axis: daily shipment counts smoothed with a
    * centered rolling-7 mean over the present days (rows, not range —
    * hard-part 5). */
  def rollingDaily(spark: SparkSession, dir: String): DataFrame = {
    // ship_day as 'YYYY-MM-DD' string: a DATE column would hash-mismatch on
    // physical type alone (Spark date32 vs DuckDB datetime64)
    val daily = Tables.lineitem(spark, dir)
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"))
      .agg(count(lit(1)).as("n_items"))
    val w = Window.orderBy("ship_day")
    daily
      .withColumn("smoothed", r6(Smoothing.centeredMean(col("n_items").cast("double"), w, 3)))
  }

  lazy val rollingDailySql: String =
    s"""WITH daily AS (
       |  SELECT strftime(l_shipdate, '%Y-%m-%d') AS ship_day, count(*) AS n_items
       |  FROM lineitem GROUP BY 1)
       |SELECT ship_day, n_items,
       |       ${r6Sql(Smoothing.centeredMeanSql("CAST(n_items AS DOUBLE)", "wsm", 3))} AS smoothed
       |FROM daily
       |WINDOW wsm AS (ORDER BY ship_day)
       |ORDER BY ship_day""".stripMargin

  /** JSON scalar extraction from the events.props column (beyond the
    * reference surface; standard log-analytics need). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k_str", get_json_object(col("props"), "$.k"))
      .withColumn("k_num", expr("try_cast(get_json_object(props, '$.k') AS bigint)"))
      .select("event_id", "k_str", "k_num")

  val jsonExtractSql: String =
    """SELECT event_id,
      |       json_extract_string(props, '$.k') AS k_str,
      |       try_cast(json_extract_string(props, '$.k') AS BIGINT) AS k_num
      |FROM events ORDER BY event_id""".stripMargin

  /** Map-typed column operators (beyond the reference surface — §1.1: "no
    * maps anywhere"; the testdata's props is single-key, so the map is
    * BUILT from event columns to get real multi-key coverage): `map`
    * construction, `map_filter` (drop null values), `transform_values`
    * (rewrite to key=value), `element_at` lookup, `size`, and map
    * `explode` into rows, folded back through a relational aggregate so
    * the result is oracle-hashable. DuckDB emulates the map relationally
    * (UNION ALL of the key/value pairs) — the point of the oracle is the
    * SEMANTICS, not the physical type. All map exprs are codegen'd
    * builtins; explode fans out ≤3 rows per event — same scan-bound shape
    * as any projection at 100 TB. */
  def mapOps(spark: SparkSession, dir: String): DataFrame = {
    val m = map(
      lit("type"), col("event_type"),
      lit("k"), get_json_object(col("props"), "$.k"),
      lit("vband"), when(col("value") >= lit(50.0), lit("high")).otherwise(lit("low")))
    // Two-level aggregate: the multi-distinct final agg would otherwise
    // Expand the exploded rows 3x before any reduction. Pre-aggregating on
    // the full distinct-combination key (mk, mv, type_val) is map-side
    // combinable and collapses the corpus to |keys|x|values| rows (~500 at
    // any scale here), so the Expand runs over the reduced set — the shape
    // that survives a 100 TB event stream.
    Tables.events(spark, dir)
      .withColumn("m", transform_values(map_filter(m, (_, v) => v.isNotNull),
        (k, v) => concat(k, lit("="), v)))
      .withColumn("n_keys", size(col("m")).cast("long"))
      .withColumn("type_val", element_at(col("m"), "type"))
      .select(col("n_keys"), col("type_val"),
        explode(col("m")).as(Seq("mk", "mv")))
      .groupBy("mk", "mv", "type_val")
      .agg(count(lit(1)).as("c"), min("n_keys").as("mn"))
      .groupBy("mk")
      .agg(sum("c").as("n_rows"), countDistinct(col("mv")).as("n_vals"),
        min("mn").as("min_keys"), countDistinct(col("type_val")).as("n_types"))
  }

  val mapOpsSql: String =
    """WITH base AS (
      |  SELECT event_id, event_type AS type_v,
      |         json_extract_string(props, '$.k') AS k_v,
      |         CASE WHEN value >= 50.0 THEN 'high' ELSE 'low' END AS vband_v
      |  FROM events),
      |flat AS (
      |  SELECT event_id,
      |         (CASE WHEN type_v IS NOT NULL THEN 1 ELSE 0 END
      |          + CASE WHEN k_v IS NOT NULL THEN 1 ELSE 0 END
      |          + CASE WHEN vband_v IS NOT NULL THEN 1 ELSE 0 END) AS n_keys,
      |         CASE WHEN type_v IS NOT NULL THEN 'type=' || type_v END AS type_val,
      |         mk, mv
      |  FROM (
      |    SELECT *, 'type' AS mk, 'type=' || type_v AS mv FROM base WHERE type_v IS NOT NULL
      |    UNION ALL
      |    SELECT *, 'k' AS mk, 'k=' || k_v AS mv FROM base WHERE k_v IS NOT NULL
      |    UNION ALL
      |    SELECT *, 'vband' AS mk, 'vband=' || vband_v AS mv FROM base WHERE vband_v IS NOT NULL))
      |SELECT mk, count(*) AS n_rows, count(DISTINCT mv) AS n_vals,
      |       CAST(min(n_keys) AS BIGINT) AS min_keys,
      |       count(DISTINCT type_val) AS n_types
      |FROM flat GROUP BY mk ORDER BY mk""".stripMargin

  /** Event-time tumbling window aggregation — the batch twin of the
    * Structured Streaming query in graft.streaming (§2.10 extension). Spark
    * `window()` and DuckDB `time_bucket` are both epoch-aligned for
    * minute-granularity widths. */
  def tumblingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "10 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), r6(sum(col("value"))).as("sum_value"))
      .select(unix_micros(col("win.start")).as("win_start_us"), col("event_type"),
        col("n_events"), col("sum_value"))

  lazy val tumblingWindowSql: String =
    s"""SELECT epoch_us(time_bucket(INTERVAL '10 minutes', ts)) AS win_start_us, event_type,
       |       count(*) AS n_events, ${r6Sql("sum(value)")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Sliding event-time windows (size 10 min, slide 5 min): each event
    * lands in size/slide = 2 overlapping windows. Spark explodes the
    * window set inside `window()`; the oracle reproduces it with an
    * unnested offset join. */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), r6(sum(col("value"))).as("sum_value"))
      .select(unix_micros(col("win.start")).as("win_start_us"), col("event_type"),
        col("n_events"), col("sum_value"))

  lazy val slidingWindowSql: String =
    s"""SELECT epoch_us(time_bucket(INTERVAL '5 minutes', ts) - k * INTERVAL '5 minutes') AS win_start_us,
       |       event_type, count(*) AS n_events, ${r6Sql("sum(value)")} AS sum_value
       |FROM events, (SELECT unnest([0, 1]) AS k)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Deterministic list aggregation: collect_list is order-nondeterministic
    * in a distributed engine, so the engine convention is sort-then-join —
    * the only safe way to emit a list-valued aggregate under a hash-compare
    * gate (and the right habit at scale, where input order is never
    * reproducible). */
  def collectSorted(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(array_join(sort_array(collect_list(col("l_quantity").cast("long"))), ",").as("quantities"),
        count(lit(1)).as("n_items"))

  val collectSortedSql: String =
    """SELECT l_orderkey,
      |       array_to_string(list_sort(list(CAST(l_quantity AS BIGINT))), ',') AS quantities,
      |       count(*) AS n_items
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  lazy val all: Seq[Q] = Seq(
    Q("m_project_filter_sort", projectFilterSort _, projectFilterSortSql,
      col("l_orderkey"), col("l_linenumber")),
    Q("m_collect_sorted", collectSorted _, collectSortedSql, col("l_orderkey")),
    Q("m_derived_cols", derivedCols _, derivedColsSql, col("event_id")),
    Q("m_try_cast", tryCasts _, tryCastsSql, col("o_orderkey")),
    Q("m_when_contains", whenContains _, whenContainsSql, col("category"), col("age_group")),
    Q("m_dedup_first", dedupFirst _, dedupFirstSql, col("o_custkey")),
    Q("m_semi_having", semiHaving _, semiHavingSql, col("c_custkey")),
    Q("m_min_max_by", minMaxBy _, minMaxBySql, col("event_type")),
    Q("m_cut_right_closed", cutRightClosed _, cutRightClosedSql, col("qty_bin")),
    Q("m_rolling_daily", rollingDaily _, rollingDailySql, col("ship_day")),
    Q("m_json_extract", jsonExtract _, jsonExtractSql, col("event_id")),
    Q("m_map_ops", mapOps _, mapOpsSql, col("mk")),
    Q("w_tumbling_window", tumblingWindow _, tumblingWindowSql,
      col("win_start_us"), col("event_type")),
    Q("w_sliding_window", slidingWindow _, slidingWindowSql,
      col("win_start_us"), col("event_type")),
  )
}
