package graft.queries

import graft.Q
import graft.ops._
import graft.ops.Num.{r6, r6Sql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The three reference pipelines (SURVEY §3), re-expressed Spark-first over
  * the driver star schema (FIXTURES.md role mapping). Each query carries its
  * DuckDB oracle SQL built from the exact same sub-expressions.
  *
  * Physical shape at scale (SURVEY §3.1-3.3): parquet scan → broadcast hash
  * join against the tiny customer/nation dims → one shuffle by push_id for
  * the window pass → one shuffle for the group-by — all whole-stage
  * codegen'd, nothing collected to the driver, no UDFs.
  */
object Reference {
  import Pushes._

  // ---------------------------------------------------------------- Script A
  /** Lifetime view-rate curves (analyse.py:1-135): per (category, age_group,
    * 1-day bin of push age) mean lag-diff rate, smoothed with a centered
    * rolling-5 mean. The reference's 2×3 python loop over (category,
    * age_group) (analyse.py:99-107) collapses into one groupBy + one window
    * partition — the plan is identical work for 6 or 6,000 groups. */
  def a1RateCurves(spark: SparkSession, dir: String): DataFrame = {
    val aged = withPushAge(Tables.events(spark, dir))
    val dim = Dims.withAgeGroup(Dims.withCategory(Tables.customer(spark, dir)))
      .filter(col("age_group").isNotNull && col("category").isin("furniture", "machinery"))
      .select(col("c_custkey"), col("category"), col("age_group"))
    val rates = withLagRates(aged.join(broadcast(dim), col("user_id") === col("c_custkey")))
    val binned = rates
      .withColumn("bin_center", Binning.cutRightClosed(col("mid_age"), 1440.0, 43200.0))
      .filter(col("bin_center").isNotNull) // pandas groupby drops NaN keys (A1)
    val agg = binned.groupBy("category", "age_group", "bin_center")
      .agg(r6(avg(col("rate"))).as("avg_rate"), count(lit(1)).as("n_samples"))
    val w = Window.partitionBy("category", "age_group").orderBy("bin_center")
    agg
      .withColumn("smoothed_rate", r6(Smoothing.centeredMean(col("avg_rate"), w, 2)))
      .withColumn("time_days", r6(col("bin_center") / lit(1440.0)))
  }

  lazy val a1Sql: String =
    s"""WITH $agedSql,
       |fdim AS (
       |  SELECT * FROM (
       |    SELECT c_custkey, ${Dims.categorySql} AS category, ${Dims.ageGroupSql} AS age_group
       |    FROM customer)
       |  WHERE age_group IS NOT NULL AND category IN ('furniture', 'machinery')),
       |j AS (SELECT a.*, d.category, d.age_group FROM aged a JOIN fdim d ON a.user_id = d.c_custkey),
       |${lagRatesSql("j")},
       |binned AS (
       |  SELECT category, age_group, rate,
       |         ${Binning.cutRightClosedSql("mid_age", 1440.0, 43200.0)} AS bin_center
       |  FROM rates),
       |agg AS (
       |  SELECT category, age_group, bin_center,
       |         ${r6Sql("avg(rate)")} AS avg_rate, count(*) AS n_samples
       |  FROM binned WHERE bin_center IS NOT NULL GROUP BY 1, 2, 3)
       |SELECT category, age_group, bin_center, avg_rate, n_samples,
       |       ${r6Sql(Smoothing.centeredMeanSql("avg_rate", "wsm", 2))} AS smoothed_rate,
       |       ${r6Sql("bin_center / 1440.0")} AS time_days
       |FROM agg
       |WINDOW wsm AS (PARTITION BY category, age_group ORDER BY bin_center)
       |ORDER BY category, age_group, bin_center""".stripMargin

  /** The bare compute_view_rate transform (analyse.py:61-76) as a row-level
    * query: per-push lag-diff rates with clip + midpoint. */
  def a2LagRates(spark: SparkSession, dir: String): DataFrame =
    withLagRates(withPushAge(Tables.events(spark, dir)))
      .select(col("push_id"), col("event_id"), col("rate"), col("mid_age"))

  lazy val a2Sql: String =
    s"""WITH $agedSql,
       |${lagRatesSql("aged")}
       |SELECT push_id, event_id, rate, mid_age
       |FROM rates ORDER BY push_id, event_id""".stripMargin

  // ---------------------------------------------------------------- Script B
  /** Q-B1 (analyse.py:192-227): new pushes per 10-minute interval of the
    * day, zero-filled over the full 144-bin domain (J5). The dedup of
    * profiles (A2) maps to the push-level groupBy. Minute-of-day is computed
    * on epoch-microsecond integers — exact on both engines. */
  def b1PushesByTimebin(spark: SparkSession, dir: String): DataFrame = {
    // posted_us = min ts per push: a direct map-side-combinable aggregate —
    // the withPushAge window would add a per-push sort for nothing here
    val pushes = Tables.events(spark, dir)
      .groupBy(pushKey.as("push_id"))
      .agg(min(unix_micros(col("ts"))).as("posted_us"))
    val counts = pushes
      .withColumn("minute_bin", expr("((posted_us DIV 60000000) % 1440) DIV 10 * 10"))
      .groupBy("minute_bin").agg(count(lit(1)).as("n_pushes"))
    Binning.zeroFillDomain(spark, 144, 10, "minute_bin", counts, Seq("n_pushes" -> lit(0L)))
      .withColumn("bin_label", Binning.hhmmLabel(col("minute_bin")))
      .select("minute_bin", "bin_label", "n_pushes")
  }

  lazy val b1Sql: String =
    s"""WITH pushes AS (
       |  SELECT $pushKeySql AS push_id,
       |         min(epoch_us(ts)) AS posted_us
       |  FROM events GROUP BY 1),
       |counts AS (
       |  SELECT ((posted_us // 60000000) % 1440) // 10 * 10 AS minute_bin, count(*) AS n_pushes
       |  FROM pushes GROUP BY 1),
       |domain AS (SELECT range * 10 AS minute_bin FROM range(144))
       |SELECT d.minute_bin, ${Binning.hhmmLabelSql("d.minute_bin")} AS bin_label,
       |       coalesce(c.n_pushes, 0) AS n_pushes
       |FROM domain d LEFT JOIN counts c USING (minute_bin)
       |ORDER BY d.minute_bin""".stripMargin

  /** Q-B2 (analyse.py:231-300): average initial rate (first/last record
    * within the initial window) grouped by posting hour, zero-filled over
    * hours 0-23 (J6 — the 0.0 fill participates in the smoothing, hard-part
    * 4), then a centered rolling-3 mean (W3). Replaces the reference's
    * per-group Python loop (analyse.py:254-281) with one window + hash agg. */
  def b2InitialRateByHour(spark: SparkSession, dir: String): DataFrame = {
    val lim = withPushAge(Tables.events(spark, dir))
      .filter(col("age_min") <= lit(InitialWindowMinutes))
    val per = firstLastAgg(lim)
      .filter(col("n_records") >= lit(2) && col("l_us") > col("f_us")) // F10/F11
      .withColumn("dt_min", (col("l_us") - col("f_us")) / lit(60000000.0))
      .withColumn("initial_rate", greatest(lit(0.0), (col("l_val") - col("f_val")) / col("dt_min") * lit(60.0)))
      .withColumn("posting_hour", expr("(posted_us DIV 3600000000) % 24"))
    val byHour = per.groupBy("posting_hour")
      .agg(r6(avg(col("initial_rate"))).as("avg_initial_rate"), count(lit(1)).as("n_pushes"))
    val filled = Binning.zeroFillDomain(spark, 24, 1, "posting_hour", byHour,
      Seq("avg_initial_rate" -> lit(0.0), "n_pushes" -> lit(0L)))
    val w = Window.orderBy("posting_hour") // 24 rows — single-partition window is fine
    filled
      .withColumn("smoothed_rate", r6(Smoothing.centeredMean(col("avg_initial_rate"), w, 1)))
      .select("posting_hour", "avg_initial_rate", "smoothed_rate", "n_pushes")
  }

  lazy val b2Sql: String =
    s"""WITH $agedSql,
       |lim AS (SELECT * FROM aged WHERE age_min <= $InitialWindowMinutes),
       |${firstLastAggSql("lim")},
       |per AS (
       |  SELECT *, (l_us - f_us) / 60000000.0 AS dt_min
       |  FROM per0 WHERE n_records >= 2 AND l_us > f_us),
       |prates AS (
       |  SELECT *, greatest(0.0, (l_val - f_val) / dt_min * 60.0) AS initial_rate,
       |         (posted_us // 3600000000) % 24 AS posting_hour
       |  FROM per),
       |by_hour AS (
       |  SELECT posting_hour, ${r6Sql("avg(initial_rate)")} AS avg_initial_rate, count(*) AS n_pushes
       |  FROM prates GROUP BY 1),
       |domain AS (SELECT range AS posting_hour FROM range(24)),
       |filled AS (
       |  SELECT d.posting_hour, coalesce(b.avg_initial_rate, 0.0) AS avg_initial_rate,
       |         coalesce(b.n_pushes, 0) AS n_pushes
       |  FROM domain d LEFT JOIN by_hour b USING (posting_hour))
       |SELECT posting_hour, avg_initial_rate,
       |       ${r6Sql(Smoothing.centeredMeanSql("avg_initial_rate", "wsm", 1))} AS smoothed_rate,
       |       n_pushes
       |FROM filled
       |WINDOW wsm AS (ORDER BY posting_hour)
       |ORDER BY posting_hour""".stripMargin

  // ---------------------------------------------------------------- Script C
  /** Shared Script C front half: events aged + joined to the cleaned city
    * dim. customer and nation are dimensions → broadcast, keeping the big
    * fact table shuffle-free until the per-push window. */
  private def cityJoined(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), Dims.cleanCity(col("n_name")).as("city"))
      .filter(col("city").isNotNull) // F8 post-clean dropna
    withPushAge(Tables.events(spark, dir))
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
  }

  private def cityJoinedSql: String =
    s"""$agedSql,
       |dim AS (
       |  SELECT * FROM (
       |    SELECT c_custkey, ${Dims.cleanCitySql("n_name")} AS city
       |    FROM customer JOIN nation ON c_nationkey = n_nationkey)
       |  WHERE city IS NOT NULL),
       |j AS (SELECT a.*, d.city FROM aged a JOIN dim d ON a.user_id = d.c_custkey)""".stripMargin

  /** Per-push qualified extremes (A6, the loop at analyse.py:437-483):
    * earliest record within T1, latest within T2, discard when the latest is
    * not strictly later (F14), gain clipped at 0 (P12/X9). */
  private def pushGains(spark: SparkSession, dir: String): DataFrame =
    firstLastAgg(cityJoined(spark, dir).filter(col("age_min") <= lit(T2Minutes)), "city")
      .withColumn("f_age", (col("f_us") - col("posted_us")) / lit(60000000.0))
      .withColumn("l_age", (col("l_us") - col("posted_us")) / lit(60000000.0))
      .filter(col("f_age") <= lit(T1Minutes) && col("l_age") > col("f_age"))
      .withColumn("views_gained", greatest(lit(0.0), col("l_val") - col("f_val")))

  private def pushGainsSql: String =
    s"""$cityJoinedSql,
       |lim AS (SELECT * FROM j WHERE age_min <= $T2Minutes),
       |${firstLastAggSql("lim", ", city")},
       |gains AS (
       |  SELECT *, greatest(0.0, l_val - f_val) AS views_gained,
       |         (f_us - posted_us) / 60000000.0 AS f_age,
       |         (l_us - posted_us) / 60000000.0 AS l_age
       |  FROM per0
       |  WHERE (f_us - posted_us) / 60000000.0 <= $T1Minutes
       |    AND (l_us - posted_us) / 60000000.0 > (f_us - posted_us) / 60000000.0)""".stripMargin

  /** City league table flagship (analyse.py:356-513): HAVING-gated semi-join
    * (A5/J4/F15) then per-city mean gain, sorted desc. This is
    * SparkEntry.entry. */
  def c1CityLeague(spark: SparkSession, dir: String): DataFrame = {
    // fused single-pass plan: the HAVING gate (counts ALL pushes per city)
    // and the gains branch (first/last within the T2 window) come out of ONE
    // per-(push, city) hash aggregate using FILTER clauses — no persist, no
    // semi-join, one scan of events. The age-window comparisons are done on
    // exact epoch-micros integers (equivalent to the minute doubles: both
    // sides divide by the same positive constant). The mean gain averages
    // exact BIGINT cents (gains carry two decimals): a double avg's
    // summation order decides which side of an r6 tie it lands on, so Spark
    // and DuckDB could round the same mean apart.
    val lim = s"age_min <= $T2Minutes"
    val per = cityJoined(spark, dir)
      .groupBy("push_id", "city")
      .agg(
        expr(s"min_by(value, $ordKeyExpr) FILTER (WHERE $lim)").as("f_val"),
        expr(s"max_by(value, $ordKeyExpr) FILTER (WHERE $lim)").as("l_val"),
        expr(s"min(ts_us) FILTER (WHERE $lim)").as("f_us"),
        expr(s"max(ts_us) FILTER (WHERE $lim)").as("l_us"),
        min("posted_us").as("posted_us"))
    val qualified = col("f_us").isNotNull &&
      (col("f_us") - col("posted_us")) <= lit(T1Micros) &&
      col("l_us") > col("f_us")
    per
      .withColumn("qualified", qualified)
      .withColumn("views_gained",
        when(col("qualified"), greatest(lit(0.0), col("l_val") - col("f_val"))))
      .groupBy("city")
      .agg(r6(sum(Num.cents(col("views_gained"))).cast("double") /
          (count(col("views_gained")).cast("double") * lit(100.0))).as("avg_views_gained"),
        sum(when(col("qualified"), 1L).otherwise(0L)).as("n_pushes_used"),
        count(lit(1)).as("n_pushes_all"))
      .filter(col("n_pushes_all") >= lit(MinPushesPerCity) && col("n_pushes_used") > 0)
      .select("city", "avg_views_gained", "n_pushes_used")
  }

  lazy val c1Sql: String = {
    val meanGain = s"CAST(sum(${Num.centsSql("views_gained")}) AS DOUBLE) / " +
      "(CAST(count(views_gained) AS DOUBLE) * 100.0)"
    s"""WITH $cityJoinedSql,
       |per AS (
       |  SELECT push_id, city,
       |         arg_min(value, $ordKeySql) FILTER (WHERE age_min <= $T2Minutes) AS f_val,
       |         arg_max(value, $ordKeySql) FILTER (WHERE age_min <= $T2Minutes) AS l_val,
       |         min(ts_us) FILTER (WHERE age_min <= $T2Minutes) AS f_us,
       |         max(ts_us) FILTER (WHERE age_min <= $T2Minutes) AS l_us,
       |         min(posted_us) AS posted_us
       |  FROM j GROUP BY 1, 2),
       |q AS (
       |  SELECT *,
       |         (f_us IS NOT NULL AND f_us - posted_us <= $T1Micros AND l_us > f_us) AS qualified,
       |         CASE WHEN f_us IS NOT NULL AND f_us - posted_us <= $T1Micros AND l_us > f_us
       |              THEN greatest(0.0, l_val - f_val) END AS views_gained
       |  FROM per)
       |SELECT city, ${r6Sql(meanGain)} AS avg_views_gained,
       |       CAST(sum(CASE WHEN qualified THEN 1 ELSE 0 END) AS BIGINT) AS n_pushes_used
       |FROM q
       |GROUP BY city
       |HAVING count(*) >= $MinPushesPerCity AND sum(CASE WHEN qualified THEN 1 ELSE 0 END) > 0
       |ORDER BY avg_views_gained DESC, city""".stripMargin
  }

  /** The city HAVING gate alone (A5, analyse.py:419-422). */
  def c2CityGate(spark: SparkSession, dir: String): DataFrame =
    cityJoined(spark, dir).groupBy("push_id", "city").agg(count(lit(1)).as("n_rows"))
      .groupBy("city").agg(count(lit(1)).as("n_pushes"))
      .filter(col("n_pushes") >= lit(MinPushesPerCity))

  lazy val c2Sql: String =
    s"""WITH $cityJoinedSql,
       |pushes AS (SELECT push_id, city FROM j GROUP BY 1, 2)
       |SELECT city, count(*) AS n_pushes FROM pushes
       |GROUP BY city HAVING count(*) >= $MinPushesPerCity
       |ORDER BY city""".stripMargin

  /** Row-level qualified push gains (the loop body's output, A6). */
  def c3PushExtremes(spark: SparkSession, dir: String): DataFrame =
    pushGains(spark, dir)
      .select("push_id", "city", "f_age", "l_age", "views_gained")

  lazy val c3Sql: String =
    s"""WITH $pushGainsSql
       |SELECT push_id, city, f_age, l_age, views_gained
       |FROM gains ORDER BY push_id""".stripMargin

  /** The discard-reason census the reference prints while looping
    * (analyse.py:441-483): every push in the city-gated set classified as
    * used / no-initial (no record within T1) / no-final (initial exists but
    * nothing within T2 — structurally 0 since T1 < T2, kept for parity with
    * the reference's printed counter) / time-issue (latest not strictly
    * later than earliest), as one global row of counters. One hash aggregate
    * per push + a broadcast city semi-join + a constant-fold global agg —
    * the 100 TB shuffle is |pushes| rows, not |events|. */
  def c4DiscardCensus(spark: SparkSession, dir: String): DataFrame = {
    val per = cityJoined(spark, dir)
      .groupBy("push_id", "city")
      .agg(
        expr(s"min(ts_us) FILTER (WHERE age_min <= $T1Minutes)").as("f1_us"),
        expr(s"max(ts_us) FILTER (WHERE age_min <= $T2Minutes)").as("l_us"))
    val gate = per.groupBy("city").agg(count(lit(1)).as("n_pushes"))
      .filter(col("n_pushes") >= lit(MinPushesPerCity)).select("city")
    per.join(broadcast(gate), Seq("city"), "left_semi")
      .agg(
        count(lit(1)).as("n_processed"),
        sum(when(col("f1_us").isNull, 1L).otherwise(0L)).as("n_no_initial"),
        sum(when(col("f1_us").isNotNull && col("l_us").isNull, 1L).otherwise(0L)).as("n_no_final"),
        sum(when(col("f1_us").isNotNull && col("l_us").isNotNull &&
          col("l_us") <= col("f1_us"), 1L).otherwise(0L)).as("n_time_issue"),
        sum(when(col("f1_us").isNotNull && col("l_us") > col("f1_us"), 1L)
          .otherwise(0L)).as("n_used"))
  }

  lazy val c4Sql: String =
    s"""WITH $cityJoinedSql,
       |per AS (
       |  SELECT push_id, city,
       |         min(ts_us) FILTER (WHERE age_min <= $T1Minutes) AS f1_us,
       |         max(ts_us) FILTER (WHERE age_min <= $T2Minutes) AS l_us
       |  FROM j GROUP BY 1, 2),
       |gate AS (SELECT city FROM per GROUP BY city HAVING count(*) >= $MinPushesPerCity)
       |SELECT count(*) AS n_processed,
       |       CAST(sum(CASE WHEN f1_us IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_initial,
       |       CAST(sum(CASE WHEN f1_us IS NOT NULL AND l_us IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_final,
       |       CAST(sum(CASE WHEN f1_us IS NOT NULL AND l_us IS NOT NULL AND l_us <= f1_us THEN 1 ELSE 0 END) AS BIGINT) AS n_time_issue,
       |       CAST(sum(CASE WHEN f1_us IS NOT NULL AND l_us > f1_us THEN 1 ELSE 0 END) AS BIGINT) AS n_used
       |FROM per WHERE city IN (SELECT city FROM gate)""".stripMargin

  lazy val all: Seq[Q] = Seq(
    Q("a1_rate_curves", a1RateCurves _, a1Sql,
      col("category"), col("age_group"), col("bin_center")),
    Q("a2_lag_rates", a2LagRates _, a2Sql, col("push_id"), col("event_id")),
    Q("b1_pushes_by_timebin", b1PushesByTimebin _, b1Sql, col("minute_bin")),
    Q("b2_initial_rate_by_hour", b2InitialRateByHour _, b2Sql, col("posting_hour")),
    Q("c1_city_league", c1CityLeague _, c1Sql, col("avg_views_gained").desc, col("city")),
    Q("c2_city_gate", c2CityGate _, c2Sql, col("city")),
    Q("c3_push_extremes", c3PushExtremes _, c3Sql, col("push_id")),
    Q("c4_discard_census", c4DiscardCensus _, c4Sql),
  )
}
