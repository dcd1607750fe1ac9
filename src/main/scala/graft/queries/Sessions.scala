package graft.queries

import graft.Q
import graft.ops.Tables
import graft.ops.Num.{r6, r6Sql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization, batch form: the lag → new-session flag →
  * running-sum session-id idiom. This is the SQL-expressible twin of
  * graft.streaming.Streams.sessionize (flatMapGroupsWithState) — the two
  * are parity-tested in StreamsSpec, and this one carries the DuckDB
  * oracle.
  *
  * Scale: one shuffle by user_id for the window pass, then a hash agg on
  * (user_id, session_id) that reuses the same partitioning — no extra
  * exchange. Session gap logic never materializes per-user state bigger
  * than a row.
  */
object Sessions {
  val GapUs: Long = 30L * 60 * 1000000 // 30-minute inactivity gap

  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("prev_us", lag("ts_us", 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > lit(GapUs), lit(1L))
          .otherwise(lit(0L)))
      .withColumn("session_seq", sum("new_session").over(wRun))
      .groupBy("user_id", "session_seq")
      .agg(min("ts_us").as("session_start_us"), max("ts_us").as("session_end_us"),
        count(lit(1)).as("n_events"), r6(sum(col("value"))).as("sum_value"))
      .drop("session_seq")
  }

  lazy val sessionizeSql: String =
    s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events),
       |lagd AS (
       |  SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us
       |  FROM e),
       |marked AS (
       |  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > $GapUs THEN 1 ELSE 0 END AS new_session
       |  FROM lagd),
       |sess AS (
       |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |                                   ROWS UNBOUNDED PRECEDING) AS session_seq
       |  FROM marked)
       |SELECT user_id, min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
       |       count(*) AS n_events, ${r6Sql("sum(value)")} AS sum_value
       |FROM sess GROUP BY user_id, session_seq
       |ORDER BY user_id, session_start_us""".stripMargin

  /** The same sessions via Spark's NATIVE session_window operator —
    * `groupBy(session_window(ts, gap))` plans a single SessionWindow
    * aggregation (merging sort-based session assignment into the agg, no
    * explicit lag/running-sum pass). Window end = last event + gap by
    * definition, mirrored in the oracle. */
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("win"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), r6(sum(col("value"))).as("sum_value"))
      .select(col("user_id"), unix_micros(col("win.start")).as("session_start_us"),
        unix_micros(col("win.end")).as("session_end_us"), col("n_events"), col("sum_value"))

  lazy val sessionWindowAggSql: String =
    s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events),
       |lagd AS (
       |  SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us
       |  FROM e),
       |marked AS (
       |  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > $GapUs THEN 1 ELSE 0 END AS new_session
       |  FROM lagd),
       |sess AS (
       |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |                                   ROWS UNBOUNDED PRECEDING) AS session_seq
       |  FROM marked)
       |SELECT user_id, min(ts_us) AS session_start_us, max(ts_us) + $GapUs AS session_end_us,
       |       count(*) AS n_events, ${r6Sql("sum(value)")} AS sum_value
       |FROM sess GROUP BY user_id, session_seq
       |ORDER BY user_id, session_start_us""".stripMargin

  /** Ordered conversion funnel view → click → purchase: per user, the
    * first view, the first click STRICTLY after that view, the first
    * purchase strictly after that click — one summary row with stage
    * user-counts and r6 conversion rates. Strict event-time ordering
    * (micros) keys every stage, so a click logged before the user's first
    * view doesn't convert — standard ordered-funnel semantics.
    *
    * Scale: three user_id-keyed aggregates over pre-filtered event slices,
    * each stage joining only the previous stage's (user_id, ts) frame —
    * narrow co-partitioned shuffles, never a self-join of the raw table. */
  /** Per-user funnel stage times (one row per user with a view; later
    * stages NULL until reached) — the intermediate frame shared with the
    * streaming twin [[graft.streaming.Streams.funnelStages]], whose
    * per-user state is exactly one of these rows (StreamsSpec parity). */
  def funnelStagesOn(events: DataFrame): DataFrame = {
    val e = events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
    val v = e.filter(col("event_type") === lit("view"))
      .groupBy("user_id").agg(min(col("ts_us")).as("t_view"))
    val c = e.filter(col("event_type") === lit("click"))
      .join(v, Seq("user_id")).filter(col("ts_us") > col("t_view"))
      .groupBy("user_id").agg(min(col("ts_us")).as("t_click"))
    val p = e.filter(col("event_type") === lit("purchase"))
      .join(c, Seq("user_id")).filter(col("ts_us") > col("t_click"))
      .groupBy("user_id").agg(min(col("ts_us")).as("t_purchase"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
  }

  def funnelOn(events: DataFrame): DataFrame = {
    def rate(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      when(den === lit(0L), lit(0.0)).otherwise(r6(num.cast("double") / den))
    funnelStagesOn(events)
      .agg(count(lit(1)).as("n_view"), count(col("t_click")).as("n_click"),
        count(col("t_purchase")).as("n_purchase"))
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        rate(col("n_click"), col("n_view")).as("view_to_click"),
        rate(col("n_purchase"), col("n_click")).as("click_to_purchase"))
  }

  def funnel(spark: SparkSession, dir: String): DataFrame =
    funnelOn(Tables.events(spark, dir))

  lazy val funnelSql: String =
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
       |v AS (SELECT user_id, min(ts_us) AS t_view FROM e
       |      WHERE event_type = 'view' GROUP BY 1),
       |c AS (SELECT e.user_id, min(e.ts_us) AS t_click
       |      FROM e JOIN v ON e.user_id = v.user_id
       |      WHERE e.event_type = 'click' AND e.ts_us > v.t_view GROUP BY 1),
       |p AS (SELECT e.user_id, min(e.ts_us) AS t_purchase
       |      FROM e JOIN c ON e.user_id = c.user_id
       |      WHERE e.event_type = 'purchase' AND e.ts_us > c.t_click GROUP BY 1),
       |s AS (SELECT (SELECT count(*) FROM v) AS n_view,
       |             (SELECT count(*) FROM c) AS n_click,
       |             (SELECT count(*) FROM p) AS n_purchase)
       |SELECT n_view, n_click, n_purchase,
       |       CASE WHEN n_view = 0 THEN 0.0
       |            ELSE ${r6Sql("CAST(n_click AS DOUBLE) / n_view")} END AS view_to_click,
       |       CASE WHEN n_click = 0 THEN 0.0
       |            ELSE ${r6Sql("CAST(n_purchase AS DOUBLE) / n_click")} END AS click_to_purchase
       |FROM s""".stripMargin

  /** Weekly cohort-retention triangle: users keyed by first-seen week
    * (Monday-truncated on both engines); for each (cohort_week,
    * weeks_since) the count of cohort members active that week. Both
    * endpoints are week-truncated, so the day delta divides by 7 exactly.
    * cohort_week ships as a 'YYYY-MM-DD' string (DATE physical types
    * hash-mismatch across engines — repo convention).
    *
    * Scale: one user_id aggregate for first-seen, a user-keyed join
    * carrying two truncated columns, a distinct on (user, cohort, week)
    * and one (cohort, age) count — all narrow. */
  /** The distinct (user, cohort_week, active_week) membership pairs —
    * shared intermediate with the streaming twin
    * [[graft.streaming.Streams.cohortPairs]], which emits exactly these
    * rows incrementally (StreamsSpec parity). Weeks ride as 'yyyy-MM-DD'
    * strings (sortable, engine-portable). */
  def cohortPairsOn(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("ts"))
    val first = e.groupBy("user_id").agg(min(col("ts")).as("t0"))
    e.join(first, Seq("user_id"))
      .select(col("user_id"),
        date_format(date_trunc("week", col("t0")), "yyyy-MM-dd").as("cohort_week"),
        date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("active_week"))
      .distinct()
  }

  /** Pairs → retention triangle; the finisher both the batch query and the
    * streaming twin's output share. */
  def cohortsFromPairs(pairs: DataFrame): DataFrame =
    pairs
      .select(col("cohort_week"),
        (datediff(to_date(col("active_week")), to_date(col("cohort_week"))) / lit(7))
          .cast("long").as("weeks_since"))
      .groupBy("cohort_week", "weeks_since")
      .agg(count(lit(1)).as("n_active"))

  def cohortsOn(events: DataFrame): DataFrame =
    cohortsFromPairs(cohortPairsOn(events))

  def cohorts(spark: SparkSession, dir: String): DataFrame =
    cohortsOn(Tables.events(spark, dir))

  val cohortsSql: String =
    s"""WITH e AS (SELECT user_id, ts FROM events),
       |f AS (SELECT user_id, min(ts) AS t0 FROM e GROUP BY 1),
       |pairs AS (
       |  SELECT DISTINCT e.user_id,
       |         date_trunc('week', f.t0) AS cw,
       |         date_trunc('week', e.ts) AS aw
       |  FROM e JOIN f ON e.user_id = f.user_id)
       |SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
       |       CAST(date_diff('day', cw, aw) / 7 AS BIGINT) AS weeks_since,
       |       count(*) AS n_active
       |FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------ as-of join
  /** AS-OF join — the temporal operator Spark lacks natively (the brief's
    * canonical example): every purchase event joins the SAME USER's latest
    * view event at-or-before it (the market-data trades⟕quotes shape).
    * Spark-first implementation is the union-tag carry-forward: tag both
    * sides, union, ONE window partitioned by user ordered by (ts, tag,
    * id), and `last(_, ignoreNulls)` carries the most recent quote row
    * onto each trade row. One shuffle by key, zero range explosion —
    * the plan every distributed as-of implementation reduces to, vs the
    * O(|trades|·|window|) blowup of an inequality join. Quotes sharing an
    * exact (user, ts) dedupe to the max event_id first (both engines), so
    * ties are deterministic; at-or-before is inclusive (tag orders quotes
    * before trades at equal ts).
    *
    * Oracle: DuckDB's NATIVE `ASOF LEFT JOIN` — a genuinely independent
    * second implementation of the semantics. */
  def asofJoinOn(events: DataFrame): DataFrame = {
    val e = events.select(col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"), col("value"))
    val quotes = e.filter(col("event_type") === lit("view"))
      .groupBy("user_id", "ts_us")
      .agg(max(col("event_id")).as("q_event_id"),
        max_by(col("value"), col("event_id")).as("q_value"))
      .select(col("user_id"), col("ts_us"), lit(0).as("tag"),
        lit(null).cast("long").as("event_id"),
        col("q_event_id"), col("ts_us").as("q_ts_us"), col("q_value"))
    val trades = e.filter(col("event_type") === lit("purchase"))
      .select(col("user_id"), col("ts_us"), lit(1).as("tag"), col("event_id"),
        lit(null).cast("long").as("q_event_id"),
        lit(null).cast("long").as("q_ts_us"),
        lit(null).cast("double").as("q_value"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("tag"), coalesce(col("q_event_id"), col("event_id")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    quotes.unionByName(trades)
      .withColumn("quote_event_id", last(col("q_event_id"), ignoreNulls = true).over(w))
      .withColumn("quote_ts_us", last(col("q_ts_us"), ignoreNulls = true).over(w))
      .withColumn("quote_value", last(col("q_value"), ignoreNulls = true).over(w))
      .filter(col("tag") === lit(1))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("quote_event_id"), col("quote_ts_us"), col("quote_value"))
  }

  def asofJoin(spark: SparkSession, dir: String): DataFrame =
    asofJoinOn(Tables.events(spark, dir))

  /** FORWARD as-of join — the mirror direction: every purchase joins the
    * same user's EARLIEST view at-or-after it (time-to-next-impression /
    * the settlement-lookup shape; backward answers "what did they last
    * see", forward answers "what happened next"). Same union-tag plan with
    * the window reversed to currentRow→unboundedFollowing and
    * `first(_, ignoreNulls)`: one user-keyed shuffle, no join operator,
    * zero range explosion. Equal-ts quotes dedupe to the MIN event_id
    * (the first next quote) and trades sort BEFORE quotes at equal ts so
    * at-or-after stays inclusive. Oracle: DuckDB's native ASOF LEFT JOIN
    * with the inequality reversed (`t.ts <= q.ts`) — an independent
    * second implementation of the direction. */
  def asofForwardOn(events: DataFrame): DataFrame = {
    val e = events.select(col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"), col("value"))
    val quotes = e.filter(col("event_type") === lit("view"))
      .groupBy("user_id", "ts_us")
      .agg(min(col("event_id")).as("q_event_id"),
        min_by(col("value"), col("event_id")).as("q_value"))
      .select(col("user_id"), col("ts_us"), lit(1).as("tag"),
        lit(null).cast("long").as("event_id"),
        col("q_event_id"), col("ts_us").as("q_ts_us"), col("q_value"))
    val trades = e.filter(col("event_type") === lit("purchase"))
      .select(col("user_id"), col("ts_us"), lit(0).as("tag"), col("event_id"),
        lit(null).cast("long").as("q_event_id"),
        lit(null).cast("long").as("q_ts_us"),
        lit(null).cast("double").as("q_value"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("tag"), coalesce(col("q_event_id"), col("event_id")))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    quotes.unionByName(trades)
      .withColumn("quote_event_id", first(col("q_event_id"), ignoreNulls = true).over(w))
      .withColumn("quote_ts_us", first(col("q_ts_us"), ignoreNulls = true).over(w))
      .withColumn("quote_value", first(col("q_value"), ignoreNulls = true).over(w))
      .filter(col("tag") === lit(0))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("quote_event_id"), col("quote_ts_us"), col("quote_value"))
  }

  def asofForward(spark: SparkSession, dir: String): DataFrame =
    asofForwardOn(Tables.events(spark, dir))

  /** Attribution horizon of the bounded forward as-of: 48 h — between the
    * corpus's median (~34 h) and p75 next-view gaps, so both regimes
    * (matched, horizon-nulled) stay populated at every SF. */
  val AsofHorizonUs: Long = 48L * 3600 * 1000000

  /** BOUNDED-HORIZON forward as-of: every purchase joins the earliest
    * same-user view within [ts, ts + horizon], else null — the
    * attribution-window form of [[asofForwardOn]], and the batch twin of
    * the streaming horizon in
    * [[graft.streaming.Streams.asofForwardUpdates]]. Rides ROW-IDENTICALLY
    * on the unbounded forward op: the unbounded match is the EARLIEST
    * at-or-after view, so it either lands inside the horizon (same row) or
    * beyond it (then no view in the window can exist) — the bound is one
    * null-out projection, zero extra shuffle or join. Inclusive at exactly
    * ts + horizon, matching the streaming `better` filter. */
  def asofHorizonOn(events: DataFrame, horizonUs: Long = AsofHorizonUs): DataFrame = {
    val in = col("quote_ts_us") <= col("ts_us") + lit(horizonUs)
    asofForwardOn(events)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        when(in, col("quote_event_id")).as("quote_event_id"),
        when(in, col("quote_ts_us")).as("quote_ts_us"),
        when(in, col("quote_value")).as("quote_value"))
  }

  def asofHorizon(spark: SparkSession, dir: String): DataFrame =
    asofHorizonOn(Tables.events(spark, dir))

  val asofHorizonSql: String =
    s"""WITH q AS (
       |  SELECT user_id, ts, min(event_id) AS q_event_id,
       |         arg_min(value, event_id) AS q_value
       |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
       |t AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
       |SELECT t.event_id, t.user_id, epoch_us(t.ts) AS ts_us,
       |       CASE WHEN epoch_us(q.ts) <= epoch_us(t.ts) + $AsofHorizonUs THEN q.q_event_id END AS quote_event_id,
       |       CASE WHEN epoch_us(q.ts) <= epoch_us(t.ts) + $AsofHorizonUs THEN epoch_us(q.ts) END AS quote_ts_us,
       |       CASE WHEN epoch_us(q.ts) <= epoch_us(t.ts) + $AsofHorizonUs THEN q.q_value END AS quote_value
       |FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND t.ts <= q.ts
       |ORDER BY t.event_id""".stripMargin

  val asofForwardSql: String =
    s"""WITH q AS (
       |  SELECT user_id, ts, min(event_id) AS q_event_id,
       |         arg_min(value, event_id) AS q_value
       |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
       |t AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
       |SELECT t.event_id, t.user_id, epoch_us(t.ts) AS ts_us,
       |       q.q_event_id AS quote_event_id, epoch_us(q.ts) AS quote_ts_us,
       |       q.q_value AS quote_value
       |FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND t.ts <= q.ts
       |ORDER BY t.event_id""".stripMargin

  val asofJoinSql: String =
    s"""WITH q AS (
       |  SELECT user_id, ts, max(event_id) AS q_event_id,
       |         arg_max(value, event_id) AS q_value
       |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
       |t AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
       |SELECT t.event_id, t.user_id, epoch_us(t.ts) AS ts_us,
       |       q.q_event_id AS quote_event_id, epoch_us(q.ts) AS quote_ts_us,
       |       q.q_value AS quote_value
       |FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND t.ts >= q.ts
       |ORDER BY t.event_id""".stripMargin

  // ------------------------------------------------------- interval join
  /** Click attribution via a bounded INTERVAL join: every click pairs with
    * the same user's view events inside the trailing 30-minute window —
    * the batch twin of the watermarked stream-stream join
    * ([[graft.streaming.Streams.clickViewJoin]], which emits the same six
    * columns and is parity-spec'd doc-for-doc against this row — including
    * a micro-batch cut engineered INSIDE a pair, so the cross-batch state
    * retention is proven, not assumed). The join is an EQUI-join on
    * user_id with a range residual, so Spark plans a user-keyed
    * sort-merge — output is bounded by events-per-user-per-window, never
    * a cartesian. */
  def clickAttributionOn(events: DataFrame): DataFrame = {
    val e = events.select(col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"), col("value"))
    val clicks = e.filter(col("event_type") === lit("click"))
      .select(col("user_id"), col("event_id").as("click_event_id"), col("ts_us").as("c_ts_us"))
    val views = e.filter(col("event_type") === lit("view"))
      .select(col("user_id"), col("event_id").as("view_event_id"),
        col("ts_us").as("v_ts_us"), col("value").as("view_value"))
    clicks.join(views, Seq("user_id"))
      .filter(col("v_ts_us") <= col("c_ts_us") &&
        col("v_ts_us") >= col("c_ts_us") - lit(GapUs))
      .select(col("click_event_id"), col("user_id"), col("c_ts_us"),
        col("view_event_id"), col("v_ts_us"), col("view_value"))
  }

  def clickAttribution(spark: SparkSession, dir: String): DataFrame =
    clickAttributionOn(Tables.events(spark, dir))

  val clickAttributionSql: String =
    s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value FROM events)
       |SELECT c.event_id AS click_event_id, c.user_id, c.ts_us AS c_ts_us,
       |       v.event_id AS view_event_id, v.ts_us AS v_ts_us, v.value AS view_value
       |FROM e c JOIN e v
       |  ON c.user_id = v.user_id AND c.event_type = 'click' AND v.event_type = 'view'
       | AND v.ts_us <= c.ts_us AND v.ts_us >= c.ts_us - $GapUs
       |ORDER BY click_event_id, view_event_id""".stripMargin

  /** Unattributed clicks — the complement listing of [[clickAttributionOn]]:
    * clicks with NO same-user view in the trailing 30-minute window (the
    * rows a marketing-attribution pipeline escalates). A left ANTI join
    * with the same equi-key + range residual, so the plan is the same
    * user-keyed join shape with the probe side short-circuiting on first
    * match — never a cartesian. Batch twin of the streaming LEFT OUTER
    * stream-stream join ([[graft.streaming.Streams.clickViewLeftJoin]]),
    * whose null-padded rows are exactly this listing once the watermark
    * closes a click's window. */
  def unattributedOn(events: DataFrame): DataFrame = {
    val e = events.select(col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"))
    val clicks = e.filter(col("event_type") === lit("click"))
      .select(col("user_id"), col("event_id").as("click_event_id"), col("ts_us").as("c_ts_us"))
    val views = e.filter(col("event_type") === lit("view"))
      .select(col("user_id").as("v_user"), col("ts_us").as("v_ts_us"))
    clicks.join(views,
        col("user_id") === col("v_user") &&
          col("v_ts_us") <= col("c_ts_us") &&
          col("v_ts_us") >= col("c_ts_us") - lit(GapUs),
        "left_anti")
      .select(col("click_event_id"), col("user_id"), col("c_ts_us"))
  }

  def unattributed(spark: SparkSession, dir: String): DataFrame =
    unattributedOn(Tables.events(spark, dir))

  val unattributedSql: String =
    s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events)
       |SELECT c.event_id AS click_event_id, c.user_id, c.ts_us AS c_ts_us
       |FROM e c
       |WHERE c.event_type = 'click'
       |  AND NOT EXISTS (
       |    SELECT 1 FROM e v
       |    WHERE v.event_type = 'view' AND v.user_id = c.user_id
       |      AND v.ts_us <= c.ts_us AND v.ts_us >= c.ts_us - $GapUs)
       |ORDER BY click_event_id""".stripMargin

  // --------------------------------------------------- rate-spike monitor
  /** Event-rate anomaly detection — the ingestion-health monitor an event
    * pipeline runs continuously: hourly counts per event_type, a trailing
    * [[BaselineBuckets]]-hour baseline (current bucket EXCLUDED), and a
    * z-score flagging buckets ≥ [[SpikeZ]]σ above baseline. The bucket
    * domain is ZERO-FILLED per type (the J5 zero-fill idiom) so silent
    * hours count as zeros — without the fill, "24 trailing rows" silently
    * stops meaning "24 trailing hours" exactly when the anomaly is a gap.
    *
    * Determinism: the rolling state is (sum, sum-of-squares, count) over
    * exact integer counts, so mean/variance are single double expressions
    * over identical integers on both engines; z is r6-rounded BEFORE the
    * spike comparison so the flag can't flip on a last-ulp.
    *
    * Scale shape: one shuffle to (type, bucket) counts — map-side
    * combined, cardinality |types|×|hours|, corpus-row-free after the
    * first aggregate — then a per-type window over that tiny frame. */
  val HourUs: Long = 3600L * 1000000
  val BaselineBuckets = 24
  val SpikeZ = 3.0

  def rateSpikeOn(events: DataFrame): DataFrame = {
    val e = events.select(col("event_type"),
      (col("ts_us") - pmod(col("ts_us"), lit(HourUs))).as("bucket_us"))
    // persisted: the |types|×|hours|-row count table feeds the fill join,
    // the bounds scalar AND the type domain — without it each consumer
    // would re-run the corpus scan underneath (three scans for one pass)
    val counts = e.groupBy("event_type", "bucket_us").agg(count(lit(1)).as("n")).persist()
    val bounds = counts.agg(min("bucket_us").as("lo"), max("bucket_us").as("hi"))
    val domain = counts.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(HourUs))).as("bucket_us"))
    val w = Window.partitionBy("event_type").orderBy("bucket_us")
      .rowsBetween(-BaselineBuckets, -1)
    val mu = col("ssum").cast("double") / col("k")
    val varP = greatest(col("ssq").cast("double") / col("k") - mu * mu, lit(0.0))
    // std floor of 1 event: a burst over a perfectly-quiet baseline (σ=0)
    // must still flag, and sub-event σ would turn ±1-count noise into
    // spikes — the standard floor for small-integer count monitors
    val z = (col("n") - mu) / greatest(sqrt(varP), lit(1.0))
    domain.join(counts, Seq("event_type", "bucket_us"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("ssum", sum("n").over(w))
      .withColumn("ssq", sum(col("n") * col("n")).over(w))
      .withColumn("k", count(lit(1)).over(w))
      .filter(col("k") === lit(BaselineBuckets.toLong))
      .select(col("event_type"), col("bucket_us"), col("n"),
        r6(mu).as("base_mean"), r6(sqrt(varP)).as("base_std"),
        r6(z).as("z"), (r6(z) >= lit(SpikeZ)).as("is_spike"))
  }

  def rateSpike(spark: SparkSession, dir: String): DataFrame =
    rateSpikeOn(Tables.events(spark, dir)
      .withColumn("ts_us", unix_micros(col("ts"))))

  lazy val rateSpikeSql: String =
    s"""WITH e AS (
       |  SELECT event_type, (epoch_us(ts) // $HourUs) * $HourUs AS bucket_us FROM events),
       |counts AS (SELECT event_type, bucket_us, count(*) AS n FROM e GROUP BY 1, 2),
       |bounds AS (SELECT min(bucket_us) AS lo, max(bucket_us) AS hi FROM counts),
       |domain AS (
       |  SELECT t.event_type, unnest(range(b.lo, b.hi + 1, ${HourUs}::BIGINT)) AS bucket_us
       |  FROM (SELECT DISTINCT event_type FROM counts) t CROSS JOIN bounds b),
       |filled AS (
       |  SELECT d.event_type, d.bucket_us, CAST(coalesce(c.n, 0) AS BIGINT) AS n
       |  FROM domain d LEFT JOIN counts c
       |    ON d.event_type = c.event_type AND d.bucket_us = c.bucket_us),
       |roll AS (
       |  SELECT *, sum(n) OVER w AS ssum, sum(n * n) OVER w AS ssq, count(*) OVER w AS k
       |  FROM filled
       |  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_us
       |               ROWS BETWEEN $BaselineBuckets PRECEDING AND 1 PRECEDING)),
       |scored AS (
       |  SELECT event_type, bucket_us, n,
       |         CAST(ssum AS DOUBLE) / k AS mu,
       |         greatest(CAST(ssq AS DOUBLE) / k - (CAST(ssum AS DOUBLE) / k) * (CAST(ssum AS DOUBLE) / k), 0.0) AS varp
       |  FROM roll WHERE k = $BaselineBuckets)
       |SELECT event_type, bucket_us, n,
       |       ${r6Sql("mu")} AS base_mean, ${r6Sql("sqrt(varp)")} AS base_std,
       |       ${r6Sql("(n - mu) / greatest(sqrt(varp), 1.0)")} AS z,
       |       ${r6Sql("(n - mu) / greatest(sqrt(varp), 1.0)")} >= $SpikeZ AS is_spike
       |FROM scored ORDER BY event_type, bucket_us""".stripMargin

  lazy val all: Seq[Q] = Seq(
    Q("w_sessionize", sessionize _, sessionizeSql, col("user_id"), col("session_start_us")),
    Q("w_rate_spike", rateSpike _, rateSpikeSql, col("event_type"), col("bucket_us")),
    Q("w_asof_join", asofJoin _, asofJoinSql, col("event_id")),
    Q("w_asof_forward", asofForward _, asofForwardSql, col("event_id")),
    Q("w_asof_horizon", asofHorizon _, asofHorizonSql, col("event_id")),
    Q("w_click_attribution", clickAttribution _, clickAttributionSql,
      col("click_event_id"), col("view_event_id")),
    Q("w_unattributed", unattributed _, unattributedSql, col("click_event_id")),
    Q("w_session_window", sessionWindowAgg _, sessionWindowAggSql,
      col("user_id"), col("session_start_us")),
    Q("w_funnel", funnel _, funnelSql),
    Q("w_cohorts", cohorts _, cohortsSql, col("cohort_week"), col("weeks_since")),
  )
}
