package graft.queries

import graft.Q
import graft.functions.KmvSketch
import graft.ops.{Dims, Tables}
import graft.ops.Num.{r6, r6Sql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sketching, skew handling, and grouping-set lattices — aggregation
  * machinery beyond plain groupBy. */
object Sketches {
  /** KMV distinct-count sketch per event_type (custom typed Aggregator via
    * `udaf`), alongside the exact count. The sketch's bounded O(k) state
    * merges associatively — Spark plans it partial-then-final exactly like
    * a builtin, which is what makes it usable at 100 TB where exact
    * count-distinct needs a full shuffle of the distinct keys. The
    * deterministic portable hash makes even the ESTIMATE oracle-checkable.
    */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val kmv = udaf(KmvSketch.agg)
    Tables.events(spark, dir)
      .withColumn("uid_str", col("user_id").cast("string"))
      .groupBy("event_type")
      .agg(
        r6(kmv(col("uid_str"))).as("est_distinct_users"),
        countDistinct(col("user_id")).as("exact_distinct_users"),
        count(lit(1)).as("n_events"))
  }

  lazy val kmvDistinctSql: String = {
    val est = KmvSketch.estimateSql("CAST(user_id AS VARCHAR)", "events", "event_type")
    s"""WITH est AS ($est),
       |exact AS (
       |  SELECT event_type, count(DISTINCT user_id) AS exact_distinct_users,
       |         count(*) AS n_events
       |  FROM events GROUP BY 1)
       |SELECT e.event_type,
       |       ${r6Sql("coalesce(est.est_distinct, 0.0)")} AS est_distinct_users,
       |       e.exact_distinct_users, e.n_events
       |FROM exact e LEFT JOIN est ON e.event_type = est.event_type
       |ORDER BY e.event_type""".stripMargin
  }

  /** CUBE over (category, age_group): the full grouping lattice in one
    * pass (2^2 grouping sets, partial aggregation shared). */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Dims.withAgeGroup(Dims.withCategory(Tables.customer(spark, dir)))
      .filter(col("age_group").isNotNull)
      .cube("category", "age_group")
      .agg(count(lit(1)).as("n_customers"), r6(sum(col("c_acctbal"))).as("sum_balance"))

  lazy val cubeAggSql: String =
    s"""SELECT category, age_group, count(*) AS n_customers, ${r6Sql("sum(c_acctbal)")} AS sum_balance
       |FROM (SELECT ${Dims.categorySql} AS category, ${Dims.ageGroupSql} AS age_group, c_acctbal FROM customer)
       |WHERE age_group IS NOT NULL
       |GROUP BY CUBE (category, age_group)
       |ORDER BY category NULLS FIRST, age_group NULLS FIRST""".stripMargin

  /** Salted two-stage aggregation — the skew pattern. event_type has ~5
    * values, so a plain groupBy funnels the whole table through 5 reducers;
    * salting by a hash of the row spreads stage 1 over 16×5 keys, stage 2
    * combines the partials. Counts/integer sums are exact regardless of
    * combining order, so the oracle is the PLAIN aggregation — proof the
    * rewrite is semantics-preserving. */
  val SaltBuckets = 16

  def saltedAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("salt", pmod(col("event_id"), lit(SaltBuckets)))
      .groupBy("event_type", "salt")
      .agg(count(lit(1)).as("pc"), sum(col("value").cast("long")).as("pv"))
      .groupBy("event_type")
      .agg(sum("pc").as("n_events"), sum("pv").as("sum_value_floor"))

  val saltedAggSql: String =
    """SELECT event_type, count(*) AS n_events,
      |       CAST(sum(CAST(trunc(value) AS BIGINT)) AS BIGINT) AS sum_value_floor
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  /** Salted JOIN — the skew-join pattern completing [[saltedAgg]]'s story.
    * A fact⋈dim join on a 5-value key funnels every fact row of a hot key
    * through one reducer; salting gives the fact side a uniform
    * `salt = event_id % 16` and REPLICATES each dim row across all 16
    * salts, so the join key (event_type, salt) spreads each hot key over
    * 16 reducers. The `shuffle_hash` hint keeps the demonstration honest —
    * without it Catalyst would broadcast the tiny dim and no skew would
    * exist to fix (at real scale the same pattern applies when the dim is
    * too big to broadcast, or under a sort-merge join). Counts and the
    * fixed-point integer sums ([[graft.ops.Num.cents]]) are exact under
    * any combining order, so the oracle is the PLAIN unsalted join — proof
    * the rewrite preserves semantics. The weight dim is one shared
    * constant rendered into both engines. */
  val TypeWeights: Seq[(String, Long)] = Seq(
    "click" -> 1L, "error" -> 5L, "purchase" -> 10L, "signup" -> 3L, "view" -> 1L)

  def saltedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = TypeWeights.toDF("event_type", "weight")
    val dimSalted = dim.withColumn("salt",
      explode(sequence(lit(0L), lit(SaltBuckets.toLong - 1L))))
    Tables.events(spark, dir)
      .withColumn("salt", pmod(col("event_id"), lit(SaltBuckets.toLong)))
      .join(dimSalted.hint("shuffle_hash"), Seq("event_type", "salt"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(graft.ops.Num.cents(col("value")) * col("weight")).as("weighted_cents"))
  }

  lazy val saltedJoinSql: String = {
    val values = TypeWeights
      .map { case (t, w) => s"('$t', CAST($w AS BIGINT))" }.mkString(", ")
    s"""WITH dim(event_type, weight) AS (VALUES $values)
       |SELECT e.event_type, count(*) AS n_events,
       |       CAST(sum(${graft.ops.Num.centsSql("e.value")} * d.weight) AS BIGINT) AS weighted_cents
       |FROM events e JOIN dim d ON e.event_type = d.event_type
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Builtin approximate aggregates (HLL++ distinct, quantile sketch).
    * Estimates are engine-specific, so the ORACLE checks the error BOUND,
    * not the estimate: the Spark side emits `|approx − exact| ≤ ε·exact`
    * (and p50 ∈ [exact p40, exact p60]) as booleans computed against its
    * own exact aggregates, and the oracle emits literal TRUE for those
    * columns — a sketch drifting outside its published bound flips the
    * boolean and fails the hash compare. ε = 0.15 = 3σ of HLL++'s default
    * 5% rsd; the quantile band is ±10% rank vs approx_percentile's 1/1000
    * rank error. At 100 TB these replace exact distinct/percentile wherever
    * a few-percent error is acceptable: bounded state, one pass, mergeable.
    */
  val AcdErrBound = 0.15

  def approxAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id")).as("au"),
        countDistinct(col("user_id")).as("eu"),
        expr("approx_percentile(value, 0.5, 1000)").as("ap50"),
        expr("percentile(value, 0.40)").as("p40"),
        expr("percentile(value, 0.50)").as("p50"),
        expr("percentile(value, 0.60)").as("p60"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"),
        (abs(col("au") - col("eu")) <= lit(AcdErrBound) * col("eu")).as("approx_users_ok"),
        coalesce(col("ap50") >= col("p40") && col("ap50") <= col("p60"), lit(true))
          .as("approx_p50_ok"),
        col("eu").as("exact_users"),
        // exact medians ride along (oracle-checked) so a bound flip is
        // diagnosable from the correctness record, not just a hash mismatch
        r6(col("p50")).as("exact_p50"),
        col("n_events"))

  lazy val approxAggSql: String =
    s"""SELECT event_type, TRUE AS approx_users_ok, TRUE AS approx_p50_ok,
       |       count(DISTINCT user_id) AS exact_users,
       |       ${r6Sql("quantile_cont(value, 0.5)")} AS exact_p50,
       |       count(*) AS n_events
       |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  /** Mergeable quantile sketch per event_type — the quantile member of the
    * sketch family (KMV distinct / CMS counts / bloom membership), closing
    * the round-10 gap: exact `percentile` needs a per-group value sort
    * (corpus-wide at 100 TB), while the log-linear histogram sketch
    * ([[graft.functions.QuantileSketch]]) is bounded O(cells) state,
    * merge-order independent, and planned partial-then-final like any
    * builtin aggregate. Because every step is integer arithmetic, the
    * oracle reproduces the ESTIMATES themselves. The registered row is the
    * PURE O(cells) sketch — exactly what ships at 100 TB, no unbounded
    * per-group state anywhere in the plan; the published 1/16 contract
    * against the floor-rank statistic is asserted in QuantileSketchSpec
    * over these same groups (the earlier in-query `within_*` ride-alongs
    * materialized every group's full sorted value set inside the
    * registered query — the exact state the sketch exists to eliminate;
    * VERDICT r11 advice). */
  def quantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val qs = udaf(graft.functions.QuantileSketch.agg)
    Tables.events(spark, dir)
      .withColumn("cents", graft.ops.Num.cents(col("value")))
      .groupBy("event_type")
      .agg(qs(col("cents")).as("sk"))
      .select(col("event_type"),
        col("sk.p50_cents").as("p50_cents"),
        col("sk.p90_cents").as("p90_cents"),
        col("sk.p99_cents").as("p99_cents"),
        col("sk.n").as("n_events"))
  }

  lazy val quantileSketchSql: String = {
    val est = graft.functions.QuantileSketch.estimateSql(
      "cents",
      s"(SELECT event_type, ${graft.ops.Num.centsSql("value")} AS cents FROM events)",
      "event_type")
    s"""WITH est AS ($est)
       |SELECT event_type, p50_cents, p90_cents, p99_cents, n AS n_events
       |FROM est ORDER BY event_type""".stripMargin
  }

  /** The SIGNED-domain member of the quantile family — the registered row
    * driving the mirrored store (round-12 signed extension) through the
    * full driver gate on genuinely mixed-sign data: per-user value DELTAS
    * (cents − previous cents over (ts, event_id)), roughly half negative,
    * sketched per event_type with the same bounded O(cells) aggregate.
    * Before the extension these inputs silently collapsed into cell 0; now
    * cell order = value order on both sides of zero, the 1/16 bound holds
    * for negative statistics too (QuantileSketchSpec), and the oracle
    * reproduces the signed cell/midpoint arithmetic exactly. Plan shape:
    * one user-keyed window pass for the lag, then the partial-then-final
    * sketch aggregate — no per-group value sort anywhere. */
  def quantileSigned(spark: SparkSession, dir: String): DataFrame = {
    val qs = udaf(graft.functions.QuantileSketch.agg)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("cents", graft.ops.Num.cents(col("value")))
      .withColumn("dcents", col("cents") - lag(col("cents"), 1).over(w))
      .filter(col("dcents").isNotNull)
      .groupBy("event_type")
      .agg(qs(col("dcents")).as("sk"))
      .select(col("event_type"),
        col("sk.p50_cents").as("p50_cents"),
        col("sk.p90_cents").as("p90_cents"),
        col("sk.p99_cents").as("p99_cents"),
        col("sk.n").as("n_events"))
  }

  val quantileSignedSql: String = {
    val cents = graft.ops.Num.centsSql("value")
    val rel =
      s"""(SELECT event_type, dcents FROM (
         |   SELECT event_type,
         |          $cents - lag($cents) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dcents
         |   FROM events)
         | WHERE dcents IS NOT NULL)""".stripMargin
    val est = graft.functions.QuantileSketch.estimateSql("dcents", rel, "event_type")
    s"""WITH est AS ($est)
       |SELECT event_type, p50_cents, p90_cents, p99_cents, n AS n_events
       |FROM est ORDER BY event_type""".stripMargin
  }

  /** Explicit GROUPING SETS lattice (the general form cube/rollup are sugar
    * for): per-(status, year), per-status, and grand-total levels in one
    * pass. Spark expands the sets into a single Expand + hash aggregate —
    * one shuffle for all lattice levels, not one scan per level. */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("order_year", substring(col("o_orderdate").cast("string"), 1, 4))
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("order_year")), Seq(col("o_orderstatus")), Seq()),
        col("o_orderstatus"), col("order_year"))
      .agg(count(lit(1)).as("n_orders"), r6(sum(col("o_totalprice"))).as("sum_price"))

  lazy val groupingSetsAggSql: String =
    s"""SELECT o_orderstatus, order_year, count(*) AS n_orders, ${r6Sql("sum(o_totalprice)")} AS sum_price
       |FROM (SELECT o_orderstatus, substr(CAST(o_orderdate AS VARCHAR), 1, 4) AS order_year, o_totalprice
       |      FROM orders)
       |GROUP BY GROUPING SETS ((o_orderstatus, order_year), (o_orderstatus), ())
       |ORDER BY o_orderstatus NULLS FIRST, order_year NULLS FIRST""".stripMargin

  // ------------------------------------------------ sketch set algebra
  /** Snapshot-overlap estimation by KMV set algebra — the mergeable-sketch
    * payoff in action: |A|, |B| and |A∪B| come from three bounded O(k)
    * sketches (the union sketch is just the aggregator run over both
    * inputs — merge IS union for KMV), and |A∩B| / Jaccard follow by
    * inclusion-exclusion WITHOUT ever joining the two corpora. At 100 TB
    * this answers "how much does the new snapshot overlap the old one"
    * with three scan-bound aggregates of constant state, where the exact
    * answer needs a corpus-sized distinct shuffle; the exact counts ride
    * along here (small SF) so the estimate is oracle-checkable next to
    * its truth. Estimates are r6-rounded BEFORE the derived
    * intersection/Jaccard so both engines derive from identical inputs. */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.{Corpus, Text}
    val docs = Tables.documents(spark, dir)
    def fps(d: DataFrame) = d.select(
      coalesce(md5(Text.normalized(col("text"))), lit("<null>")).as("fp"))
    val a = fps(Corpus.deltaOldSlice(docs))
    val b = fps(Corpus.deltaNewSlice(docs))
    val kmv = udaf(KmvSketch.agg)
    def side(d: DataFrame, n: String) = d.agg(
      r6(kmv(col("fp"))).as(s"est_$n"),
      countDistinct(col("fp")).as(s"exact_$n"))
    val estInt = r6(greatest(col("est_a") + col("est_b") - col("est_union"), lit(0.0)))
    side(a, "a").crossJoin(side(b, "b")).crossJoin(side(a.unionAll(b), "union"))
      .select(col("est_a"), col("est_b"), col("est_union"),
        estInt.as("est_intersection"),
        when(col("est_union") > 0.0, r6(estInt / col("est_union")))
          .otherwise(lit(0.0)).as("est_jaccard"),
        col("exact_a"), col("exact_b"), col("exact_union"),
        (col("exact_a") + col("exact_b") - col("exact_union")).as("exact_intersection"))
  }

  lazy val kmvOverlapSql: String = {
    import graft.ext.{Corpus, Text}
    val fpOld = s"coalesce(md5(${Text.normalizedSql("text")}), '<null>')"
    val fpNew = s"coalesce(md5(${Text.normalizedSql(Corpus.deltaNewTextSql)}), '<null>')"
    val aFrom = s"SELECT $fpOld AS fp FROM documents WHERE ${Corpus.deltaOldWhereSql}"
    val bFrom = s"SELECT $fpNew AS fp FROM documents WHERE ${Corpus.deltaNewWhereSql}"
    val sides = s"""(SELECT 'a' AS side, fp FROM ($aFrom)
                   | UNION ALL SELECT 'b', fp FROM ($bFrom)
                   | UNION ALL SELECT 'u', fp FROM ($aFrom)
                   | UNION ALL SELECT 'u', fp FROM ($bFrom)) sides""".stripMargin
    val est = KmvSketch.estimateSql("fp", sides, "side")
    val estInt = r6Sql("greatest(est_a + est_b - est_union, 0.0)")
    s"""WITH est AS ($est),
       |p AS (SELECT
       |  ${r6Sql("max(CASE WHEN side = 'a' THEN est_distinct END)")} AS est_a,
       |  ${r6Sql("max(CASE WHEN side = 'b' THEN est_distinct END)")} AS est_b,
       |  ${r6Sql("max(CASE WHEN side = 'u' THEN est_distinct END)")} AS est_union
       |  FROM est),
       |ex AS (SELECT
       |  (SELECT count(DISTINCT fp) FROM ($aFrom)) AS exact_a,
       |  (SELECT count(DISTINCT fp) FROM ($bFrom)) AS exact_b,
       |  (SELECT count(DISTINCT fp) FROM ($aFrom UNION ALL $bFrom)) AS exact_union)
       |SELECT p.est_a, p.est_b, p.est_union,
       |       $estInt AS est_intersection,
       |       CASE WHEN p.est_union > 0.0 THEN ${r6Sql(s"($estInt) / p.est_union")}
       |            ELSE 0.0 END AS est_jaccard,
       |       CAST(ex.exact_a AS BIGINT) AS exact_a,
       |       CAST(ex.exact_b AS BIGINT) AS exact_b,
       |       CAST(ex.exact_union AS BIGINT) AS exact_union,
       |       CAST(ex.exact_a + ex.exact_b - ex.exact_union AS BIGINT) AS exact_intersection
       |FROM p CROSS JOIN ex""".stripMargin
  }

  // --------------------------------- sketch-as-column warehouse round-trip
  /** Shards for the persisted-sketch simulation: enough that every
    * event_type spans several shards at sf0.001, few enough that each
    * shard sketch is non-trivial. Production jobs shard by ingest
    * partition/day; the merge result is sharding-invariant either way. */
  val QsShards = 8L

  /** Frozen per-shard sketch table (event_type, shard, cells array<bigint>)
    * per corpus — the simulated warehouse state the round-trip reads. */
  private val shardSketchCache =
    new graft.ops.FrozenCaches.DirMemo[Long, String]("qsketch_shards")

  /** The quantile sketch ACROSS JOBS, not just partitions — the warehouse
    * round-trip of the mergeable design: an ingest-side job writes each
    * (event_type, shard)'s raw cell vector as a plain array<bigint>
    * parquet column ([[graft.functions.QuantileSketch.cellsAgg]] — a
    * readable warehouse table, not engine-private bytes), and this query
    * reads the persisted vectors back and re-aggregates them into the
    * corpus estimate ([[graft.functions.QuantileSketch.mergeAgg]]).
    * Because merge is cell-wise addition, the result is BIT-IDENTICAL to
    * `k_quantile_sketch` run over the raw values (QuantileSketchSpec pins
    * it), and the oracle is the SAME estimate pipeline over the raw
    * events — deliberately NOT a sketch-table formulation, so the
    * round-trip earns correctness by matching the direct computation.
    *
    * 100 TB shape: per-day/per-shard sketch columns are fixed-width
    * (975-long, the signed mirrored store) arrays
    * — warehouse rows, not state; the corpus-wide quantile becomes a
    * ≤(groups·shards)-row re-aggregation with no raw-value rescan. */
  def quantileShards(spark: SparkSession, dir: String): DataFrame = {
    val path = shardSketchCache.get(dir, QsShards) { base =>
      val p = s"$base/shards.parquet"
      val cells = udaf(graft.functions.QuantileSketch.cellsAgg)
      Tables.events(spark, dir)
        .withColumn("cents", graft.ops.Num.cents(col("value")))
        .withColumn("shard", pmod(col("event_id"), lit(QsShards)))
        .groupBy("event_type", "shard")
        .agg(cells(col("cents")).as("cells"))
        .write.parquet(p)
      p
    }
    val merge = udaf(graft.functions.QuantileSketch.mergeAgg)
    spark.read.parquet(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_shards"), merge(col("cells")).as("sk"))
      .select(col("event_type"), col("n_shards"),
        col("sk.p50_cents").as("p50_cents"),
        col("sk.p90_cents").as("p90_cents"),
        col("sk.p99_cents").as("p99_cents"),
        col("sk.n").as("n_events"))
  }

  lazy val quantileShardsSql: String = {
    val est = graft.functions.QuantileSketch.estimateSql(
      "cents",
      s"(SELECT event_type, ${graft.ops.Num.centsSql("value")} AS cents FROM events)",
      "event_type")
    s"""WITH est AS ($est),
       |sh AS (SELECT event_type, count(DISTINCT event_id % $QsShards) AS n_shards
       |       FROM events GROUP BY 1)
       |SELECT e.event_type, sh.n_shards, e.p50_cents, e.p90_cents, e.p99_cents,
       |       e.n AS n_events
       |FROM est e JOIN sh ON e.event_type = sh.event_type
       |ORDER BY e.event_type""".stripMargin
  }

  lazy val all: Seq[Q] = Seq(
    Q("k_kmv_distinct", kmvDistinct _, kmvDistinctSql, col("event_type")),
    Q("k_kmv_overlap", kmvOverlap _, kmvOverlapSql),
    Q("k_cube", cubeAgg _, cubeAggSql,
      col("category").asc_nulls_first, col("age_group").asc_nulls_first),
    Q("k_grouping_sets", groupingSetsAgg _, groupingSetsAggSql,
      col("o_orderstatus").asc_nulls_first, col("order_year").asc_nulls_first),
    Q("k_salted_agg", saltedAgg _, saltedAggSql, col("event_type")),
    Q("k_salted_join", saltedJoin _, saltedJoinSql, col("event_type")),
    Q("k_approx_agg", approxAgg _, approxAggSql, col("event_type")),
    Q("k_quantile_sketch", quantileSketch _, quantileSketchSql, col("event_type")),
    Q("k_quantile_signed", quantileSigned _, quantileSignedSql, col("event_type")),
    Q("k_quantile_shards", quantileShards _, quantileShardsSql, col("event_type")),
  )
}
