package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("approx aggregates land within tolerance of exact values") {
    val rows = Sketches.approxAgg(spark, dir)
      .select("approx_users_ok", "approx_p50_ok").as[(Boolean, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (usersOk, p50Ok) =>
      assert(usersOk, "approx_count_distinct outside its 3-sigma bound")
      assert(p50Ok, "approx_percentile p50 outside the exact p40..p60 band")
    }
  }

  test("KMV estimate stays near the exact distinct count on real data") {
    val rows = Sketches.kmvDistinct(spark, dir)
      .select("est_distinct_users", "exact_distinct_users").as[(Double, Long)].collect()
    rows.foreach { case (est, exact) =>
      // k=64 → ~12.6% std error; allow 3 sigma
      assert(math.abs(est - exact) / exact < 0.4, s"est $est vs exact $exact")
    }
  }

  test("salted aggregation equals the plain aggregation") {
    val salted = Sketches.saltedAgg(spark, dir).orderBy("event_type")
      .as[(String, Long, Long)].collect().toSeq
    val plain = graft.ops.Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum(col("value").cast("long")).as("sum_value_floor"))
      .orderBy("event_type").as[(String, Long, Long)].collect().toSeq
    assert(salted === plain)
  }

  test("salted join equals the plain unsalted join and actually shuffles (no broadcast)") {
    val got = Sketches.saltedJoin(spark, dir).orderBy("event_type")
      .as[(String, Long, Long)].collect().toSeq
    val dim = Sketches.TypeWeights.toDF("event_type", "weight")
    val plain = graft.ops.Tables.events(spark, dir)
      .join(dim, Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(graft.ops.Num.cents(col("value")) * col("weight")).as("weighted_cents"))
      .orderBy("event_type").as[(String, Long, Long)].collect().toSeq
    assert(got === plain)
    // the demonstration is only honest if the dim is NOT broadcast: the
    // salted key must reach a shuffled hash join
    val phys = Sketches.saltedJoin(spark, dir)
      .queryExecution.executedPlan.toString
    assert(phys.contains("ShuffledHashJoin"), s"expected ShuffledHashJoin in:\n$phys")
    assert(!phys.contains("BroadcastHashJoin"), "dim was broadcast — salt is moot")
  }

  test("kmv overlap: estimates bracket the exact set algebra within sketch error") {
    val r = Sketches.kmvOverlap(spark, "/root/testdata/sf0.001").head()
    val (estA, estB, estU) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    val (estI, estJ) = (r.getDouble(3), r.getDouble(4))
    val (exA, exB, exU, exI) = (r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))
    // union dominates both sides, intersection never exceeds either
    assert(estU >= math.max(estA, estB) - 1e-9 && exU >= math.max(exA, exB))
    assert(estI <= math.min(estA, estB) + 1e-9 && exI <= math.min(exA, exB))
    // k=64 sketch: ~1/sqrt(k) relative error — bound loosely at 30%
    Seq((estA, exA), (estB, exB), (estU, exU)).foreach { case (e, x) =>
      assert(math.abs(e - x) <= 0.30 * x, s"estimate $e vs exact $x out of bound")
    }
    assert(estJ >= 0.0 && estJ <= 1.0)
  }
}

