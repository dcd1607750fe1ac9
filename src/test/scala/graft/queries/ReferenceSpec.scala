package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ReferenceSpec extends SparkSpec {
  import spark.implicits._

  test("city league rounds an exact r6 tie half-up (mean of exact cents, not a double avg)") {
    // one city, 64 qualified pushes whose two-decimal gains sum to 1621.54:
    // the exact mean 25.3365625 sits on an r6 tie. A double avg lands on
    // either side of it depending on summation order (for these gains and
    // push keys, Spark's order lands at 25.336562); averaging exact cents
    // gives the half-up value in any order.
    val cents = Seq(1520, 3582, 3409, 3252, 2225, 1230, 2759, 3527, 3945, 1526, 1934, 1478,
      623, 1677, 778, 1729, 1533, 2487, 2679, 2006, 1442, 1296, 2452, 970, 1145, 4346, 623,
      790, 3255, 2384, 852, 2378, 2694, 2634, 3625, 4466, 4121, 4122, 2001, 2357, 4505, 1811,
      2288, 3419, 531, 904, 4290, 2871, 3966, 3077, 1581, 2899, 2050, 3137, 1396, 2683, 2020,
      4312, 4046, 903, 4517, 2659, 3388, 7049)
    assert(cents.length == 64 && cents.sum == 162154)
    val gains = cents.map(_ / 100.0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_c1_tie").toString
    try {
      val base = 1700000000000000L // epoch micros
      gains.zipWithIndex.flatMap { case (g, i) =>
        // posted at base, latest record an hour later: qualified by T1/T2
        Seq((2L * i, i.toLong, base, 100.0), (2L * i + 1, i.toLong, base + 3600000000L, 100.0 + g))
      }.toDF("event_id", "user_id", "us", "value")
        .select(col("event_id"), timestamp_micros(col("us")).as("ts"), col("user_id"),
          lit("view").as("event_type"), col("value"))
        .write.parquet(s"$tmp/events.parquet")
      gains.indices.map(i => (i.toLong, 0)).toDF("c_custkey", "c_nationkey")
        .write.parquet(s"$tmp/customer.parquet")
      Seq((0, "TIE")).toDF("n_nationkey", "n_name").write.parquet(s"$tmp/nation.parquet")
      val out = Reference.c1CityLeague(spark, tmp)
        .as[(String, Double, Long)].collect().toSeq
      assert(out === Seq(("TIE", 25.336563, 64L)))
    } finally graft.ops.FrozenCaches.deleteTree(tmp)
  }
}
