package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{queries => q}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The registry is assembled from the per-module query lists so every
  * operator family (reference pipelines, per-operator micros, text analysis,
  * dedup, similarity search) contributes its queries and oracles in one
  * place.
  */
object SparkEntry {
  private[graft] val registry: Seq[Q] =
    q.Micro.all ++ q.Reference.all ++ q.Sessions.all ++ q.Relational.all ++ q.Sketches.all ++
      ext.Text.all ++ ext.Corpus.all ++ ext.Dedup.all ++ ext.Similarity.all ++
      ext.Curation.all ++ ext.Quality.all ++ multimodal.Multimodal.all

  /** Flagship query (Script C city-league analog); driver smoke-checks
    * rows>0 on /root/testdata/sf0.001.
    *
    * SESSION CONTRACT (graft.ops.Tables scaladoc): the library expects
    * `spark.sql.ansi.enabled=false` — reference `errors='coerce'` and the
    * DuckDB oracle both NULL out x/0 / bad casts where ANSI throws. Verify,
    * Bench and the test harness pin it on their builders; this entry point
    * pins it too because the driver smoke-checks it with an arbitrary
    * session. Readers themselves never mutate the caller's session.
    *
    * CACHE CONTRACT: some query builders persist() shared subplans for the
    * duration of the job (bm25's filtered postings, wordpiece's lexicon
    * rounds, the LSH signature tables) — the multi-consumer frames a
    * one-shot job wants warm. A long-lived session invoking registry
    * queries repeatedly should call `spark.catalog.clearCache()` between
    * queries (Verify and Bench both do), or the block store accumulates.
    *
    * ORDER CONTRACT: query builders and the library's `*On`/`*From`
    * functions return unsorted frames. Each registered query's presentation
    * order is data on its [[Q]] (`order`), and [[run]] applies it as the
    * last operator, here and in [[queries]] — the one place a presentation
    * sort runs. Compositions and streaming call the library functions and
    * never pay a sort they do not need. */
  def entry(spark: SparkSession): DataFrame =
    run(registry.find(_.name == "c1_city_league").get, spark, "/root/testdata/sf0.001")

  /** Pins the session, builds the query and applies its presentation
    * order. */
  private def run(query: Q, spark: SparkSession, dir: String): DataFrame = {
    pinSession(spark)
    val df = query.fn(spark, dir)
    if (query.order.isEmpty) df else df.orderBy(query.order: _*)
  }

  /** ansi=false per the session contract; timeZone=UTC so the
    * TIMESTAMP_NTZ→timestamp normalization in [[graft.ops.Tables.events]]
    * maps naive wall-clock to the same epoch micros DuckDB's epoch_us
    * reads, regardless of the caller session's local zone. */
  private def pinSession(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Partition-count hygiene, pinned for every caller session (round 18,
    // guide §2.2 "fewer, larger partitions" — both are SIZE-based rules,
    // correct at any scale, not local-mode tuning):
    // - parallelismFirst=false makes AQE coalescing honor
    //   advisoryPartitionSizeInBytes instead of fanning small shuffles out
    //   to the core count (Spark's own docs recommend false) — the
    //   delta-bounded reconciliation frames collapse to size-appropriate
    //   partition counts instead of 32 near-empty tasks per stage.
    // - canChangeCachedPlanOutputPartitioning=true lets persisted frames
    //   (signature tables, CC loop state) take AQE coalescing too; the
    //   default pins cached plans to the raw shuffle-partition count.
    // Measured (sf0.1, local[32]): dd_clusters_incremental 1,562 → 326
    // tasks, t_manifest_incremental 4,112 → 2,849, identical results.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    spark.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
  }

  /** One entry per implemented operator from SURVEY.md §2. Each wrapper
    * pins the SESSION CONTRACT (ansi=false, see entry()) so registry
    * queries self-protect under an arbitrary caller session exactly as
    * they did when the readers pinned it, and applies the query's
    * presentation order (ORDER CONTRACT, see entry()). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> ((spark: SparkSession, dir: String) => run(q, spark, dir))).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
