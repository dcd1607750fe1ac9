package graft.ext

import graft.Q
import graft.ops.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The curation funnel: every per-document gate the pipeline ships —
  * C4-style quality, Gopher repetition, LM fluency, the trained quality
  * classifier, benchmark decontamination, exact-dup canonicalization —
  * composed into ONE verdict table with a deterministic drop reason per
  * document. This is the operator a pipeline owner actually runs: not six
  * reports to reconcile, but one keep/drop manifest with provenance.
  *
  * Composition discipline: the funnel has NO gate logic of its own. The
  * Spark side calls the exact per-gate entry points the registry runs; the
  * oracle embeds the per-gate ORACLE SQL as subqueries. Neither side can
  * drift from the individual operators, and the oracle gate re-proves all
  * six behaviors through one more independent path.
  *
  * Scale shape: each gate is its own bounded plan (scan-bound projections,
  * census/broadcast joins — see the per-operator notes); the funnel adds
  * only doc_id-keyed left joins of (doc_id, boolean) frames — narrow
  * shuffles of verdict bits, never of text. The universe is the TRAINING
  * pool (the benchmark slice is the eval suite, not corpus); dedup
  * canonicals and the fluency census run over the FULL corpus, matching
  * their registered forms.
  */
object Curation {
  /** Gate order defines the reported drop reason: a document failing
    * several gates reports the FIRST in pipeline order — quality,
    * repetition, fluency, classifier, contamination, duplicate. The
    * classifier gate (trained weights + corpus-mean calibration, both
    * derived from the FULL corpus exactly as `t_quality_score` registers
    * them) is the learned complement to the three rule gates. */
  def curationFunnelOn(docs: DataFrame): DataFrame = {
    val train = docs.filter(pmod(col("doc_id"), lit(10L)) =!= lit(Corpus.BenchSlice))
    funnelTail(train,
      f = Text.lmFluencyOn(docs).select(col("doc_id"), col("is_fluent")),
      g = Quality.qualityScoreOn(docs)
        .select(col("doc_id"), col("keep").as("pass_classifier")),
      d = Corpus.decontaminateOn(docs).select(col("doc_id"), col("keep").as("pass_decontam")),
      c = Text.fingerprintOn(docs)
        .select(col("doc_id"), (col("is_canonical") === lit(1L)).as("is_canonical")))
  }

  /** Frozen-artifact form of the funnel, gate for gate the same semantics:
    * `train` is the (already bench-filtered) slice to judge, fluency scores
    * against a FIXED census, decontamination against a STATIC eval suite,
    * and the exact-dup verdict comes from a caller-supplied (doc_id,
    * is_canonical) frame — the composition a streaming ingest runs per
    * micro-batch ([[graft.streaming.Streams.curationFunnelBatches]]), where
    * the canonical state lives outside the batch. */
  def curationFunnelAgainstOn(train: DataFrame, census: DataFrame,
                              evalDocs: DataFrame, canon: DataFrame,
                              classifier: DataFrame): DataFrame =
    curationFunnelAgainstHashesOn(train, census,
      Corpus.evalShingleHashes(evalDocs), canon, classifier)

  /** Same frozen-artifact funnel with the decontamination model already
    * built: takes the eval suite's distinct shingle HASH set instead of
    * the eval docs, so a long-lived consumer (the streaming funnel) can
    * build that broadcast-sized set once and replay it per batch. */
  def curationFunnelAgainstHashesOn(train: DataFrame, census: DataFrame,
                                    evalHashes: DataFrame, canon: DataFrame,
                                    classifier: DataFrame): DataFrame =
    funnelTail(train,
      f = Text.lmFluencyAgainstOn(train, census).select(col("doc_id"), col("is_fluent")),
      g = classifier.select(col("doc_id"), col("pass_classifier")),
      d = Corpus.decontaminateAgainstHashesOn(train, evalHashes)
        .select(col("doc_id"), col("keep").as("pass_decontam")),
      c = canon.select(col("doc_id"), col("is_canonical")))

  /** THE verdict expressions — (kept, drop_reason) from the six coalesced
    * gate bits, gate order = drop-reason priority. One definition shared
    * by the funnel tail and the manifest family's warehouse recomposition
    * ([[graft.ext.Corpus]] `funnelVerdictCols`), so a carried gate-bit
    * row recomposes to EXACTLY the one-shot funnel's verdict by
    * construction, not by parallel-maintained expression text. */
  private[ext] def verdictExprs(pq: org.apache.spark.sql.Column,
                                pr: org.apache.spark.sql.Column,
                                pf: org.apache.spark.sql.Column,
                                pg: org.apache.spark.sql.Column,
                                pd: org.apache.spark.sql.Column,
                                pc: org.apache.spark.sql.Column)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =
    (pq && pr && pf && pg && pd && pc,
      when(!pq, "quality").when(!pr, "repetition").when(!pf, "fluency")
        .when(!pg, "classifier").when(!pd, "contamination")
        .when(!pc, "duplicate"))

  /** The shared verdict-composition tail: quality/repetition are always
    * per-doc over the spine; fluency/decontamination/canonical plug in as
    * (doc_id, verdict) frames so the one-shot and frozen forms cannot
    * drift. */
  private def funnelTail(train: DataFrame, f: DataFrame, g: DataFrame,
                         d: DataFrame, c: DataFrame): DataFrame = {
    val q = Text.qualityFilterOn(train).select(col("doc_id"), lit(true).as("pass_quality"))
    val r = Text.repetitionStatsOn(train).select(col("doc_id"), col("keep").as("pass_repetition"))
    val pq = coalesce(col("pass_quality"), lit(false))
    val pr = coalesce(col("pass_repetition"), lit(false))
    val pf = coalesce(col("is_fluent"), lit(false))
    val pg = coalesce(col("pass_classifier"), lit(false))
    val pd = coalesce(col("pass_decontam"), lit(false))
    val pc = coalesce(col("is_canonical"), lit(false))
    val (kept, reason) = verdictExprs(pq, pr, pf, pg, pd, pc)
    train.select("doc_id", "lang", "source")
      .join(q, Seq("doc_id"), "left")
      .join(r, Seq("doc_id"), "left")
      .join(f, Seq("doc_id"), "left")
      .join(g, Seq("doc_id"), "left")
      .join(d, Seq("doc_id"), "left")
      .join(c, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        pq.as("pass_quality"), pr.as("pass_repetition"), pf.as("is_fluent"),
        pg.as("pass_classifier"), pd.as("pass_decontam"), pc.as("is_canonical"),
        kept.as("kept"), reason.as("drop_reason"))
  }

  /** [[funnelTail]] with the three model-gate verdicts arriving as ONE
    * fused frame (doc_id, is_fluent, pass_classifier, pass_decontam) —
    * three doc_id joins collapse to one; the rule gates, coalesce
    * defaults and [[verdictExprs]] are shared verbatim with the unfused
    * tail, so the two forms cannot drift. */
  private def funnelTailFused(train: DataFrame, fgd: DataFrame, c: DataFrame): DataFrame = {
    val q = Text.qualityFilterOn(train).select(col("doc_id"), lit(true).as("pass_quality"))
    val r = Text.repetitionStatsOn(train).select(col("doc_id"), col("keep").as("pass_repetition"))
    val pq = coalesce(col("pass_quality"), lit(false))
    val pr = coalesce(col("pass_repetition"), lit(false))
    val pf = coalesce(col("is_fluent"), lit(false))
    val pg = coalesce(col("pass_classifier"), lit(false))
    val pd = coalesce(col("pass_decontam"), lit(false))
    val pc = coalesce(col("is_canonical"), lit(false))
    val (kept, reason) = verdictExprs(pq, pr, pf, pg, pd, pc)
    train.select("doc_id", "lang", "source")
      .join(q, Seq("doc_id"), "left")
      .join(r, Seq("doc_id"), "left")
      .join(fgd, Seq("doc_id"), "left")
      .join(c, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        pq.as("pass_quality"), pr.as("pass_repetition"), pf.as("is_fluent"),
        pg.as("pass_classifier"), pd.as("pass_decontam"), pc.as("is_canonical"),
        kept.as("kept"), reason.as("drop_reason"))
  }

  /** Registered-query form: identical gate semantics to
    * [[curationFunnelOn]], but the fluency verdict rides
    * [[Text.lmFluency]]'s FROZEN heavy-gram census (train-once contract)
    * instead of re-running the census aggregation on every invocation —
    * the same routing as `t_ccnet_buckets`. */
  private def funnelFrozenRows(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val train = docs.filter(pmod(col("doc_id"), lit(10L)) =!= lit(Corpus.BenchSlice))
    // the three MODEL gates fused into ONE union + ONE doc_id aggregation
    // + ONE back-join ([[graft.ext.Corpus.gateVerdictsOn]], round 19 —
    // the build previously paid three explode→broadcast→agg→join
    // pipelines plus three joins). Bit-exact by the same argument the
    // manifest family's fusion carries (ManifestIncrSpec pins it
    // doc-for-doc against the standalone gates): each verdict reproduces
    // its operator's expression verbatim over order-free LONG sums, and
    // the frozen models are the identical artifacts the standalone rows
    // replay — the census, the weight table, and the full-pool
    // calibration pair, which IS the in-plan corpus-mean aggregate
    // [[graft.ext.Quality.qsScoreAgainstOn]] computes (both integer
    // sums over the identical scored pool, frozen under the train-once
    // contract like the weights themselves).
    val (thrTot, thrN) = Quality.frozenQsCalibration(spark, dir)
    val fgd = Corpus.gateVerdictsOn(train,
      Text.frozenFluencyCensus(spark, dir),
      Quality.frozenQsWeights(spark, dir), thrTot, thrN,
      Corpus.frozenEvalHashes(spark, dir))
    funnelTailFused(train, fgd,
      c = Text.fingerprintOn(docs)
        .select(col("doc_id"), (col("is_canonical") === lit(1L)).as("is_canonical")))
  }

  /** Materialized funnel verdict manifest, built once per corpus and read
    * back from parquet on every later invocation — the production shape: a
    * pipeline writes ONE keep/drop manifest table and every consumer (the
    * funnel listing, the co-fire diagnostic, the assembly manifest) reads
    * that table instead of re-running the six gate subplans. In-process it
    * lives in a temp dir keyed by corpus (the dup-cluster-manifest
    * pattern); at 100 TB it is the same write, pointed at the warehouse.
    * Corpus-sized, so never collected to the driver. */
  private val funnelManifestCache =
    new graft.ops.FrozenCaches.DirMemo[Unit, String]("funnel_manifest")

  private def frozenFunnelRows(spark: SparkSession, dir: String): DataFrame = {
    val path = funnelManifestCache.get(dir, ()) { base =>
      val p = s"$base/funnel.parquet"
      funnelFrozenRows(spark, dir).write.parquet(p)
      p
    }
    spark.read.parquet(path)
  }

  /** The frozen funnel verdict manifest — also the table other pipeline
    * stages read ([[graft.ext.Corpus.pipelineManifest]]), so a composed
    * pipeline can never disagree with the registered funnel. */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame =
    frozenFunnelRows(spark, dir)

  /** [[curationFunnelSql]] split across two snapshot relations: the three
    * trained gate models (fluency census, classifier weights+calibration,
    * eval shingle set) come from `model`, every verdict spine from `spine`
    * — the [[curationFunnelAgainstHashesOn]] frozen-artifact contract in
    * SQL. The exact-dup canonical gate stays on `spine`: canonicality is
    * membership, not model. `spine == model` degenerates to the
    * registered funnel's semantics. */
  def curationFunnelSqlFor(spine: String, model: String): String =
    s"""WITH spine AS (
       |  SELECT doc_id, lang, source FROM $spine
       |  WHERE doc_id % 10 <> ${Corpus.BenchSlice}),
       |fq AS (SELECT doc_id, TRUE AS pass_quality FROM (${Text.qualityFilterSqlFor(spine)})),
       |fr AS (SELECT doc_id, keep AS pass_repetition FROM (${Text.repetitionStatsSqlFor(spine)})),
       |ff AS (SELECT doc_id, is_fluent FROM (${Text.lmFluencySqlFor(spine, model)})),
       |fg AS (SELECT doc_id, keep AS pass_classifier FROM (${Quality.qsGateSqlFor(spine, model)})),
       |fd AS (SELECT doc_id, keep AS pass_decontam FROM (${Corpus.decontamSqlFor(spine, model)})),
       |fc AS (SELECT doc_id, is_canonical = 1 AS is_canonical FROM (${Text.fingerprintSqlFor(spine)}))
       |SELECT s.doc_id, s.lang, s.source,
       |       coalesce(fq.pass_quality, FALSE) AS pass_quality,
       |       coalesce(fr.pass_repetition, FALSE) AS pass_repetition,
       |       coalesce(ff.is_fluent, FALSE) AS is_fluent,
       |       coalesce(fg.pass_classifier, FALSE) AS pass_classifier,
       |       coalesce(fd.pass_decontam, FALSE) AS pass_decontam,
       |       coalesce(fc.is_canonical, FALSE) AS is_canonical,
       |       (coalesce(fq.pass_quality, FALSE) AND coalesce(fr.pass_repetition, FALSE)
       |        AND coalesce(ff.is_fluent, FALSE) AND coalesce(fg.pass_classifier, FALSE)
       |        AND coalesce(fd.pass_decontam, FALSE)
       |        AND coalesce(fc.is_canonical, FALSE)) AS kept,
       |       CASE WHEN NOT coalesce(fq.pass_quality, FALSE) THEN 'quality'
       |            WHEN NOT coalesce(fr.pass_repetition, FALSE) THEN 'repetition'
       |            WHEN NOT coalesce(ff.is_fluent, FALSE) THEN 'fluency'
       |            WHEN NOT coalesce(fg.pass_classifier, FALSE) THEN 'classifier'
       |            WHEN NOT coalesce(fd.pass_decontam, FALSE) THEN 'contamination'
       |            WHEN NOT coalesce(fc.is_canonical, FALSE) THEN 'duplicate'
       |            ELSE NULL END AS drop_reason
       |FROM spine s
       |LEFT JOIN fq ON s.doc_id = fq.doc_id
       |LEFT JOIN fr ON s.doc_id = fr.doc_id
       |LEFT JOIN ff ON s.doc_id = ff.doc_id
       |LEFT JOIN fg ON s.doc_id = fg.doc_id
       |LEFT JOIN fd ON s.doc_id = fd.doc_id
       |LEFT JOIN fc ON s.doc_id = fc.doc_id
       |ORDER BY s.doc_id""".stripMargin

  /** Oracle twin: the six REGISTERED oracle SQLs verbatim as subqueries
    * (subquery ORDER BYs are legal and ignored), joined on the train
    * spine. */
  lazy val curationFunnelSql: String =
    s"""WITH spine AS (
       |  SELECT doc_id, lang, source FROM documents
       |  WHERE doc_id % 10 <> ${Corpus.BenchSlice}),
       |fq AS (SELECT doc_id, TRUE AS pass_quality FROM (${Text.qualityFilterSql})),
       |fr AS (SELECT doc_id, keep AS pass_repetition FROM (${Text.repetitionStatsSql})),
       |ff AS (SELECT doc_id, is_fluent FROM (${Text.lmFluencySql})),
       |fg AS (SELECT doc_id, keep AS pass_classifier FROM (${Quality.qualityScoreSql})),
       |fd AS (SELECT doc_id, keep AS pass_decontam FROM (${Corpus.decontaminateSql})),
       |fc AS (SELECT doc_id, is_canonical = 1 AS is_canonical FROM (${Text.fingerprintSql}))
       |SELECT s.doc_id, s.lang, s.source,
       |       coalesce(fq.pass_quality, FALSE) AS pass_quality,
       |       coalesce(fr.pass_repetition, FALSE) AS pass_repetition,
       |       coalesce(ff.is_fluent, FALSE) AS is_fluent,
       |       coalesce(fg.pass_classifier, FALSE) AS pass_classifier,
       |       coalesce(fd.pass_decontam, FALSE) AS pass_decontam,
       |       coalesce(fc.is_canonical, FALSE) AS is_canonical,
       |       (coalesce(fq.pass_quality, FALSE) AND coalesce(fr.pass_repetition, FALSE)
       |        AND coalesce(ff.is_fluent, FALSE) AND coalesce(fg.pass_classifier, FALSE)
       |        AND coalesce(fd.pass_decontam, FALSE)
       |        AND coalesce(fc.is_canonical, FALSE)) AS kept,
       |       CASE WHEN NOT coalesce(fq.pass_quality, FALSE) THEN 'quality'
       |            WHEN NOT coalesce(fr.pass_repetition, FALSE) THEN 'repetition'
       |            WHEN NOT coalesce(ff.is_fluent, FALSE) THEN 'fluency'
       |            WHEN NOT coalesce(fg.pass_classifier, FALSE) THEN 'classifier'
       |            WHEN NOT coalesce(fd.pass_decontam, FALSE) THEN 'contamination'
       |            WHEN NOT coalesce(fc.is_canonical, FALSE) THEN 'duplicate'
       |            ELSE NULL END AS drop_reason
       |FROM spine s
       |LEFT JOIN fq ON s.doc_id = fq.doc_id
       |LEFT JOIN fr ON s.doc_id = fr.doc_id
       |LEFT JOIN ff ON s.doc_id = ff.doc_id
       |LEFT JOIN fg ON s.doc_id = fg.doc_id
       |LEFT JOIN fd ON s.doc_id = fd.doc_id
       |LEFT JOIN fc ON s.doc_id = fc.doc_id
       |ORDER BY s.doc_id""".stripMargin

  // --------------------------------------------------- gate co-fire report
  /** Joint distribution of the six gate verdicts — the funnel diagnostic
    * a pipeline owner reads before retuning thresholds: which gate
    * combinations co-fire (a pattern failing ONLY fluency suggests a
    * census problem; everything failing together suggests genuine junk).
    * One aggregate over the funnel's verdict bits: ≤2⁶ pattern rows with
    * doc counts and corpus shares (the share window is ≤64 rows by
    * construction, so the single-partition window is bounded). Oracle
    * embeds the funnel oracle — the report cannot drift from the verdicts
    * it summarizes. */
  def gatePatternsOn(docs: DataFrame): DataFrame =
    gatePatternsFrom(curationFunnelOn(docs))

  /** Pattern aggregation over an already-computed funnel frame — split so
    * the registered query can ride the frozen-census funnel. */
  def gatePatternsFrom(funnel: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).rowsBetween(Long.MinValue, Long.MaxValue)
    funnel
      .groupBy("pass_quality", "pass_repetition", "is_fluent",
        "pass_classifier", "pass_decontam", "is_canonical", "kept")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share",
        graft.ops.Num.r6(col("n_docs").cast("double") / sum(col("n_docs")).over(w)))
  }

  def gatePatterns(spark: SparkSession, dir: String): DataFrame =
    // rides the SAME materialized manifest as `t_curation_funnel`: the
    // suite pays the six gate subplans once per corpus, not once per
    // consumer (the round-10 driver bench measured the re-run at 7.23 s
    // vs 3.6-3.8 s isolated — this freeze removes the shape entirely)
    gatePatternsFrom(frozenFunnelRows(spark, dir))

  lazy val gatePatternsSql: String =
    s"""WITH fun AS (SELECT * FROM ($curationFunnelSql)),
       |g AS (
       |  SELECT pass_quality, pass_repetition, is_fluent, pass_classifier,
       |         pass_decontam, is_canonical, kept, count(*) AS n_docs
       |  FROM fun GROUP BY 1, 2, 3, 4, 5, 6, 7)
       |SELECT pass_quality, pass_repetition, is_fluent, pass_classifier,
       |       pass_decontam, is_canonical, kept, n_docs,
       |       ${graft.ops.Num.r6Sql("CAST(n_docs AS DOUBLE) / sum(n_docs) OVER ()")} AS share
       |FROM g
       |ORDER BY n_docs DESC, pass_quality, pass_repetition, is_fluent,
       |         pass_classifier, pass_decontam, is_canonical, kept""".stripMargin

  lazy val all: Seq[Q] = Seq(
    Q("t_curation_funnel", curationFunnel _, curationFunnelSql, col("doc_id")),
    // `kept` closes the sort key (ADVICE r16): it is in the GROUP BY, and
    // omitting it makes byte-stable order depend on kept staying a pure
    // function of the other gate bits — true today, not guaranteed
    Q("t_gate_patterns", gatePatterns _, gatePatternsSql,
      col("n_docs").desc, col("pass_quality"), col("pass_repetition"), col("is_fluent"),
      col("pass_classifier"), col("pass_decontam"), col("is_canonical"), col("kept")),
  )
}
