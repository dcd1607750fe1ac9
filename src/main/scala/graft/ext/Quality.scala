package graft.ext

import graft.Q
import graft.ops.Tables
import graft.ops.Num.{r6, r6Sql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Published web-corpus curation recipes as first-class operators — the
  * Gopher rule battery, C4 line-level cleaning, and CCNet-style
  * perplexity bucketing (beyond the reference surface; BASELINE.json
  * north-star). Complements [[Text.qualityFilterOn]] (the repo's own
  * composite heuristic) with the exact rule sets the public pipelines
  * documented, so a pipeline owner can reproduce those decisions and
  * diff them against the in-house gate.
  *
  * Scale shape: Gopher and C4 are pure row-local projections over
  * codegen'd array/regexp builtins — scan-bound, no shuffle, and safe to
  * run as a stateless pass inside a streaming ingest. CCNet bucketing
  * reuses the fluency census (one corpus-wide bigram agg + broadcast
  * rejoin) and adds a single per-language window sort whose key space is
  * |languages| partitions.
  */
object Quality {
  // ---------------------------------------------------------------------
  // Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
  // ... Gopher", Appendix A quality-filter heuristics — public recipe).
  // ---------------------------------------------------------------------
  val GopherMinWords = 50L
  val GopherMaxWords = 100000L
  val GopherMeanLenMin = 3.0
  val GopherMeanLenMax = 10.0
  val GopherSymbolRatioMax = 0.1
  val GopherBulletFracMax = 0.9
  val GopherEllipsisFracMax = 0.3
  val GopherAlphaFracMin = 0.8
  val GopherStopHitsMin = 2L
  /** Gopher's stop-word presence list (distinct-hit count, not frequency). */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Per-document Gopher rule bitmap: every rule's measured statistic plus
    * its boolean verdict, and the conjunction as `keep`. Ratios are
    * r6-rounded BEFORE the threshold compare so the Spark and DuckDB
    * verdicts flip on identical values. */
  def gopherRulesOn(docs: DataFrame): DataFrame = {
    val toks = Text.tokens(col("text"))
    val lines = split(col("text"), "\n")
    val base = docs
      .withColumn("n_words", size(toks).cast("long"))
      .withColumn("sum_len",
        aggregate(toks, lit(0L), (a, t) => a + length(t).cast("long")))
      .withColumn("n_sym",
        (regexp_count(col("text"), lit("#")) +
          regexp_count(col("text"), lit("\\.\\.\\."))).cast("long"))
      .withColumn("n_lines", size(lines).cast("long"))
      .withColumn("n_bullet",
        size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast("long"))
      .withColumn("n_ellip",
        size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("long"))
      .withColumn("n_alpha",
        size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long"))
      .withColumn("n_stop",
        size(filter(
          lit(GopherStops.toArray),
          s => array_contains(transform(toks, t => lower(t)), s))).cast("long"))
    val withRatios = base
      .withColumn("mean_word_len",
        r6(col("sum_len") / nullif(col("n_words"), lit(0L))))
      .withColumn("symbol_ratio",
        r6(col("n_sym") / nullif(col("n_words"), lit(0L))))
      // split() yields >= 1 element even on '', so n_lines never divides by 0
      .withColumn("bullet_frac", r6(col("n_bullet") / col("n_lines")))
      .withColumn("ellipsis_frac", r6(col("n_ellip") / col("n_lines")))
      .withColumn("alpha_frac",
        r6(col("n_alpha") / nullif(col("n_words"), lit(0L))))
    val rules = withRatios
      .withColumn("r_word_count",
        col("n_words").between(lit(GopherMinWords), lit(GopherMaxWords)))
      .withColumn("r_mean_len",
        coalesce(col("mean_word_len")
          .between(lit(GopherMeanLenMin), lit(GopherMeanLenMax)), lit(false)))
      .withColumn("r_symbol",
        coalesce(col("symbol_ratio") <= lit(GopherSymbolRatioMax), lit(false)))
      .withColumn("r_bullet", col("bullet_frac") < lit(GopherBulletFracMax))
      .withColumn("r_ellipsis", col("ellipsis_frac") < lit(GopherEllipsisFracMax))
      .withColumn("r_alpha",
        coalesce(col("alpha_frac") >= lit(GopherAlphaFracMin), lit(false)))
      .withColumn("r_stop", col("n_stop") >= lit(GopherStopHitsMin))
    rules.select(col("doc_id"), col("n_words"), col("mean_word_len"),
      col("symbol_ratio"), col("bullet_frac"), col("ellipsis_frac"),
      col("alpha_frac"), col("n_stop").as("n_stop_distinct"),
      col("r_word_count"), col("r_mean_len"), col("r_symbol"), col("r_bullet"),
      col("r_ellipsis"), col("r_alpha"), col("r_stop"),
      (col("r_word_count") && col("r_mean_len") && col("r_symbol") &&
        col("r_bullet") && col("r_ellipsis") && col("r_alpha") &&
        col("r_stop")).as("keep"))
  }

  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRulesOn(Tables.documents(spark, dir))

  private val stopListSql =
    GopherStops.map(s => s"'$s'").mkString("[", ", ", "]")

  lazy val gopherRulesSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, text, ${Text.tokensSql("text")} AS t,
       |         string_split(text, chr(10)) AS lines
       |  FROM documents),
       |base AS (
       |  SELECT doc_id,
       |         CAST(len(t) AS BIGINT) AS n_words,
       |         CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS BIGINT) AS sum_len,
       |         CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS n_sym,
       |         CAST(len(lines) AS BIGINT) AS n_lines,
       |         CAST(len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]'))) AS BIGINT) AS n_bullet,
       |         CAST(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$$'))) AS BIGINT) AS n_ellip,
       |         CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
       |         CAST(len(list_filter($stopListSql,
       |                  s -> list_contains(list_transform(t, x -> lower(x)), s))) AS BIGINT) AS n_stop
       |  FROM toks),
       |ratios AS (
       |  SELECT *,
       |         ${r6Sql("sum_len / nullif(n_words, 0)")} AS mean_word_len,
       |         ${r6Sql("n_sym / nullif(n_words, 0)")} AS symbol_ratio,
       |         ${r6Sql("n_bullet / n_lines")} AS bullet_frac,
       |         ${r6Sql("n_ellip / n_lines")} AS ellipsis_frac,
       |         ${r6Sql("n_alpha / nullif(n_words, 0)")} AS alpha_frac
       |  FROM base),
       |rules AS (
       |  SELECT *,
       |         n_words BETWEEN $GopherMinWords AND $GopherMaxWords AS r_word_count,
       |         coalesce(mean_word_len BETWEEN $GopherMeanLenMin AND $GopherMeanLenMax, FALSE) AS r_mean_len,
       |         coalesce(symbol_ratio <= $GopherSymbolRatioMax, FALSE) AS r_symbol,
       |         bullet_frac < $GopherBulletFracMax AS r_bullet,
       |         ellipsis_frac < $GopherEllipsisFracMax AS r_ellipsis,
       |         coalesce(alpha_frac >= $GopherAlphaFracMin, FALSE) AS r_alpha,
       |         n_stop >= $GopherStopHitsMin AS r_stop
       |  FROM ratios)
       |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
       |       ellipsis_frac, alpha_frac, n_stop AS n_stop_distinct,
       |       r_word_count, r_mean_len, r_symbol, r_bullet, r_ellipsis,
       |       r_alpha, r_stop,
       |       (r_word_count AND r_mean_len AND r_symbol AND r_bullet
       |        AND r_ellipsis AND r_alpha AND r_stop) AS keep
       |FROM rules ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // C4 line-level cleaning (Raffel et al. 2020, the C4 recipe — public).
  // ---------------------------------------------------------------------
  val C4MinLineWords = 5
  val C4MinSentences = 3

  /** C4 cleaning: keep only lines that end in terminal punctuation, have
    * >= C4MinLineWords words, and don't mention javascript; drop pages
    * with fewer than C4MinSentences surviving lines, a '{', or
    * 'lorem ipsum'. Pure array ops on the split lines — document order is
    * preserved and the pass never shuffles, so it composes into a
    * streaming ingest unchanged. (This corpus has single-line unpunctuated
    * docs, so every page fails — the rule mechanics are exercised on
    * synthetic multi-line docs in QualitySpec.) */
  def c4CleanOn(docs: DataFrame): DataFrame = {
    val lines = split(col("text"), "\n")
    val kept = filter(lines, l =>
      l.rlike("[.!?\"]\\s*$") &&
        size(filter(split(l, "\\s+"), t => t =!= lit(""))) >= lit(C4MinLineWords) &&
        !lower(l).contains("javascript"))
    docs
      .withColumn("n_lines", size(lines).cast("long"))
      .withColumn("kept_lines", kept)
      .withColumn("n_kept", size(col("kept_lines")).cast("long"))
      .withColumn("cleaned", array_join(col("kept_lines"), "\n"))
      .withColumn("has_lorem", lower(col("text")).contains("lorem ipsum"))
      .withColumn("has_brace", col("text").contains("{"))
      .select(col("doc_id"), col("lang"), col("n_lines"), col("n_kept"),
        length(col("cleaned")).cast("long").as("cleaned_len"),
        col("has_lorem"), col("has_brace"),
        (col("n_kept") >= lit(C4MinSentences.toLong) && !col("has_lorem") &&
          !col("has_brace")).as("keep"),
        col("cleaned"))
  }

  def c4Clean(spark: SparkSession, dir: String): DataFrame =
    c4CleanOn(Tables.documents(spark, dir))

  val c4CleanSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, lang, text, string_split(text, chr(10)) AS lines,
       |         list_filter(string_split(text, chr(10)), l ->
       |             regexp_matches(l, '[.!?"]\\s*$$')
       |             AND len(list_filter(string_split_regex(l, '\\s+'), t -> t <> '')) >= $C4MinLineWords
       |             AND NOT contains(lower(l), 'javascript')) AS kept
       |  FROM documents)
       |SELECT doc_id, lang,
       |       CAST(len(lines) AS BIGINT) AS n_lines,
       |       CAST(len(kept) AS BIGINT) AS n_kept,
       |       -- DuckDB array_to_string(empty) is NULL; Spark array_join is ''
       |       CAST(length(coalesce(array_to_string(kept, chr(10)), '')) AS BIGINT) AS cleaned_len,
       |       contains(lower(text), 'lorem ipsum') AS has_lorem,
       |       contains(text, '{') AS has_brace,
       |       (len(kept) >= $C4MinSentences
       |        AND NOT contains(lower(text), 'lorem ipsum')
       |        AND NOT contains(text, '{')) AS keep,
       |       coalesce(array_to_string(kept, chr(10)), '') AS cleaned
       |FROM base ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // CCNet-style per-language perplexity buckets (Wenzek et al. 2020 —
  // public recipe: score each doc with a LM, split each language into
  // head/middle/tail terciles, train preferentially on head).
  // ---------------------------------------------------------------------

  /** Tercile assignment over an already-scored fluency frame (the
    * [[Text.lmFluencyAgainstOn]] output schema) — split out so the
    * registered query can ride the FROZEN heavy-gram census instead of
    * re-running the census aggregation on every invocation. */
  def ccnetBucketsFrom(fluency: DataFrame): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(col("fluency").desc_nulls_last, col("doc_id"))
    fluency
      .filter(col("n_bigrams") > 0)
      .withColumn("tercile", ntile(3).over(w).cast("long"))
      .select(col("doc_id"), col("lang"), col("fluency"), col("tercile"),
        when(col("tercile") === 1, lit("head"))
          .when(col("tercile") === 2, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Per-language head/middle/tail terciles over the LM-fluency score
    * ([[Text.lmFluencyOn]] — higher = more common bigrams = CCNet's
    * lower-perplexity "head"). Docs with no bigrams carry no signal and
    * are excluded, exactly as CCNet scores only LM-scorable text. Ties
    * break on doc_id so the ntile boundary is deterministic on both
    * engines. */
  def ccnetBucketsOn(docs: DataFrame): DataFrame =
    ccnetBucketsFrom(Text.lmFluencyOn(docs))

  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame =
    ccnetBucketsFrom(Text.lmFluency(spark, dir))

  lazy val ccnetBucketsSql: String =
    s"""WITH fl AS (SELECT * FROM (${Text.lmFluencySql}) WHERE n_bigrams > 0),
       |b AS (
       |  SELECT doc_id, lang, fluency,
       |         ntile(3) OVER (PARTITION BY lang ORDER BY fluency DESC NULLS LAST, doc_id) AS tercile
       |  FROM fl)
       |SELECT doc_id, lang, fluency, tercile,
       |       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
       |            ELSE 'tail' END AS bucket
       |FROM b ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- head-heavy bucket sampling
  /** CCNet's actual training policy composed end-to-end: sample the corpus
    * head-heavy by perplexity bucket — head kept whole, middle half, tail a
    * quarter — with the same deterministic quarter-resolution hash-Bernoulli
    * arithmetic as `t_corpus_mix` (keep ⇔ hash%4 < rate_q; the hash salt
    * "ccmix:" decorrelates these decisions from every other sampling hash
    * in the repo). Emits the full decision manifest (keep flag per doc) so
    * downstream can either filter on it or audit per-bucket drop rates.
    * The oracle embeds the bucket oracle as a subquery — the sampled set
    * cannot drift from the bucketing it samples. Stateless per-row
    * arithmetic over the bucket table: no extra shuffle at any scale. */
  def ccnetMixFrom(buckets: DataFrame): DataFrame = {
    val h = Dedup.baseHash(concat(lit("ccmix:"), col("doc_id").cast("string")))
    buckets
      .withColumn("rate_q",
        when(col("bucket") === lit("head"), lit(4L))
          .when(col("bucket") === lit("middle"), lit(2L))
          .otherwise(lit(1L)))
      .withColumn("keep", pmod(h, lit(4L)) < col("rate_q"))
      .select(col("doc_id"), col("lang"), col("bucket"), col("rate_q"), col("keep"))
  }

  def ccnetMixOn(docs: DataFrame): DataFrame =
    ccnetMixFrom(ccnetBucketsFrom(Text.lmFluencyOn(docs)))

  def ccnetMix(spark: SparkSession, dir: String): DataFrame =
    ccnetMixFrom(ccnetBucketsFrom(Text.lmFluency(spark, dir)))

  lazy val ccnetMixSql: String = {
    val h = Dedup.baseHashSql("('ccmix:' || CAST(doc_id AS VARCHAR))")
    s"""WITH cb AS (SELECT * FROM (${ccnetBucketsSql}))
       |SELECT doc_id, lang, bucket,
       |       CAST(CASE bucket WHEN 'head' THEN 4 WHEN 'middle' THEN 2 ELSE 1 END AS BIGINT) AS rate_q,
       |       ($h % 4) < (CASE bucket WHEN 'head' THEN 4 WHEN 'middle' THEN 2 ELSE 1 END) AS keep
       |FROM cb ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Trained quality classifier (fastText-style hashed linear model —
  // Joulin et al. 2016, arXiv:1607.01759; the GPT-3/LLaMA-recipe
  // "classifier against a curated reference corpus" curation step).
  // ---------------------------------------------------------------------
  /** The rule gates above are hand-written; this is the LEARNED gate: a
    * linear model over hashed unigram+bigram features, trained from a
    * labeled slice (positive = the curated reference source `src0`, the
    * DSIR target convention; negative = the rest of the pool), scoring
    * every document and keeping those above the CORPUS-MEAN score — the
    * deterministic analog of the GPT-3 recipe's Pareto-threshold
    * subsampling (an absolute score>0 gate is miscalibrated whenever the
    * class priors are skewed; the relative gate self-calibrates). The
    * mean compare is cross-multiplied (score·n &gt; Σscores) in
    * decimal(38,0)/HUGEINT, so the boundary stays integer-exact with no
    * division anywhere.
    *
    * Weights are Laplace-smoothed class-frequency differences in 2^-20
    * fixed point — `floor(S·(pc+1)/(pt+B)) − floor(S·(nc+1)/(nt+B))` per
    * bucket, INTEGER end to end (the DSIR determinism discipline), so the
    * decision boundary is bit-exact across engines with no log() anywhere.
    * This is the monotone stand-in for trained logistic weights: fastText
    * the product also starts from bag-of-hashed-ngram class statistics;
    * swapping in SGD-trained floats changes only the weight table.
    *
    * Scale shape: training is ONE map-side-combinable aggregate over
    * (bucket) with a [[QsBuckets]]-row output that freezes per corpus and
    * BROADCASTS; scoring rescans the pool, joins each feature to the
    * broadcast table, and sums per doc — one (doc_id) shuffle carrying
    * (doc_id, long). The weight table enumerates ALL buckets (range ⟕
    * counts), so scoring never drops an unseen feature at deployment. */
  val QsBuckets = 1024
  val QsScaleBits = 20
  val QsPosSource = "src0"

  private def qsFeatures(docs: DataFrame): DataFrame = {
    val toks = Text.tokens(col("text"))
    docs.select(col("doc_id"), col("source"),
        explode(concat(toks, Text.ngrams(toks, 2))).as("f"))
      .withColumn("b", pmod(Dedup.baseHash(col("f")), lit(QsBuckets.toLong)))
  }

  /** The complete bucket-weight table (one row per bucket 0..B-1). */
  def qsWeightsOn(docs: DataFrame, posSource: String = QsPosSource): DataFrame = {
    val counts = qsFeatures(docs).groupBy("b").agg(
      sum(when(col("source") === lit(posSource), 1L).otherwise(0L)).as("pc"),
      sum(when(col("source") =!= lit(posSource), 1L).otherwise(0L)).as("nc"))
    val tot = counts.agg(sum(col("pc")).as("pt"), sum(col("nc")).as("nt"))
    docs.sparkSession.range(QsBuckets).select(col("id").as("b"))
      .join(counts, Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("b"), expr(
        s"((coalesce(pc, 0) + 1) * ${1L << QsScaleBits}) div (pt + $QsBuckets)" +
          s" - ((coalesce(nc, 0) + 1) * ${1L << QsScaleBits}) div (nt + $QsBuckets)").as("w"))
  }

  /** Score a pool against a FIXED weight table (the deployment entry
    * point). The gate's threshold — the corpus-mean score — is one
    * (sum, count) aggregate broadcast back over the scored frame: O(1)
    * threshold state regardless of corpus size (a median would need a
    * corpus-wide value collection). */
  def qsScoreAgainstOn(docs: DataFrame, weights: DataFrame): DataFrame = {
    // two consumers (threshold aggregate + final projection): checkpoint so
    // the feature explode + broadcast join + per-doc aggregate runs ONCE.
    // localCheckpoint, not persist — blocks free via the ContextCleaner when
    // the frame is unreferenced, so library callers don't accumulate cache
    // entries they can only drop with clearCache() (the sourceDriftOn fix,
    // upgraded per the round-10 advice). Trade: no lineage fallback, unsafe
    // under dynamic allocation — see [[graft.ext.Corpus.scd2HistoryOn]]'s
    // note ([[graft.ext.Dedup.dupClustersOn]] documents the same trade and
    // the persist() alternative for dynamic-allocation cluster callers).
    val scored = qsRawScores(docs, weights).localCheckpoint(eager = false)
    val thr = scored.agg(sum(col("score")).as("tot_score"),
      count(lit(1)).as("n_tot"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("lang"), col("source"), col("n_feats"), col("score"),
        (col("score").cast("decimal(38,0)") * col("n_tot").cast("decimal(38,0)")
          > col("tot_score").cast("decimal(38,0)")).as("keep"))
  }

  def qualityScoreOn(docs: DataFrame, posSource: String = QsPosSource): DataFrame =
    qsScoreAgainstOn(docs, qsWeightsOn(docs, posSource))

  /** Raw per-doc scores against fixed weights (no gate): (doc_id, lang,
    * source, n_feats, score). Package-visible so PlanSpec can pin the
    * scoring plan itself — the public gate checkpoints it, so the final
    * frame's plan no longer shows the scoring subtree. */
  private[graft] def qsRawScores(docs: DataFrame, weights: DataFrame): DataFrame = {
    val scores = qsFeatures(docs)
      .join(broadcast(weights.select(col("b"), col("w"))), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum(col("w")).as("score"))
    docs.select(col("doc_id"), col("lang"), col("source"))
      .join(scores, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  /** The frozen calibration pair (Σscores, n) of a scored population —
    * collected once at train time (two longs), then any amount of pool
    * gates against it via [[qsKeepWithThreshold]]: the deployment /
    * streaming form, where the threshold must NOT drift per batch. */
  def qsThresholdOn(docs: DataFrame, weights: DataFrame): (Long, Long) = {
    val r = qsRawScores(docs, weights)
      .agg(sum(col("score")), count(lit(1))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  /** Gate a pool against FIXED weights and a FIXED calibration pair:
    * keep ⟺ score·n_cal &gt; Σ_cal (cross-multiplied, integer-exact).
    * Stateless per micro-batch of [[graft.streaming.Streams.eachBatch]]. */
  def qsKeepWithThreshold(docs: DataFrame, weights: DataFrame,
                          totScore: Long, nTot: Long): DataFrame =
    qsRawScores(docs, weights)
      .select(col("doc_id"),
        (col("score").cast("decimal(38,0)") * lit(nTot).cast("decimal(38,0)")
          > lit(totScore).cast("decimal(38,0)")).as("pass_classifier"))

  /** Frozen weight table per (corpus, positive source) — [[QsBuckets]]
    * integer rows, train-once (the DSIR-weights convention). */
  private val qsWeightsCache =
    new graft.ops.FrozenCaches.Memo[String, Seq[(Long, Long)]](label = "qs_weights")

  /** Frozen full-pool calibration pair (Σscores, n) against the frozen
    * weights — the classifier model's second half under the train-once
    * contract (the manifest family already freezes its own pair at base
    * time; this is the same convention for full-corpus consumers like the
    * funnel build). Bit-exact vs the in-plan aggregate: both are integer
    * sums over the identical scored pool. */
  private val qsCalibrationCache =
    new graft.ops.FrozenCaches.Memo[String, (Long, Long)](label = "qs_calibration")

  private[ext] def frozenQsCalibration(spark: SparkSession, dir: String): (Long, Long) =
    qsCalibrationCache.get(dir, QsPosSource) {
      qsThresholdOn(Tables.documents(spark, dir), frozenQsWeights(spark, dir))
    }

  private[ext] def frozenQsWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val rows = qsWeightsCache.get(dir, QsPosSource) {
      val ws = qsWeightsOn(docs, QsPosSource).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1)))
      // full-coverage invariant, checked where the table is created
      // (round-18 advisory): [[graft.ext.Corpus.gateVerdictsOn]]'s fused
      // left join reproduces the gate's original inner join ONLY because
      // the weight table enumerates every bucket ([[qsWeightsOn]] spines
      // on range(QsBuckets)); a sparse table would flip verdicts silently.
      require(ws.size == QsBuckets && ws.map(_._1).toSet == (0L until QsBuckets.toLong).toSet,
        s"frozen weight table must cover all $QsBuckets buckets, got ${ws.size}")
      ws
    }
    import docs.sparkSession.implicits._
    rows.toDF("b", "w")
  }

  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qsScoreAgainstOn(Tables.documents(spark, dir), frozenQsWeights(spark, dir))

  /** Calibration / reliability table of the trained classifier — the
    * model-eval step completing the train → score → eval triangle (the
    * classifier's [[langIdConfusionOn]] analog): scored docs bucket into
    * ten equi-width SCORE ranges and each bucket reports how often the
    * positive label ([[QsPosSource]] membership — the label the model was
    * trained on) actually occurs. A monotone pos_rate over buckets is
    * what "higher score = more reference-like" means operationally; a
    * flat or folded curve is the retrain signal.
    *
    * Equi-width integer buckets, NOT rank deciles: deciles need a global
    * sort (one corpus-sized window partition — the anti-pattern); the
    * range bucket is one broadcast (lo, hi) pair and pure integer
    * arithmetic, identical on both engines. */
  def qualityCalibrationFrom(scored: DataFrame,
                             posSource: String = QsPosSource): DataFrame = {
    // same two-consumer shape as the gate: the bounds pass and the bucket
    // aggregate must not re-run the upstream scoring job
    val sc = scored.localCheckpoint(eager = false)
    val bounds = sc.agg(min("score").as("lo"), max("score").as("hi"))
    sc.crossJoin(broadcast(bounds))
      .withColumn("bucket", least(lit(9L), expr("((score - lo) * 10) div (hi - lo + 1)")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("source") === lit(posSource), 1L).otherwise(0L)).as("n_pos"),
        min("score").as("min_score"), max("score").as("max_score"))
      .select(col("bucket"), col("n_docs"), col("n_pos"),
        r6(col("n_pos") / col("n_docs").cast("double")).as("pos_rate"),
        col("min_score"), col("max_score"))
  }

  def qualityCalibrationOn(docs: DataFrame, posSource: String = QsPosSource): DataFrame =
    qualityCalibrationFrom(qsRawScores(docs, qsWeightsOn(docs, posSource)), posSource)

  def qualityCalibration(spark: SparkSession, dir: String): DataFrame =
    qualityCalibrationFrom(
      qsRawScores(Tables.documents(spark, dir), frozenQsWeights(spark, dir)))

  /** Shared CTE chain ending in relation `scored` (doc_id, lang, source,
    * n_feats, score) — the trained model + scoring pass, used verbatim by
    * the gate oracle and the calibration oracle so the two cannot drift. */
  private lazy val qsScoredCtesSql: String = {
    val s = 1L << QsScaleBits
    s"""src AS (SELECT doc_id, source, ${Text.tokensSql("text")} AS t FROM documents),
       |f AS MATERIALIZED (
       |  SELECT s.doc_id, s.source,
       |         ${Dedup.baseHashSql("u.f")} % $QsBuckets AS b
       |  FROM src s, unnest(list_concat(s.t, ${Text.ngramsSql("s.t", 2)})) AS u(f)),
       |cnt AS (
       |  SELECT b, sum(CASE WHEN source = '$QsPosSource' THEN 1 ELSE 0 END) AS pc,
       |         sum(CASE WHEN source <> '$QsPosSource' THEN 1 ELSE 0 END) AS nc
       |  FROM f GROUP BY b),
       |tot AS (SELECT sum(pc) AS pt, sum(nc) AS nt FROM cnt),
       |w AS MATERIALIZED (
       |  SELECT r.b,
       |         ((coalesce(c.pc, 0) + 1) * $s) // (t.pt + $QsBuckets)
       |         - ((coalesce(c.nc, 0) + 1) * $s) // (t.nt + $QsBuckets) AS w
       |  FROM (SELECT unnest(range(0, $QsBuckets)) AS b) r
       |       LEFT JOIN cnt c ON r.b = c.b CROSS JOIN tot t),
       |sc AS (
       |  SELECT f.doc_id, count(*) AS n_feats, CAST(sum(w.w) AS BIGINT) AS score
       |  FROM f JOIN w ON f.b = w.b GROUP BY 1),
       |scored AS MATERIALIZED (
       |  SELECT d.doc_id, d.lang, d.source,
       |         CAST(coalesce(sc.n_feats, 0) AS BIGINT) AS n_feats,
       |         CAST(coalesce(sc.score, 0) AS BIGINT) AS score
       |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id)""".stripMargin
  }

  lazy val qualityScoreSql: String =
    s"""WITH $qsScoredCtesSql,
       |thr AS (SELECT CAST(sum(score) AS HUGEINT) AS tot_score,
       |               CAST(count(*) AS HUGEINT) AS n_tot FROM scored)
       |SELECT s.doc_id, s.lang, s.source, s.n_feats, s.score,
       |       CAST(s.score AS HUGEINT) * t.n_tot > t.tot_score AS keep
       |FROM scored s CROSS JOIN thr t
       |ORDER BY s.doc_id""".stripMargin

  /** [[qualityScoreSql]] split across two snapshot relations: weights AND
    * the corpus-mean calibration pair (Σscores, n) train on `model`, the
    * scoring spine is `spine` — the [[qsKeepWithThreshold]] deployment
    * contract in SQL (a refreshed snapshot judged against the frozen
    * classifier; retraining per delta would move EVERY document's verdict,
    * which is why the frozen form is the only delta-boundable semantics).
    * `spine == model` degenerates to the registered gate. */
  def qsGateSqlFor(spine: String, model: String): String = {
    val s = 1L << QsScaleBits
    s"""WITH msrc AS (SELECT doc_id, source, ${Text.tokensSql("text")} AS t FROM $model),
       |mf AS MATERIALIZED (
       |  SELECT s.doc_id, s.source,
       |         ${Dedup.baseHashSql("u.f")} % $QsBuckets AS b
       |  FROM msrc s, unnest(list_concat(s.t, ${Text.ngramsSql("s.t", 2)})) AS u(f)),
       |cnt AS (
       |  SELECT b, sum(CASE WHEN source = '$QsPosSource' THEN 1 ELSE 0 END) AS pc,
       |         sum(CASE WHEN source <> '$QsPosSource' THEN 1 ELSE 0 END) AS nc
       |  FROM mf GROUP BY b),
       |tot AS (SELECT sum(pc) AS pt, sum(nc) AS nt FROM cnt),
       |w AS MATERIALIZED (
       |  SELECT r.b,
       |         ((coalesce(c.pc, 0) + 1) * $s) // (t.pt + $QsBuckets)
       |         - ((coalesce(c.nc, 0) + 1) * $s) // (t.nt + $QsBuckets) AS w
       |  FROM (SELECT unnest(range(0, $QsBuckets)) AS b) r
       |       LEFT JOIN cnt c ON r.b = c.b CROSS JOIN tot t),
       |msc AS (
       |  SELECT mf.doc_id, CAST(sum(w.w) AS BIGINT) AS score
       |  FROM mf JOIN w ON mf.b = w.b GROUP BY 1),
       |thr AS (
       |  SELECT CAST(sum(coalesce(msc.score, 0)) AS HUGEINT) AS tot_score,
       |         CAST(count(*) AS HUGEINT) AS n_tot
       |  FROM $model d LEFT JOIN msc ON d.doc_id = msc.doc_id),
       |ssrc AS (SELECT doc_id, ${Text.tokensSql("text")} AS t FROM $spine),
       |sf AS (
       |  SELECT s.doc_id, ${Dedup.baseHashSql("u.f")} % $QsBuckets AS b
       |  FROM ssrc s, unnest(list_concat(s.t, ${Text.ngramsSql("s.t", 2)})) AS u(f)),
       |ssc AS (
       |  SELECT sf.doc_id, count(*) AS n_feats, CAST(sum(w.w) AS BIGINT) AS score
       |  FROM sf JOIN w ON sf.b = w.b GROUP BY 1),
       |sscored AS (
       |  SELECT d.doc_id, d.lang, d.source,
       |         CAST(coalesce(ssc.n_feats, 0) AS BIGINT) AS n_feats,
       |         CAST(coalesce(ssc.score, 0) AS BIGINT) AS score
       |  FROM $spine d LEFT JOIN ssc ON d.doc_id = ssc.doc_id)
       |SELECT s.doc_id, s.lang, s.source, s.n_feats, s.score,
       |       CAST(s.score AS HUGEINT) * t.n_tot > t.tot_score AS keep
       |FROM sscored s CROSS JOIN thr t
       |ORDER BY s.doc_id""".stripMargin
  }

  lazy val qualityCalibrationSql: String =
    s"""WITH $qsScoredCtesSql,
       |bounds AS (SELECT min(score) AS lo, max(score) AS hi FROM scored),
       |bucketed AS (
       |  SELECT least(9, ((s.score - b.lo) * 10) // (b.hi - b.lo + 1)) AS bucket,
       |         s.score, s.source
       |  FROM scored s CROSS JOIN bounds b)
       |SELECT CAST(bucket AS BIGINT) AS bucket,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN source = '$QsPosSource' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |       ${r6Sql(s"sum(CASE WHEN source = '$QsPosSource' THEN 1 ELSE 0 END) * 1.0 / count(*)")} AS pos_rate,
       |       min(score) AS min_score, max(score) AS max_score
       |FROM bucketed GROUP BY 1 ORDER BY 1""".stripMargin

  lazy val all: Seq[Q] = Seq(
    Q("t_gopher_rules", gopherRules _, gopherRulesSql, col("doc_id")),
    Q("t_c4_clean", c4Clean _, c4CleanSql, col("doc_id")),
    Q("t_ccnet_buckets", ccnetBuckets _, ccnetBucketsSql, col("doc_id")),
    Q("t_ccnet_mix", ccnetMix _, ccnetMixSql, col("doc_id")),
    Q("t_quality_score", qualityScore _, qualityScoreSql, col("doc_id")),
    Q("t_quality_calibration", qualityCalibration _, qualityCalibrationSql, col("bucket")),
  )
}
