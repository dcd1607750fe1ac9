package graft.ext

import graft.Q
import graft.ops.Tables
import graft.ops.Num.{r6, r6Sql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity over `embeddings.embedding: array<float>` — the
  * similarity-search leg of a training-data pipeline (near-dup blocking,
  * semantic retrieval, ANN top-k).
  *
  * All math is double-precision left-to-right folds over the array, built
  * from the codegen'd higher-order builtins `zip_with`/`aggregate` — no UDF,
  * no driver collect. DuckDB's `list_sum(list_transform(...))` evaluates the
  * identical left-associated sum, so the oracle compares bit-identical
  * doubles before the shared round-to-6 step.
  *
  * Scale: brute-force top-k is the O(n·q) baseline — fine when the query set
  * is a broadcast-able sample; the sign-LSH bucketed variant bounds each
  * probe to one bucket's candidates (near-linear), the same plan shape an
  * IVF index produces with learned centroids instead of coordinate
  * hyperplanes.
  */
object Similarity {
  /** dot(a,b) as a sequential fold in double precision — the reference
    * semantics; [[fastDot]] is the codegen'd equivalent used in hot paths
    * (SimilaritySpec asserts bit-equality between the two). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Native [[graft.functions.FloatDot]] — same doubles, no per-row array
    * allocation. Requires [[graft.functions.GraftFunctions.register]]. */
  def fastDot(a: Column, b: Column): Column = call_function("float_dot", a, b)

  /** DuckDB twin: 1-based list indexing, same left-to-right summation. */
  def dotSql(a: String, b: String): String =
    s"coalesce(list_sum(list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), 0.0)"

  def norm(a: Column): Column = sqrt(dot(a, a))
  def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  /** Adds the L2 norm (`nrm`) so cosine = dot / (nrm_l * nrm_r) reuses one
    * pass per vector instead of recomputing per pair. */
  def withNorm(embeddings: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    embeddings.withColumn("nrm", sqrt(fastDot(col("embedding"), col("embedding"))))
  }

  /** Fixed, corpus-independent probe budget for the exact-rank eval rows
    * (brute-force truth, recall/nprobe monitors, hard negatives): the
    * [[ProbeBudget]] vec_ids with the smallest salted hashes ("probe:"
    * decorrelates the pick from every other hash decision in the repo),
    * vec_id tiebreak — the `t_stratified_sample` pick rule. Unlike the
    * stride sample this replaced (probes = n/stride → exact scoring
    * O(n²/stride)), the budget is a CONSTANT under corpus growth: eval
    * cost stays O(n·K) at any scale, and the probe set only churns when a
    * NEW vector's hash enters the smallest-K — an existing non-probe can
    * never displace a probe (SimilaritySpec pins both properties). */
  val ProbeBudget = 20
  private val TopK = 5

  /** Salted 28-bit probe-pick key. Twin of [[Dedup.baseHash]], inlined so
    * Similarity's strict `…Sql` vals never trigger a cross-object
    * initializer (the init-order folding class RegistrySpec guards). */
  private def probeKey(id: Column): Column =
    conv(substring(md5(concat(lit("probe:"), id.cast("string"))), 1, 7), 16, 10).cast("long")
  private def probeKeySql(id: String): String =
    s"('0x' || substr(md5('probe:' || $id), 1, 7))::BIGINT"

  /** Filters `df` to the rows of the fixed probe set over its `idCol`
    * values: one id-distinct exchange (8-byte rows — the only corpus-wide
    * movement, and it makes the pick correct on exploded frames: the
    * per-subspace PQ frame picks the same vectors as the base frame),
    * then a per-partition top-K on the pick key (TakeOrderedAndProject —
    * never a full sort) and a broadcast semi join back. */
  def probeFilter(df: DataFrame, idCol: String = "vec_id"): DataFrame = {
    val ids = df.select(col(idCol)).distinct()
      .orderBy(probeKey(col(idCol)), col(idCol)).limit(ProbeBudget)
    df.join(broadcast(ids), Seq(idCol), "left_semi")
  }

  /** The probe-id pick of `df` as its own frame — compute it ONCE per
    * query invocation and hand it to every probe-filtered subplan
    * ([[probeFilterWith]]) so a query composing several such frames (the
    * PQ chain probe-filters three: the LUT build, the query table, the
    * re-rank vectors) pays the id-distinct pick once, not once per
    * consumer (round 18). LAZILY checkpointed (≤ [[ProbeBudget]] rows):
    * the first consuming action materializes it once and later consumers
    * read the copy — an eager checkpoint would run a Spark job at frame
    * CONSTRUCTION, a behavior change for callers that build plans
    * without executing them (round 19, advisory). Identical pick to
    * [[probeFilter]]'s by construction (same distinct, same key, same
    * tiebreak, same budget). */
  private def probeIds(df: DataFrame, idCol: String = "vec_id"): DataFrame =
    df.select(col(idCol)).distinct()
      .orderBy(probeKey(col(idCol)), col(idCol)).limit(ProbeBudget)
      .localCheckpoint(eager = false)

  /** [[probeFilter]] when no shared pick is in play, [[probeFilterWith]]
    * against the caller's pick otherwise — the seam that lets one
    * composed query (`s_knn_recall` runs all six ANN variants) pay the
    * probe pick once instead of once per variant (round 19). The pick is
    * interchangeable by construction: every variant's frame carries the
    * same distinct vec_id set, and [[probeIds]]/[[probeFilter]] compute
    * the identical smallest-[[ProbeBudget]] pick over it. */
  private def pickFilter(df: DataFrame, pids: Option[DataFrame],
                         idCol: String = "vec_id"): DataFrame =
    pids.map(probeFilterWith(df, _, idCol)).getOrElse(probeFilter(df, idCol))

  /** [[probeFilter]] against an already-picked id frame (must be the
    * [[probeIds]] of a frame with the SAME id set). */
  private def probeFilterWith(df: DataFrame, ids: DataFrame, idCol: String = "vec_id"): DataFrame =
    df.join(broadcast(ids.toDF(idCol)), Seq(idCol), "left_semi")

  /** Oracle twin of [[probeFilter]]: a membership predicate against the
    * identical pick (DISTINCT ids of `tbl`, smallest-[[ProbeBudget]] by
    * salted hash, id tiebreak). */
  def probeInSql(outerId: String, tbl: String, innerId: String = "vec_id"): String =
    s"$outerId IN (SELECT $innerId FROM (SELECT DISTINCT $innerId FROM $tbl) " +
      s"ORDER BY ${probeKeySql(innerId)}, $innerId LIMIT $ProbeBudget)"

  /** The fixed eval probe set as a first-class MANIFEST table
    * (probe_rank, vec_id) — the pick every exact-rank eval row draws from,
    * directly hash-verified instead of only indirectly through its eleven
    * consumers. An eval-infra owner reads (and ships) this table to know
    * exactly which vectors every recall series is measured on. */
  def probeSetOn(embeddings: DataFrame): DataFrame = {
    val w = Window.orderBy(col("pkey"), col("vec_id"))
    embeddings.select(col("vec_id"))
      .withColumn("pkey", probeKey(col("vec_id")))
      .orderBy(col("pkey"), col("vec_id")).limit(ProbeBudget)
      // global window over the ≤ ProbeBudget surviving rows only
      .withColumn("probe_rank", row_number().over(w).cast("long"))
      .select(col("probe_rank"), col("vec_id"))
  }

  def probeSet(spark: SparkSession, dir: String): DataFrame =
    probeSetOn(Tables.embeddings(spark, dir))

  val probeSetSql: String =
    s"""SELECT CAST(row_number() OVER (ORDER BY ${probeKeySql("vec_id")}, vec_id) AS BIGINT) AS probe_rank,
       |       vec_id
       |FROM embeddings ORDER BY probe_rank LIMIT $ProbeBudget""".stripMargin

  /** Brute-force cosine top-k: probe set × corpus, rank per probe, keep k.
    * The O(n·q) baseline every ANN variant is measured against. At scale the
    * probe side broadcasts and the corpus streams — one scan, no shuffle
    * until the tiny per-probe top-k. */
  def knnBruteForceOn(embeddings: DataFrame,
                      pids: Option[DataFrame] = None): DataFrame = {
    val e = withNorm(embeddings)
    val queries = pickFilter(e, pids)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = e.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("cos", fastDot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long")) // DuckDB ranks are BIGINT
      .filter(col("rank") <= lit(TopK))
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"), r6(col("cos")).as("cosine"))
  }

  def knnBruteForce(spark: SparkSession, dir: String): DataFrame =
    knnBruteForceOn(Tables.embeddings(spark, dir))

  lazy val knnBruteForceSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm FROM e WHERE ${probeInSql("vec_id", "e")}),
       |scored AS (
       |  SELECT q.q_id, e.vec_id,
       |         ${dotSql("q.q_emb", "e.embedding")} / (q.q_nrm * e.nrm) AS cos
       |  FROM e JOIN q ON e.vec_id <> q.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id,  cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT q_id, rank, vec_id AS neighbor_id, ${r6Sql("cos")} AS cosine
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  /** Sign-LSH bits of `nPlanes` coordinates starting at `offset` — the
    * coordinate-hyperplane random projection used as the ANN bucket key.
    * `nPlanes` is the precision/recall knob (bucket space 2^nPlanes);
    * `offset` lets multi-band callers slice disjoint coordinate windows
    * (band j = planes [j·nPlanes, (j+1)·nPlanes)). */
  private val NPlanes = 4

  /** NULL when the plane window runs past the vector's end — a join on the
    * bucket then produces NO candidates instead of silently collapsing all
    * out-of-range vectors into one quadratic mega-bucket (and instead of
    * an ANSI-mode index error). */
  def signBucket(emb: Column, nPlanes: Int = NPlanes, offset: Int = 0): Column =
    when(size(emb) >= lit(offset + nPlanes),
      (0 until nPlanes).map(i =>
        when(element_at(emb, offset + i + 1) > lit(0.0f), lit(1L << i)).otherwise(lit(0L))).reduce(_ + _))

  def signBucketSql(emb: String, nPlanes: Int = NPlanes, offset: Int = 0): String = {
    val bits = (0 until nPlanes)
      .map(i => s"(CASE WHEN $emb[${offset + i + 1}] > 0.0 THEN ${1L << i} ELSE 0 END)")
      .reduce((a, b) => s"($a + $b)")
    s"(CASE WHEN len($emb) >= ${offset + nPlanes} THEN $bits END)"
  }

  /** LSH-bucketed ANN: probes only compare against corpus vectors in the
    * same sign bucket — the IVF plan shape (cells = buckets), recall bounded
    * by bucket collisions. Per-probe ranking and top-k as in brute force. */
  def knnLshOn(embeddings: DataFrame, pids: Option[DataFrame] = None): DataFrame = {
    val e = withNorm(embeddings)
      .withColumn("bucket", signBucket(col("embedding")))
    val queries = pickFilter(e, pids)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("bucket").as("q_bucket"))
    val scored = e.join(broadcast(queries),
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
      .withColumn("cos", fastDot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long")) // DuckDB ranks are BIGINT
      .filter(col("rank") <= lit(TopK))
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"), r6(col("cos")).as("cosine"))
  }

  def knnLsh(spark: SparkSession, dir: String): DataFrame =
    knnLshOn(Tables.embeddings(spark, dir))

  lazy val knnLshSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm,
       |         ${signBucketSql("embedding")} AS bucket
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm, bucket AS q_bucket
       |      FROM e WHERE ${probeInSql("vec_id", "e")}),
       |scored AS (
       |  SELECT q.q_id, e.vec_id,
       |         ${dotSql("q.q_emb", "e.embedding")} / (q.q_nrm * e.nrm) AS cos
       |  FROM e JOIN q ON e.bucket = q.q_bucket AND e.vec_id <> q.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT q_id, rank, vec_id AS neighbor_id, ${r6Sql("cos")} AS cosine
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  /** IVF-style ANN: cells = per-label centroids (the learned coarse
    * quantizer slot — k-means centroids plug in here unchanged), each probe
    * ranks cells by centroid cosine and searches only the top `NProbe`
    * cells. This is the scale path for similarity search: at 100 TB the
    * centroid table stays tiny (broadcast), the corpus is scanned once with
    * its cell id, and each probe's candidate set is bounded by nprobe/ncells
    * of the corpus instead of all of it.
    *
    * Determinism: centroid components are group-sums of doubles whose
    * accumulation order differs between Spark (partial aggregates) and the
    * sequential oracle, so cell ranking uses the 9-decimal-rounded cosine
    * ([[graft.ops.Num.r9]]) with the cell id as tiebreak; candidate cosines
    * are sequential folds (bit-deterministic) as in the other knn variants.
    */
  private val NProbe = 2

  /** embeddings.parquet vectors are 64-dim — used only to spell out the
    * testdata-specific ORACLE SQL; the engine side never needs the width
    * (the [[graft.functions.VecSum]] aggregate takes it from the data). */
  val Dims = 64

  /** Per-label mean vector with count — shared by [[labelCentroids]] and
    * [[knnIvf]] so the two can never drift. One scan + one k×d shuffle via
    * the typed vector-sum aggregate; no driver action, no per-dim
    * expression expansion. */
  def centroidsOn(embeddings: DataFrame): DataFrame = {
    val vsum = graft.functions.VecSum.fn
    embeddings
      .withColumn("emb_d", transform(col("embedding"), x => x.cast("double")))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), vsum(col("emb_d")).as("sums"))
      .withColumn("centroid", transform(col("sums"), s => s / col("n")))
      .select("label", "n", "centroid")
  }

  /** Oracle twin of [[centroidsOn]]; emits relation `cent` (label, n, centroid). */
  private def centroidsSql: String = {
    val sums = (0 until Dims).map(i => s"sum(CAST(embedding[${i + 1}] AS DOUBLE))").mkString(", ")
    s"""cent0 AS (SELECT label, count(*) AS n, [$sums] AS sums FROM embeddings GROUP BY label),
       |cent AS (SELECT label, n, list_transform(sums, s -> s / n) AS centroid FROM cent0)""".stripMargin
  }

  /** Shared IVF search: strided probes rank the broadcast centroid table by
    * r6-rounded cosine, take the top `nProbe` cells, and search only corpus
    * vectors assigned to those cells — the one implementation behind both
    * the label-cell and the k-means-trained variants, so tie-break/rounding
    * conventions can never drift between them.
    *
    * r6, not r9, on the cell-rank key: centroid components are
    * order-dependent double sums, so the key is rounded COARSELY enough
    * (1e-6 ≫ the ~1e-15 sum noise) that both engines always land on the
    * same side; r6-level ties then break identically by cell id.
    *
    * `corpus` columns: vec_id, embedding, nrm, cell;
    * `cent` columns: cell, centroid, c_nrm. */
  /** Top-`nProbe` cells per probe by r6-rounded centroid cosine (cell-id
    * tiebreak) — the coarse-search step shared by [[searchCells]] and the
    * IVF-PQ ADC bound, so the two can never drift on the probed set.
    * `queries` columns: q_id, q_emb, q_nrm; output adds `cell`. */
  private def probeCells(queries: DataFrame, cent: DataFrame, nProbe: Int): DataFrame = {
    val wc = Window.partitionBy("q_id").orderBy(col("ccos_r").desc, col("cell"))
    queries.crossJoin(broadcast(cent))
      .withColumn("ccos_r", r6(dot(col("q_emb"), col("centroid")) / (col("q_nrm") * col("c_nrm"))))
      .withColumn("cell_rank", row_number().over(wc))
      .filter(col("cell_rank") <= lit(nProbe))
      .select("q_id", "q_emb", "q_nrm", "cell")
  }

  private def searchCells(corpus: DataFrame, cent: DataFrame, nProbe: Int,
                          pids: Option[DataFrame] = None): DataFrame = {
    val queries = pickFilter(corpus, pids)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val probes = probeCells(queries, cent, nProbe)
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    corpus.join(broadcast(probes), Seq("cell")).filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", fastDot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
      .withColumn("rank", row_number().over(w).cast("long")) // DuckDB ranks are BIGINT
      .filter(col("rank") <= lit(TopK))
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"), r6(col("cos")).as("cosine"))
  }

  /** `nProbe` is the recall/cost knob: candidates per probe are bounded by
    * nProbe/ncells of the corpus; nProbe ≥ ncells degenerates to exact
    * brute force (SimilaritySpec asserts that equality). */
  def knnIvfOn(embeddings: DataFrame, nProbe: Int = NProbe,
               pids: Option[DataFrame] = None): DataFrame = {
    val e = withNorm(embeddings)
    val centroid = centroidsOn(embeddings)
      .withColumn("c_nrm", sqrt(dot(col("centroid"), col("centroid"))))
      .select(col("label").as("cell"), col("centroid"), col("c_nrm"))
    searchCells(
      e.select(col("vec_id"), col("embedding"), col("nrm"), col("label").as("cell")),
      centroid, nProbe, pids)
  }

  def knnIvf(spark: SparkSession, dir: String): DataFrame =
    knnIvfOn(Tables.embeddings(spark, dir))

  lazy val knnIvfSql: String =
    s"""WITH e AS (SELECT vec_id, label, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
       |$centroidsSql,
       |cellc AS (SELECT label AS cell, centroid, ${normSql("centroid")} AS c_nrm FROM cent),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm FROM e WHERE ${probeInSql("vec_id", "e")}),
       |pc AS (
       |  SELECT q.q_id, q.q_emb, q.q_nrm, c.cell,
       |         ${r6Sql(s"${dotSql("q.q_emb", "c.centroid")} / (q.q_nrm * c.c_nrm)")} AS ccos_r
       |  FROM q CROSS JOIN cellc c),
       |pr AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY ccos_r DESC, cell) AS cell_rank FROM pc),
       |probes AS (SELECT q_id, q_emb, q_nrm, cell FROM pr WHERE cell_rank <= $NProbe),
       |scored AS (
       |  SELECT p.q_id, e.vec_id,
       |         ${dotSql("p.q_emb", "e.embedding")} / (p.q_nrm * e.nrm) AS cos
       |  FROM e JOIN probes p ON e.label = p.cell AND e.vec_id <> p.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT q_id, rank, vec_id AS neighbor_id, ${r6Sql("cos")} AS cosine
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  // --------------------------------------------------- k-means-trained IVF
  /** Lloyd-iteration k-means coarse quantizer — the LEARNED version of the
    * per-label cells in [[knnIvfOn]]. Seeds are the first `KmeansK` vectors
    * on a deterministic vec_id stride; each unrolled iteration assigns every
    * vector to its nearest centroid by cosine and recomputes centroids as
    * per-cell means. Two iterations are enough to pull the cells onto the
    * data's actual clusters (recall measured in SimilaritySpec).
    *
    * Cross-engine determinism: iteration-1 cosines are exact (seed vectors
    * are raw data), later centroids are order-dependent double sums — every
    * ASSIGNMENT key is therefore the r6-rounded cosine with cent_id
    * tiebreak, the same convention [[knnIvfOn]] uses for cell ranking.
    *
    * At 100 TB this is the standard distributed Lloyd step: centroids are a
    * broadcast k×d table, assignment is one map-side pass over the corpus,
    * the update is one map-side-combinable aggregation per iteration. Empty
    * cells simply drop out of the groupBy (k shrinks), as in FAISS-style
    * training on skewed data. */
  val KmeansK = 8
  val KmeansIters = 2
  private val SeedStride = 61

  /** Lloyd knobs, grouped so no Int can be hit positionally: `dims` once
    * moved position in the parameter list, and a positional caller like
    * `knnIvfKmeansOn(emb, 64)` would have silently changed meaning from
    * dims=64 to nProbe=64 with no compile error. */
  final case class KmeansCfg(k: Int = KmeansK, iters: Int = KmeansIters, dims: Int = -1)

  /** `dims` > 0 switches the Lloyd update from the VecSum aggregate to
    * `dims` static per-dimension sums. Semantically identical (spec-pinned);
    * the static form exists because plans containing a udaf never compare
    * cache-equal across constructions (their resolved encoders carry
    * per-plan state), so a caller that re-invokes this query repeatedly —
    * the bench harness, a knob sweep — only re-hits the persisted centroid
    * cache on the static path. With an unknown width, VecSum (one O(d)
    * buffer, no width needed, ~8× faster per pass) is the right default. */
  def kmeansCentroidsOn(embeddings: DataFrame, cfg: KmeansCfg = KmeansCfg()): DataFrame = {
    import cfg.{k, iters, dims}
    def vecSumCol(emb: Column): Column =
      if (dims > 0) array((0 until dims).map(i => sum(element_at(emb, i + 1).cast("double"))): _*)
      else graft.functions.VecSum.fn(transform(emb, x => x.cast("double")))
    val e = withNorm(embeddings)
    var cent = e.filter(col("vec_id") % lit(SeedStride) === lit(0))
      .orderBy("vec_id").limit(k)
      .withColumn("cent_id", row_number().over(Window.orderBy("vec_id")).cast("long"))
      .withColumn("centroid", transform(col("embedding"), x => x.cast("double")))
      .select(col("cent_id"), col("centroid"), col("nrm").cast("double").as("c_nrm"))
    for (_ <- 1 to iters) {
      // argmax-by-cosine as ONE min_by hash agg on the cosine DISTANCE
      // (1 − ccos is exactly monotone in ccos, so the (key, cent_id)
      // min_by picks the identical centroid the oracle's row_number
      // ORDER BY ccos DESC, cent_id picks) — no per-iteration window
      // shuffle+sort over the corpus, same rewrite pqCodebook carries
      val assigned = e.crossJoin(broadcast(cent))
        .withColumn("ccos", r6(dot(col("embedding"), col("centroid")) / (col("nrm") * col("c_nrm"))))
        .groupBy("vec_id")
        .agg(min_by(struct(col("cent_id"), col("embedding")),
          struct(lit(1.0) - col("ccos"), col("cent_id"))).as("a"))
        .select(col("vec_id"), col("a.cent_id").as("cent_id"), col("a.embedding").as("embedding"))
      cent = assigned
        .groupBy("cent_id")
        .agg(count(lit(1)).as("n"), vecSumCol(col("embedding")).as("sums"))
        .withColumn("centroid", transform(col("sums"), s => s / col("n")))
        .withColumn("c_nrm", sqrt(dot(col("centroid"), col("centroid"))))
        .select("cent_id", "centroid", "c_nrm")
    }
    cent
  }

  /** IVF ANN over the k-means cells: corpus vectors are assigned to their
    * nearest learned centroid, probes rank cells by centroid cosine and
    * search the top `NProbe` — [[knnIvfOn]] with the label cells replaced by
    * the trained quantizer. Same plan shape at scale: broadcast centroids,
    * one corpus pass for assignment, cell-bounded candidate sets. */
  /** Corpus cell assignment against a trained quantizer: each vector takes
    * its max-cosine centroid (r6 key, cent_id tiebreak). Shared by the
    * k-means IVF search and the IVF-PQ coarse stage.
    * `e` columns: vec_id, embedding, nrm (+ ignored extras);
    * `cent` columns: cent_id, centroid, c_nrm.
    * `private[ext]`: [[Dedup.semDedupOn]] reuses the identical coarse
    * quantizer so the SemDeDup clusters and the IVF cells cannot drift. */
  private[ext] def assignCells(e: DataFrame, cent: DataFrame): DataFrame =
    // same min_by-on-cosine-distance rewrite as the Lloyd loop: the corpus
    // assignment pass is a hash agg, not a window sort
    e.crossJoin(broadcast(cent))
      .withColumn("ccos", r6(dot(col("embedding"), col("centroid")) / (col("nrm") * col("c_nrm"))))
      .groupBy("vec_id")
      .agg(min_by(struct(col("embedding"), col("nrm"), col("cent_id")),
        struct(lit(1.0) - col("ccos"), col("cent_id"))).as("a"))
      .select(col("vec_id"), col("a.embedding").as("embedding"),
        col("a.nrm").as("nrm"), col("a.cent_id").as("cell"))

  def knnIvfKmeansOn(embeddings: DataFrame, nProbe: Int = NProbe,
                     cfg: KmeansCfg = KmeansCfg()): DataFrame = {
    val e = withNorm(embeddings)
    // persisted: 2 consumers (corpus cell assignment + probe cell ranking),
    // each re-running the full unrolled Lloyd subplan without it. Like
    // minhashLshOn, the cache lives for the job; batch callers invoking
    // repeatedly in one session should spark.catalog.clearCache() between
    // invocations (SimilaritySpec does).
    val cent = kmeansCentroidsOn(embeddings, cfg).persist()
    val cells = assignCells(e, cent)
    searchCells(cells,
      cent.select(col("cent_id").as("cell"), col("centroid"), col("c_nrm")), nProbe)
  }

  // ---------------------------------------------------------- frozen index
  /** Driver-side frozen-model cache — the FAISS train/search separation.
    * A trained coarse quantizer is k×(d+2) doubles and a PQ codebook is
    * m·k'×(d/m) doubles: broadcast-sized MODELS, not data, so collecting
    * them is the same driver round-trip a `broadcast()` does anyway. The
    * registered IVF queries train once per (corpus dir, knobs) and search
    * the frozen model on every later invocation (`Bench` runs each query
    * twice and clears the block-cache between queries — a memo keyed off
    * the plan cache survives that); the `*On` forms keep self-training for
    * callers sweeping knobs. At 100 TB the model would persist as a small
    * parquet table next to the coded corpus; in-process the memo plays
    * that role without touching the caller's filesystem. Bit-exact: the
    * collected doubles round-trip unchanged, so frozen-vs-retrained
    * results are identical (spec-pinned in SimilaritySpec). */
  private val frozenCentCache =
    new graft.ops.FrozenCaches.Memo[KmeansCfg, Seq[(Long, Seq[Double], Double)]](label = "kmeans_centroids")
  private val frozenCbCache =
    new graft.ops.FrozenCaches.Memo[PqCfg, Seq[(Int, Long, Seq[Double])]](label = "pq_codebook")

  private[ext] def frozenCentroids(spark: SparkSession, dir: String, cfg: KmeansCfg): DataFrame = {
    val rows = frozenCentCache.get(dir, cfg) {
      kmeansCentroidsOn(Tables.embeddings(spark, dir), cfg).collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    }
    import spark.implicits._
    rows.toDF("cent_id", "centroid", "c_nrm")
  }

  private def frozenCodebook(spark: SparkSession, dir: String, cfg: PqCfg): DataFrame = {
    // keyed on the WHOLE cfg: dims determines subDim, so a partial key
    // would silently serve a wrong-width codebook to a different config
    val rows = frozenCbCache.get(dir, cfg) {
      val sub = pqSub(Tables.embeddings(spark, dir), cfg.m, cfg.dims / cfg.m)
      val cbd = pqCodebook(sub, cfg.k, cfg.iters, cfg.dims / cfg.m)
      val out = cbd.collect().toSeq.map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      cbd.unpersist(); sub.unpersist()
      out
    }
    import spark.implicits._
    rows.toDF("sub", "code", "cvec")
  }

  def knnIvfKmeans(spark: SparkSession, dir: String): DataFrame =
    knnIvfKmeansFrozen(spark, dir, None)

  private def knnIvfKmeansFrozen(spark: SparkSession, dir: String,
                                 pids: Option[DataFrame]): DataFrame = {
    // static width (the oracle SQL hardcodes the same 64) + frozen
    // quantizer: training runs once per corpus, every invocation after
    // that is assignment + search only
    val cent = frozenCentroids(spark, dir, KmeansCfg(dims = Dims))
    val e = withNorm(Tables.embeddings(spark, dir))
    searchCells(assignCells(e, cent),
      cent.select(col("cent_id").as("cell"), col("centroid"), col("c_nrm")), NProbe, pids)
  }

  /** Oracle twin of [[kmeansCentroidsOn]] (static 2-iteration unroll, final
    * codebook = relation `c2`) + [[assignCells]] (relation `cells`): the
    * shared coarse-quantizer CTEs behind the k-means IVF oracle, the
    * IVF-PQ oracle, and the SemDeDup oracle ([[Dedup.semDedupSql]]).
    * Also emits `e` (embeddings + nrm). */
  private[ext] def kmeansCellsSql: String = {
    val sums = (0 until Dims).map(i => s"sum(CAST(embedding[${i + 1}] AS DOUBLE))").mkString(", ")
    // one Lloyd iteration: assign to nearest centroid of `prev`, emit `next`
    def iter(prev: String, next: String): String =
      s"""${next}_a AS (
         |  SELECT e.vec_id, c.cent_id,
         |         row_number() OVER (PARTITION BY e.vec_id ORDER BY ${r6Sql(s"${dotSql("e.embedding", "c.centroid")} / (e.nrm * c.c_nrm)")} DESC, c.cent_id) AS rn
         |  FROM e CROSS JOIN $prev c),
         |${next}_s AS (
         |  SELECT a.cent_id, count(*) AS n, [$sums] AS sums
         |  FROM e JOIN ${next}_a a ON e.vec_id = a.vec_id AND a.rn = 1
         |  GROUP BY a.cent_id),
         |$next AS (
         |  SELECT cent_id, list_transform(sums, s -> s / n) AS centroid,
         |         sqrt(${dotSql("list_transform(sums, s -> s / n)", "list_transform(sums, s -> s / n)")}) AS c_nrm
         |  FROM ${next}_s)""".stripMargin
    s"""e AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
       |seeds AS (SELECT vec_id, embedding, nrm FROM e WHERE vec_id % $SeedStride = 0 ORDER BY vec_id LIMIT $KmeansK),
       |c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS cent_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid,
       |         CAST(nrm AS DOUBLE) AS c_nrm
       |  FROM seeds),
       |${iter("c0", "c1")},
       |${iter("c1", "c2")},
       |cells_a AS (
       |  SELECT e.vec_id, c.cent_id,
       |         row_number() OVER (PARTITION BY e.vec_id ORDER BY ${r6Sql(s"${dotSql("e.embedding", "c.centroid")} / (e.nrm * c.c_nrm)")} DESC, c.cent_id) AS rn
       |  FROM e CROSS JOIN c2 c),
       |cells AS (
       |  SELECT e.vec_id, e.embedding, e.nrm, a.cent_id AS cell
       |  FROM e JOIN cells_a a ON e.vec_id = a.vec_id AND a.rn = 1)""".stripMargin
  }

  lazy val knnIvfKmeansSql: String = {
    s"""WITH $kmeansCellsSql,
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm FROM e WHERE ${probeInSql("vec_id", "e")}),
       |pc AS (
       |  SELECT q.q_id, q.q_emb, q.q_nrm, c.cent_id AS cell,
       |         row_number() OVER (PARTITION BY q.q_id ORDER BY ${r6Sql(s"${dotSql("q.q_emb", "c.centroid")} / (q.q_nrm * c.c_nrm)")} DESC, c.cent_id) AS cell_rank
       |  FROM q CROSS JOIN c2 c),
       |probes AS (SELECT q_id, q_emb, q_nrm, cell FROM pc WHERE cell_rank <= $NProbe),
       |scored AS (
       |  SELECT p.q_id, s.vec_id,
       |         ${dotSql("p.q_emb", "s.embedding")} / (p.q_nrm * s.nrm) AS cos
       |  FROM cells s JOIN probes p ON s.cell = p.cell AND s.vec_id <> p.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT q_id, rank, vec_id AS neighbor_id, ${r6Sql("cos")} AS cosine
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin
  }

  /** Per-label centroid stats: mean vector norm + cosine of each vector to
    * its label centroid — the IVF "assign to nearest centroid" building
    * block, expressed as array-aggregate + rejoin. */
  def labelCentroidsOn(embeddings: DataFrame): DataFrame = {
    val e = embeddings
      .withColumn("emb_d", transform(col("embedding"), x => x.cast("double")))
    val centroid = centroidsOn(embeddings)
    e.join(broadcast(centroid), Seq("label"))
      .withColumn("cos_to_centroid",
        dot(col("emb_d"), col("centroid")) / (norm(col("emb_d")) * norm(col("centroid"))))
      .select(col("vec_id"), col("label"), col("n").as("label_n"),
        r6(col("cos_to_centroid")).as("cos_to_centroid"))
  }

  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    labelCentroidsOn(Tables.embeddings(spark, dir))

  lazy val labelCentroidsSql: String =
    s"""WITH $centroidsSql,
       |j AS (
       |  SELECT e.vec_id, e.label, c.n,
       |         list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS emb_d, c.centroid
       |  FROM embeddings e JOIN cent c ON e.label = c.label)
       |SELECT vec_id, label, n AS label_n,
       |       ${r6Sql(s"${dotSql("emb_d", "centroid")} / (${normSql("emb_d")} * ${normSql("centroid")})")} AS cos_to_centroid
       |FROM j ORDER BY vec_id""".stripMargin

  // ------------------------------------------------ product quantization
  /** Product-quantized ANN (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011): the vector is split into `m` disjoint
    * subspaces, each subspace gets its own small Lloyd-trained codebook, and
    * every corpus vector is stored as just `m` byte-sized code ids. Probes
    * never touch corpus floats again — they precompute a per-subspace lookup
    * table (LUT) of distances to every codeword and score a candidate as the
    * sum of `m` table lookups (asymmetric distance computation, ADC).
    *
    * This is the memory-bound scale path: at 100 TB of embeddings the coded
    * corpus is dims/m·8× smaller than raw floats (64-dim float → 4 codes),
    * the codebooks + probe LUTs are a broadcast, and scoring is a single
    * scan of the code table with O(m) work per pair instead of O(dims).
    *
    * Cross-engine determinism follows the kmeans conventions: every Lloyd /
    * encode ASSIGNMENT key is the r6-rounded squared L2 distance with the
    * codeword id as tiebreak, and the final ADC sum adds the m r6-rounded
    * LUT entries in fixed subspace order — both engines fold identical
    * doubles in identical order. */
  /** `refine` > 0 adds the standard exact re-rank: the top `refine` ADC
    * candidates per probe are re-scored with the exact squared L2 on the raw
    * vectors before the final top-k — recall@5 measured 0.43 → 0.80 at
    * sf0.001 for the default knobs (vs 0.06 for the first-cut 4×8 ADC-only
    * codebook; the sweep is recorded in BASELINE.md). The candidate set per
    * probe stays `refine`-bounded, so the re-rank reads a vanishing fraction
    * of the corpus. */
  final case class PqCfg(m: Int = PqM, k: Int = PqK, iters: Int = PqIters,
                         refine: Int = PqRefine, dims: Int = Dims)
  val PqM = 16
  val PqK = 32
  val PqIters = 2
  val PqRefine = 25
  /** Seed codewords are the k smallest multiples of this stride — a pure
    * vec_id range filter (`% stride = 0 AND < stride*k`), NOT a windowed
    * first-k, so seed selection needs no global sort at any corpus size. */
  val PqSeedStride = 3

  /** Squared L2 distance as a sequential fold over double arrays — the
    * DuckDB `list_sum(list_transform(...))` twin evaluates the identical
    * left-associated sum, as with [[dot]]. */
  def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  def l2sqSql(a: String, b: String): String =
    s"coalesce(list_sum(list_transform(range(1, len($a) + 1), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), 0.0)"

  /** (vec_id, sub, sv): the corpus split into m double subvectors.
    * Persisted: consumed by every Lloyd iteration, the encode pass, and the
    * probe LUT (probes are a filter of the same frame). Static expressions
    * only — repeated invocations plan-match the cache (see VecSum note on
    * kmeansCentroidsOn for why no udaf appears here). */
  private def pqSub(embeddings: DataFrame, m: Int, subDim: Int): DataFrame =
    embeddings.select(col("vec_id"),
        explode(array((0 until m).map(j => struct(lit(j).as("sub"),
          slice(col("embedding"), j * subDim + 1, subDim).as("sv"))): _*)).as("s"))
      .select(col("vec_id"), col("s.sub").as("sub"),
        transform(col("s.sv"), x => x.cast("double")).as("sv"))
      .persist()

  /** Per-subspace Lloyd-trained codebook, densely renumbered: (sub, code,
    * cvec) with code 1..k' per subspace (empty cells drop out of the Lloyd
    * groupBy) so LUT arrays index positionally by code. */
  private def pqCodebook(sub: DataFrame, k: Int, iters: Int, subDim: Int): DataFrame = {
    val subSums = array((0 until subDim).map(i => sum(element_at(col("sv"), i + 1))): _*)
    // seed codebook: the k smallest stride multiples, cent_id derived
    // arithmetically — a pushdown-able range filter, no window
    var cb = sub
      .filter(col("vec_id") % lit(PqSeedStride) === lit(0) &&
        col("vec_id") < lit(PqSeedStride.toLong * k))
      .select(col("sub"),
        (floor(col("vec_id") / lit(PqSeedStride)).cast("long") + lit(1L)).as("cent_id"),
        col("sv").as("cvec"))
    for (_ <- 1 to iters) {
      // nearest codeword per (vec, sub) as one min_by hash agg (no window
      // sort): key = (r6 distance, cent_id), carrying sv through for the
      // mean update
      val assigned = sub.join(broadcast(cb), "sub")
        .withColumn("d2r", r6(l2sq(col("sv"), col("cvec"))))
        .groupBy("vec_id", "sub")
        .agg(min_by(struct(col("cent_id"), col("sv")), struct(col("d2r"), col("cent_id"))).as("a"))
        .select(col("sub"), col("a.cent_id").as("cent_id"), col("a.sv").as("sv"))
      cb = assigned.groupBy("sub", "cent_id")
        .agg(count(lit(1)).as("n"), subSums.as("sums"))
        .withColumn("cvec", transform(col("sums"), s => s / col("n")))
        .select("sub", "cent_id", "cvec")
    }
    val wd = Window.partitionBy("sub").orderBy("cent_id")
    cb.withColumn("code", row_number().over(wd).cast("long"))
      .select("sub", "code", "cvec")
      .persist() // 2 consumers: corpus encode + probe LUT
  }

  /** Encode: corpus vector -> m codes, widened to one array per vector. */
  private def pqCodesWide(sub: DataFrame, cbd: DataFrame, m: Int): DataFrame = {
    val codes = sub.join(broadcast(cbd), "sub")
      .withColumn("d2r", r6(l2sq(col("sv"), col("cvec"))))
      .groupBy("vec_id", "sub")
      .agg(min_by(col("code"), struct(col("d2r"), col("code"))).as("code"))
    codes.groupBy("vec_id")
      .agg(array((0 until m).map(j => max(when(col("sub") === lit(j), col("code")))): _*).as("codes"))
  }

  /** Probe LUTs: r6-rounded squared distance to every codeword, one array
    * per subspace ordered by code so ADC is a positional lookup. */
  private def pqLutWide(sub: DataFrame, cbd: DataFrame, m: Int,
                        pids: DataFrame): DataFrame = {
    val lut = probeFilterWith(sub, pids)
      .join(broadcast(cbd), "sub")
      .withColumn("d2r", r6(l2sq(col("sv"), col("cvec"))))
      .select(col("vec_id").as("q_id"), col("sub"), col("code"), col("d2r"))
    val lutCols = (0 until m).map(j =>
      transform(array_sort(collect_list(when(col("sub") === lit(j), struct(col("code"), col("d2r"))))),
        x => x.getField("d2r")).as(s"lut_$j"))
    lut.groupBy("q_id").agg(lutCols.head, lutCols.tail: _*)
  }

  /** ADC score: m LUT lookups per (probe, candidate) pair summed in fixed
    * subspace order (deterministic fold). */
  private def adcCol(m: Int): Column =
    (0 until m).map(j =>
      element_at(col(s"lut_$j"), element_at(col("codes"), j + 1).cast("int"))).reduce(_ + _)

  /** Final top-k from the ADC-ranked candidates: straight ADC cut when
    * `refine` ≤ 0, else the exact squared-L2 re-rank of the top `refine`
    * ADC candidates per probe (exact folds are bit-deterministic, so no
    * rounding enters the final ranking key). */
  private def pqFinish(embeddings: DataFrame, adcRanked: DataFrame, refine: Int,
                       pids: DataFrame): DataFrame =
    if (refine <= 0)
      adcRanked.filter(col("rank") <= lit(TopK))
        .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"), r6(col("adc")).as("dist_sq"))
    else {
      // probes × refine rows broadcast back against the raw vectors
      val ev = embeddings.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val qv = probeFilterWith(ev, pids)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val cand = adcRanked.filter(col("rank") <= lit(refine)).select("q_id", "vec_id")
        .join(broadcast(qv), "q_id")
      val wr = Window.partitionBy("q_id").orderBy(col("d2").asc, col("vec_id"))
      ev.join(broadcast(cand), "vec_id")
        .withColumn("d2", l2sq(col("qv"), col("v")))
        .withColumn("rank", row_number().over(wr).cast("long"))
        .filter(col("rank") <= lit(TopK))
        .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"), r6(col("d2")).as("dist_sq"))
    }

  def knnPqOn(embeddings: DataFrame, cfg: PqCfg = PqCfg()): DataFrame = {
    import cfg.{m, k, iters, refine, dims}
    require(dims % m == 0, s"m=$m must divide dims=$dims")
    val subDim = dims / m
    val sub = pqSub(embeddings, m, subDim)
    val cbd = pqCodebook(sub, k, iters, subDim)
    val pids = probeIds(embeddings)
    val codesW = pqCodesWide(sub, cbd, m)
    val lutW = pqLutWide(sub, cbd, m, pids)
    // flat ADC: one pass over the ENTIRE coded corpus per probe — the
    // exhaustive-PQ baseline; [[knnIvfPqOn]] is the cell-bounded scale form
    val w = Window.partitionBy("q_id").orderBy(col("adc").asc, col("vec_id"))
    val adcRanked = codesW.crossJoin(broadcast(lutW))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc", adcCol(m))
      .withColumn("rank", row_number().over(w).cast("long")) // DuckDB ranks are BIGINT
    pqFinish(embeddings, adcRanked, refine, pids)
  }

  /** IVF-PQ (Jégou et al. 2011, the IVFADC system): the k-means coarse
    * quantizer of [[knnIvfKmeansOn]] bounds WHICH codes each probe scans,
    * and the PQ machinery of [[knnPqOn]] compresses WHAT is scanned. Each
    * probe ranks the broadcast centroid table, takes its top `nProbe` cells,
    * ADC-scores only the codes assigned to those cells, and exact-re-ranks
    * the top `refine` survivors.
    *
    * This is the 100 TB ANN form the flat-PQ scan lacks: per-probe work
    * drops from O(n) code rows to O(n·nProbe/ncells), the corpus is stored
    * once as (cell, m byte codes) — dims/m·8× smaller than floats — and
    * everything a probe needs (centroids, codebooks, LUTs) broadcasts.
    * Residual encoding (coding v − centroid(v) instead of v) is the one
    * deliberate simplification vs the paper: it would couple every codebook
    * to the coarse step for ~equal recall at these dims, and the exact
    * re-rank already recovers the tail.
    *
    * Determinism: cell ranking/assignment use the shared r6-cosine
    * conventions ([[probeCells]]/[[assignCells]]); ADC and re-rank keys are
    * the [[knnPqOn]] ones unchanged. */
  def knnIvfPqOn(embeddings: DataFrame, nProbe: Int = NProbe,
                 kcfg: KmeansCfg = KmeansCfg(), pcfg: PqCfg = PqCfg()): DataFrame = {
    import pcfg.{m, k, iters, dims}
    require(dims % m == 0, s"m=$m must divide dims=$dims")
    val subDim = dims / m
    // persisted: 2 consumers (corpus cell assignment + probe cell ranking)
    val cent = kmeansCentroidsOn(embeddings, kcfg).persist()
    val sub = pqSub(embeddings, m, subDim)
    val cbd = pqCodebook(sub, k, iters, subDim)
    ivfPqSearch(embeddings, cent, cbd, sub, nProbe, pcfg)
  }

  /** The IVF-PQ search phase against a GIVEN quantizer + codebook — shared
    * verbatim by the self-training path ([[knnIvfPqOn]]) and the
    * frozen-index path ([[knnIvfPq]]) so the two can never drift. */
  private def ivfPqSearch(embeddings: DataFrame, cent: DataFrame, cbd: DataFrame,
                          sub: DataFrame, nProbe: Int, pcfg: PqCfg,
                          sharedPids: Option[DataFrame] = None): DataFrame = {
    import pcfg.{m, refine}
    val e = withNorm(embeddings)
    val pids = sharedPids.getOrElse(probeIds(embeddings))
    val cells = assignCells(e, cent).select("vec_id", "cell")
    val coded = pqCodesWide(sub, cbd, m).join(cells, "vec_id")
    val lutW = pqLutWide(sub, cbd, m, pids)
    val queries = probeFilterWith(e, pids)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val pcells = probeCells(queries,
        cent.select(col("cent_id").as("cell"), col("centroid"), col("c_nrm")), nProbe)
      .select("q_id", "cell")
    // cell-bounded ADC: candidates = codes in the probe's nProbe cells only
    val w = Window.partitionBy("q_id").orderBy(col("adc").asc, col("vec_id"))
    val adcRanked = coded.join(broadcast(pcells), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(lutW), Seq("q_id"))
      .withColumn("adc", adcCol(m))
      .withColumn("rank", row_number().over(w).cast("long")) // DuckDB ranks are BIGINT
    pqFinish(embeddings, adcRanked, refine, pids)
  }

  def knnIvfPq(spark: SparkSession, dir: String): DataFrame =
    knnIvfPqFrozen(spark, dir, None)

  private def knnIvfPqFrozen(spark: SparkSession, dir: String,
                             pids: Option[DataFrame]): DataFrame = {
    // static Lloyd width (oracle hardcodes the same 64) + frozen models:
    // quantizer AND codebooks train once per corpus; every invocation
    // after that is encode + probe + ADC + re-rank only
    val kcfg = KmeansCfg(dims = Dims)
    val pcfg = PqCfg()
    val emb = Tables.embeddings(spark, dir)
    ivfPqSearch(emb,
      frozenCentroids(spark, dir, kcfg),
      frozenCodebook(spark, dir, pcfg),
      pqSub(emb, pcfg.m, pcfg.dims / pcfg.m), NProbe, pcfg, pids)
  }

  /** Frozen-model form of the flat-PQ scan, mirroring [[knnIvfPq]]: the
    * codebook trains once per (corpus, knobs) and every invocation after
    * that is encode + LUT + ADC + re-rank only (round 18 — this row was
    * the last PQ consumer still re-running Lloyd per invocation; the
    * oracle still trains from scratch in SQL, proving the replayed
    * codebook byte-equal). [[knnPqOn]] keeps the self-training
    * compositional form. */
  def knnPq(spark: SparkSession, dir: String): DataFrame =
    knnPqFrozen(spark, dir, None)

  private def knnPqFrozen(spark: SparkSession, dir: String,
                          sharedPids: Option[DataFrame]): DataFrame = {
    val cfg = PqCfg()
    val emb = Tables.embeddings(spark, dir)
    val sub = pqSub(emb, cfg.m, cfg.dims / cfg.m)
    val cbd = frozenCodebook(spark, dir, cfg)
    val pids = sharedPids.getOrElse(probeIds(emb))
    val codesW = pqCodesWide(sub, cbd, cfg.m)
    val lutW = pqLutWide(sub, cbd, cfg.m, pids)
    val w = Window.partitionBy("q_id").orderBy(col("adc").asc, col("vec_id"))
    val adcRanked = codesW.crossJoin(broadcast(lutW))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc", adcCol(cfg.m))
      .withColumn("rank", row_number().over(w).cast("long")) // DuckDB ranks are BIGINT
    pqFinish(emb, adcRanked, cfg.refine, pids)
  }

  /** Oracle twin of [[pqSub]]/[[pqCodebook]]/[[pqCodesWide]]/[[pqLutWide]]:
    * CTEs `sub`, `cb0..cbN`, `cbd`, `enc`, `codesw`, `lutw` — shared by the
    * flat-PQ and IVF-PQ oracles so codebook/encode/LUT semantics can never
    * drift between them. */
  private def pqCtesSql(cfg: PqCfg): String = {
    val subDim = cfg.dims / cfg.m
    val subSelects = (0 until cfg.m).map { j =>
      s"SELECT vec_id, $j AS sub, list_transform(embedding[${j * subDim + 1}:${(j + 1) * subDim}], x -> CAST(x AS DOUBLE)) AS sv FROM embeddings"
    }.mkString("\n  UNION ALL ")
    val sums = (0 until subDim).map(i => s"sum(sv[${i + 1}])").mkString(", ")
    // one Lloyd iteration over codebook `prev`, emitting `next`
    def iter(prev: String, next: String): String =
      s"""${next}_a AS (
         |  SELECT s.vec_id, s.sub, c.cent_id, s.sv,
         |         row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY ${r6Sql(l2sqSql("s.sv", "c.cvec"))} ASC, c.cent_id) AS rn
         |  FROM sub s JOIN $prev c ON s.sub = c.sub),
         |${next}_s AS (
         |  SELECT sub, cent_id, count(*) AS n, [$sums] AS sums
         |  FROM ${next}_a WHERE rn = 1 GROUP BY sub, cent_id),
         |$next AS (
         |  SELECT sub, cent_id, list_transform(sums, s -> s / n) AS cvec FROM ${next}_s)""".stripMargin
    val iterCtes = (1 to cfg.iters).map(i => iter(s"cb${i - 1}", s"cb$i")).mkString(",\n")
    val lutCols = (0 until cfg.m)
      .map(j => s"list(d2r ORDER BY code) FILTER (WHERE sub = $j) AS lut_$j").mkString(",\n         ")
    val codeCols = (0 until cfg.m)
      .map(j => s"max(CASE WHEN sub = $j THEN code END)").mkString(", ")
    s"""sub AS (
       |  $subSelects),
       |cb0 AS (
       |  SELECT sub, CAST(vec_id // $PqSeedStride + 1 AS BIGINT) AS cent_id, sv AS cvec
       |  FROM sub WHERE vec_id % $PqSeedStride = 0 AND vec_id < ${PqSeedStride.toLong * cfg.k}),
       |$iterCtes,
       |cbd AS (
       |  SELECT sub, CAST(row_number() OVER (PARTITION BY sub ORDER BY cent_id) AS BIGINT) AS code, cvec
       |  FROM cb${cfg.iters}),
       |enc AS (
       |  SELECT s.vec_id, s.sub, c.code,
       |         row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY ${r6Sql(l2sqSql("s.sv", "c.cvec"))} ASC, c.code) AS rn
       |  FROM sub s JOIN cbd c ON s.sub = c.sub),
       |codesw AS (SELECT vec_id, [$codeCols] AS codes FROM enc WHERE rn = 1 GROUP BY vec_id),
       |lut AS (
       |  SELECT s.vec_id AS q_id, s.sub, c.code, ${r6Sql(l2sqSql("s.sv", "c.cvec"))} AS d2r
       |  FROM sub s JOIN cbd c ON s.sub = c.sub
       |  WHERE ${probeInSql("s.vec_id", "sub")}),
       |lutw AS (
       |  SELECT q_id,
       |         $lutCols
       |  FROM lut GROUP BY q_id)""".stripMargin
  }

  /** Oracle twin of [[adcCol]]: the m positional LUT lookups summed in fixed
    * subspace order. `c` = coded-corpus alias, `l` = LUT alias. */
  private def pqAdcTermsSql(m: Int): String =
    (0 until m).map(j => s"l.lut_$j[c.codes[${j + 1}]]").mkString(" + ")

  /** Oracle twin of [[pqFinish]] (refine > 0): exact re-rank of the top
    * `refine` rows of relation `ranked` (q_id, vec_id, adc, rank) + the
    * final TopK SELECT. */
  private def pqRerankTailSql(refine: Int): String =
    s"""cand AS (SELECT q_id, vec_id FROM ranked WHERE rank <= $refine),
       |ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |ref AS (
       |  SELECT c.q_id, c.vec_id, ${l2sqSql("qe.v", "ce.v")} AS d2
       |  FROM cand c JOIN ev qe ON qe.vec_id = c.q_id JOIN ev ce ON ce.vec_id = c.vec_id),
       |rr AS (
       |  SELECT q_id, vec_id, d2,
       |         row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, vec_id) AS rank
       |  FROM ref)
       |SELECT q_id, rank, vec_id AS neighbor_id, ${r6Sql("d2")} AS dist_sq
       |FROM rr WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  lazy val knnPqSql: String = {
    val cfg = PqCfg()
    s"""WITH ${pqCtesSql(cfg)},
       |adcs AS (
       |  SELECT l.q_id, c.vec_id, ${pqAdcTermsSql(cfg.m)} AS adc
       |  FROM codesw c CROSS JOIN lutw l WHERE c.vec_id <> l.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, adc,
       |         row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, vec_id) AS rank
       |  FROM adcs),
       |${pqRerankTailSql(cfg.refine)}""".stripMargin
  }

  lazy val knnIvfPqSql: String = {
    val cfg = PqCfg()
    s"""WITH $kmeansCellsSql,
       |${pqCtesSql(cfg)},
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm FROM e WHERE ${probeInSql("vec_id", "e")}),
       |pc AS (
       |  SELECT q.q_id, c.cent_id AS cell,
       |         row_number() OVER (PARTITION BY q.q_id ORDER BY ${r6Sql(s"${dotSql("q.q_emb", "c.centroid")} / (q.q_nrm * c.c_nrm)")} DESC, c.cent_id) AS cell_rank
       |  FROM q CROSS JOIN c2 c),
       |probecells AS (SELECT q_id, cell FROM pc WHERE cell_rank <= $NProbe),
       |adcs AS (
       |  SELECT p.q_id, c.vec_id, ${pqAdcTermsSql(cfg.m)} AS adc
       |  FROM codesw c
       |  JOIN cells s ON c.vec_id = s.vec_id
       |  JOIN probecells p ON s.cell = p.cell AND c.vec_id <> p.q_id
       |  JOIN lutw l ON l.q_id = p.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, adc,
       |         row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, vec_id) AS rank
       |  FROM adcs),
       |${pqRerankTailSql(cfg.refine)}""".stripMargin
  }

  // ---------------------------------------------------- corpus clustering
  /** Public cell-assignment entry point: assign caller-supplied vectors to
    * a FIXED trained quantizer (cent_id/centroid/c_nrm columns, e.g. from
    * [[kmeansCentroidsOn]]) — the IVF index-ingestion step as a first-class
    * operator, and what [[graft.streaming.Streams.eachBatch]] streams new
    * vectors through (stateless per micro-batch). Emits (vec_id, cell,
    * ccos): the assigned cell and the r6-rounded cosine to its centroid. */
  def assignCellsAgainstOn(embeddings: DataFrame, cent: DataFrame): DataFrame =
    assignCells(withNorm(embeddings), cent.select("cent_id", "centroid", "c_nrm"))
      .join(broadcast(cent.select(col("cent_id").as("cell"),
        col("centroid"), col("c_nrm"))), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        r6(dot(col("embedding"), col("centroid")) / (col("nrm") * col("c_nrm"))).as("ccos"))

  /** Registered clustering query: every corpus vector's trained-quantizer
    * cell + centroid cosine — the full k-means clustering of the corpus as
    * a product (SemDeDup sharding, curriculum grouping, IVF index build all
    * consume exactly this table). One broadcast-centroid corpus pass after
    * training; the oracle shares [[kmeansCellsSql]] with the IVF family. */
  def kmeansAssignOn(embeddings: DataFrame, cfg: KmeansCfg = KmeansCfg()): DataFrame = {
    val cent = kmeansCentroidsOn(embeddings, cfg).persist()
    assignCellsAgainstOn(embeddings, cent)
  }

  def kmeansAssign(spark: SparkSession, dir: String): DataFrame =
    // frozen quantizer (train-once contract): assignment-only per call
    assignCellsAgainstOn(Tables.embeddings(spark, dir),
      frozenCentroids(spark, dir, KmeansCfg(dims = Dims)))

  lazy val kmeansAssignSql: String =
    s"""WITH $kmeansCellsSql
       |SELECT s.vec_id, s.cell,
       |       ${r6Sql(s"${dotSql("s.embedding", "c.centroid")} / (s.nrm * c.c_nrm)")} AS ccos
       |FROM cells s JOIN c2 c ON s.cell = c.cent_id
       |ORDER BY s.vec_id""".stripMargin

  // ------------------------------------------------- slice drift monitor
  /** Embedding-distribution drift monitor: each label-slice's centroid
    * compared (cosine) against the GLOBAL corpus centroid — the dataset-
    * shift dashboard for an embedding pipeline (a slice whose mean vector
    * swings away from the corpus mean signals a distribution change in
    * that source/class; re-index or re-balance before it poisons
    * retrieval). Built on the same [[centroidsOn]] as the IVF family so
    * slice means cannot drift from the search side's.
    *
    * 100 TB design: two VecSum aggregates (per-label + global, both
    * map-side combinable, O(dims) state) and a |labels|-row broadcast
    * join; no corpus-sized shuffle beyond the label agg. */
  def embedDriftOn(embeddings: DataFrame): DataFrame = {
    val vsum = graft.functions.VecSum.fn
    val g = embeddings
      .withColumn("emb_d", transform(col("embedding"), x => x.cast("double")))
      .agg(count(lit(1)).as("g_n"), vsum(col("emb_d")).as("g_sums"))
      .withColumn("g_centroid", transform(col("g_sums"), s => s / col("g_n")))
      .select("g_n", "g_centroid")
    centroidsOn(embeddings)
      .crossJoin(broadcast(g))
      .select(col("label"), col("n"),
        r6(dot(col("centroid"), col("g_centroid"))
          / (norm(col("centroid")) * norm(col("g_centroid")))).as("drift_cos"))
  }

  def embedDrift(spark: SparkSession, dir: String): DataFrame =
    embedDriftOn(Tables.embeddings(spark, dir))

  lazy val embedDriftSql: String = {
    val sums = (0 until Dims).map(i => s"sum(CAST(embedding[${i + 1}] AS DOUBLE))").mkString(", ")
    s"""WITH $centroidsSql,
       |g0 AS (SELECT count(*) AS g_n, [$sums] AS g_sums FROM embeddings),
       |g AS (SELECT list_transform(g_sums, s -> s / g_n) AS g_centroid FROM g0)
       |SELECT c.label, c.n,
       |       ${r6Sql(s"${dotSql("c.centroid", "g.g_centroid")} / (${normSql("c.centroid")} * ${normSql("g.g_centroid")})")} AS drift_cos
       |FROM cent c CROSS JOIN g
       |ORDER BY c.label""".stripMargin
  }

  // ------------------------------------------------- per-dimension statistics
  /** Per-dimension mean/std of the embedding corpus — the normalization /
    * whitening table: an embedding pipeline centers and scales dimensions
    * before indexing (or diagnoses dead and dominant dimensions) from
    * exactly this output. Variance via E[x²]−E[x]² (clamped at 0 for fp
    * noise) so both engines compute the identical expression.
    *
    * 100 TB design: one posexplode (×dims rows, map-side combinable into
    * |dims| groups — partials collapse to 64 rows per partition before the
    * one tiny shuffle); no join, no window. */
  def dimStatsOn(embeddings: DataFrame): DataFrame =
    embeddings.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .select((col("pos") + 1).cast("long").as("dim"), col("x").cast("double").as("x"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        r6(avg(col("x"))).as("mean"),
        r6(sqrt(greatest(lit(0.0),
          avg(col("x") * col("x")) - avg(col("x")) * avg(col("x"))))).as("std"))

  def dimStats(spark: SparkSession, dir: String): DataFrame =
    dimStatsOn(Tables.embeddings(spark, dir))

  lazy val dimStatsSql: String =
    s"""WITH ex AS (
       |  SELECT r.i AS dim, CAST(embedding[r.i] AS DOUBLE) AS x
       |  FROM embeddings CROSS JOIN range(1, ${Dims + 1}) r(i))
       |SELECT CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
       |       ${r6Sql("avg(x)")} AS mean,
       |       ${r6Sql("sqrt(greatest(0.0, avg(x*x) - avg(x)*avg(x)))")} AS std
       |FROM ex GROUP BY dim ORDER BY dim""".stripMargin

  // ------------------------------------------------- hard-negative mining
  /** Contrastive hard-negative mining: for each strided probe vector, the
    * top-[[TopK]] most-similar corpus vectors with a DIFFERENT label —
    * "near in embedding space, wrong class", the negatives contrastive /
    * metric-learning training wants (random negatives are too easy to carry
    * gradient; the hardest ones live next to the anchor). Candidate
    * generation is the k-means IVF cell bound — the same nprobe/ncells
    * machinery as the ANN queries, because hard-negative mining at corpus
    * scale IS an ANN search with a label-mismatch predicate.
    *
    * 100 TB design: centroids broadcast, probes bounded to nprobe cells,
    * the label rides a vec_id-keyed (primary key) join carrying only
    * (vec_id, label); per-probe ranking is a window over the cell-bounded
    * candidate set, never the corpus. */
  def hardNegativesOn(embeddings: DataFrame, nProbe: Int = NProbe,
                      cfg: KmeansCfg = KmeansCfg()): DataFrame =
    // persisted: probe ranking + corpus assignment both re-run Lloyd without it
    hardNegativesSearch(embeddings, kmeansCentroidsOn(embeddings, cfg).persist(), nProbe)

  /** The mining phase against a GIVEN quantizer — shared by the
    * self-training form and the frozen-model registered query. */
  private def hardNegativesSearch(embeddings: DataFrame, cent: DataFrame,
                                  nProbe: Int): DataFrame = {
    val e = withNorm(embeddings)
    val corpus = assignCells(e, cent)
      .join(embeddings.select(col("vec_id"), col("label")), Seq("vec_id"))
    val queries = probeFilter(corpus)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("label").as("q_label"))
    val probes = probeCells(queries.select("q_id", "q_emb", "q_nrm"),
        cent.select(col("cent_id").as("cell"), col("centroid"), col("c_nrm")), nProbe)
      .join(broadcast(queries.select(col("q_id"), col("q_label"))), Seq("q_id"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
      .withColumn("cos", fastDot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= lit(TopK))
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("label"), r6(col("cos")).as("cosine"))
  }

  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    // frozen quantizer: mining only per call
    hardNegativesSearch(Tables.embeddings(spark, dir),
      frozenCentroids(spark, dir, KmeansCfg(dims = Dims)), NProbe)

  lazy val hardNegativesSql: String =
    s"""WITH $kmeansCellsSql,
       |corpus AS (
       |  SELECT c.vec_id, c.embedding, c.nrm, c.cell, l.label
       |  FROM cells c JOIN embeddings l ON c.vec_id = l.vec_id),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm, label AS q_label
       |      FROM corpus WHERE ${probeInSql("vec_id", "corpus")}),
       |pc AS (
       |  SELECT q.q_id, q.q_emb, q.q_nrm, q.q_label, c.cent_id AS cell,
       |         row_number() OVER (PARTITION BY q.q_id ORDER BY ${r6Sql(s"${dotSql("q.q_emb", "c.centroid")} / (q.q_nrm * c.c_nrm)")} DESC, c.cent_id) AS cell_rank
       |  FROM q CROSS JOIN c2 c),
       |probes AS (SELECT q_id, q_emb, q_nrm, q_label, cell FROM pc WHERE cell_rank <= $NProbe),
       |scored AS (
       |  SELECT p.q_id, s.vec_id, s.label,
       |         ${dotSql("p.q_emb", "s.embedding")} / (p.q_nrm * s.nrm) AS cos
       |  FROM corpus s JOIN probes p
       |    ON s.cell = p.cell AND s.vec_id <> p.q_id AND s.label <> p.q_label),
       |ranked AS (
       |  SELECT q_id, vec_id, label, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id, label, ${r6Sql("cos")} AS cosine
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------- embedding outlier gate
  /** Own-centroid cosine below this flags a vector as an embedding-space
    * outlier — ~p05 of the sf0.01 own-centroid cosine distribution
    * (quantile sweep recorded in BASELINE.md), the usual curation regime of
    * pruning the farthest few percent. The compare runs on the r6-rounded
    * ccos both engines emit, so the gate is float-exact across them. */
  val OutlierCosMin = 0.13

  /** Embedding-space outlier gate: flag vectors far from their own trained
    * cluster centroid — off-distribution or mislabeled samples sit far from
    * every centroid, so their cosine to even the NEAREST one is low. The
    * centroid-distance prune DataComp-style curation applies to embedding
    * pools, as a keep/drop manifest over the whole corpus.
    *
    * Cost shape is identical to [[kmeansAssignOn]] (it IS that table plus a
    * projection): Lloyd training bounded by k·iters broadcast passes, then
    * one broadcast-centroid assignment pass; nothing corpus-sized shuffles
    * beyond the per-vector argmax agg, so the gate scales like the IVF
    * index build it shares plans with. */
  def embedOutliersOn(embeddings: DataFrame, cfg: KmeansCfg = KmeansCfg(),
                      cosMin: Double = OutlierCosMin): DataFrame =
    kmeansAssignOn(embeddings, cfg)
      .withColumn("keep", col("ccos") >= lit(cosMin))

  def embedOutliers(spark: SparkSession, dir: String): DataFrame =
    // frozen quantizer: the gate is the frozen assignment plus a projection
    assignCellsAgainstOn(Tables.embeddings(spark, dir),
      frozenCentroids(spark, dir, KmeansCfg(dims = Dims)))
      .withColumn("keep", col("ccos") >= lit(OutlierCosMin))

  lazy val embedOutliersSql: String = {
    val ccos = r6Sql(s"${dotSql("s.embedding", "c.centroid")} / (s.nrm * c.c_nrm)")
    s"""WITH $kmeansCellsSql
       |SELECT s.vec_id, s.cell, $ccos AS ccos, $ccos >= $OutlierCosMin AS keep
       |FROM cells s JOIN c2 c ON s.cell = c.cent_id
       |ORDER BY s.vec_id""".stripMargin
  }

  // ------------------------------------------------- monitored ANN recall
  /** Recall@[[TopK]] of the two frozen-model indexes (k-means IVF, IVF-PQ
    * with exact re-rank) against the exact brute-force ground truth, one
    * row per method — the recall studies previously recorded only as
    * BASELINE.md prose, promoted to a registered query so an index or
    * training regression surfaces as a changed value in the per-round
    * correctness/bench artifacts instead of needing a manual study.
    *
    * Plan: ground truth computes once (persisted — it feeds one
    * pair-membership join per method), each method joins its (q_id,
    * neighbor_id) pairs back on the co-keyed pair, and the result is a
    * |methods|-row aggregate. Cost is dominated by the indexes themselves;
    * the recall bookkeeping adds two bounded joins over top-k-sized sets. */
  def knnRecall(spark: SparkSession, dir: String): DataFrame = {
    // ONE shared probe pick for the ground truth and all six variants
    // (round 19): standalone, each variant re-runs its own id-distinct
    // pick — correct but ~2 driver jobs per variant when composed here.
    // Interchangeable by construction: every variant's frame carries the
    // same distinct vec_id set, so [[probeIds]] computes the identical
    // smallest-ProbeBudget pick each would compute itself (each variant's
    // dumped output is byte-identical either way — oracle-checked).
    // NOT shared between the two PQ variants: one checkpointed encode
    // (codesW/lutW) was tried and measured WORSE (20→28 steady-state
    // jobs, 134→361 tasks — the materialization cascade plus the lost
    // stage fusion cost more than the duplicated encode saves at any
    // probe budget).
    val emb = Tables.embeddings(spark, dir)
    val pids = Some(probeIds(emb))
    val bf = knnBruteForceOn(emb, pids).select(col("q_id"), col("neighbor_id")).persist()
    def row(method: String, ann: DataFrame): DataFrame =
      bf.join(ann.select(col("q_id"), col("neighbor_id"), lit(1L).as("hit")),
          Seq("q_id", "neighbor_id"), "left")
        .agg(countDistinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
        .select(lit(method).as("method"), col("n_queries"), col("n_pairs"), col("n_hits"),
          r6(col("n_hits").cast("double") / col("n_pairs")).as("recall"))
    val sq8 = { val (lo, hi) = frozenSq8(spark, dir); knnSq8On(emb, lo, hi, pids) }
    row("ivf_kmeans", knnIvfKmeansFrozen(spark, dir, pids))
      .unionByName(row("ivfpq", knnIvfPqFrozen(spark, dir, pids)))
      .unionByName(row("lsh", knnLshOn(emb, pids)))
      .unionByName(row("ivf_label", knnIvfOn(emb, NProbe, pids)))
      .unionByName(row("pq", knnPqFrozen(spark, dir, pids)))
      .unionByName(row("sq8", sq8))
  }

  /** Oracle: the same membership join over the full brute-force and
    * per-method oracle queries as derived tables — recall is re-derived
    * from scratch on the oracle side, so a drift in ANY piece (ground
    * truth, quantizer training, search, re-rank) breaks the compare. */
  lazy val knnRecallSql: String = {
    def m(name: String, annSql: String): String =
      s"""SELECT '$name' AS method,
         |       CAST(count(DISTINCT b.q_id) AS BIGINT) AS n_queries,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(count(a.q_id) AS BIGINT) AS n_hits,
         |       ${r6Sql("count(a.q_id) * 1.0 / count(*)")} AS recall
         |FROM ($knnBruteForceSql) b
         |LEFT JOIN ($annSql) a ON b.q_id = a.q_id AND b.neighbor_id = a.neighbor_id""".stripMargin
    s"""SELECT * FROM (
       |${m("ivf_kmeans", knnIvfKmeansSql)}
       |UNION ALL
       |${m("ivfpq", knnIvfPqSql)}
       |UNION ALL
       |${m("lsh", knnLshSql)}
       |UNION ALL
       |${m("ivf_label", knnIvfSql)}
       |UNION ALL
       |${m("pq", knnPqSql)}
       |UNION ALL
       |${m("sq8", knnSq8Sql)})
       |ORDER BY method""".stripMargin
  }

  // ------------------------------------------------- nprobe tuning curve
  /** Recall@[[TopK]] of the k-means IVF at EVERY nprobe 1..[[KmeansK]] as
    * one table — the ANN twin of `dd_threshold_curve`: retuning the
    * recall/cost knob becomes a table read, not a rerun experiment. One
    * candidate pass computes the whole sweep: each (probe, candidate)
    * pair carries the candidate cell's rank in the probe's cell ordering,
    * explodes to every nprobe ≥ that rank, and a per-(probe, nprobe)
    * top-k window + one membership join against the brute-force truth
    * yields all K recall points. nprobe = [[KmeansK]] is exact brute
    * force by construction, so the curve's last row doubles as a
    * self-check (recall 1.0).
    *
    * Cost: the sweep's candidate set at nprobe = K IS the full
    * probe×corpus product — the same work `s_knn_bruteforce` already
    * does; a 100 TB deployment sweeps on a probe SAMPLE (the fixed
    * [[ProbeBudget]] pick here), which is exactly what this query
    * measures. */
  def nprobeCurve(spark: SparkSession, dir: String): DataFrame = {
    val cent = frozenCentroids(spark, dir, KmeansCfg(dims = Dims))
    val emb = Tables.embeddings(spark, dir)
    val corpus = assignCells(withNorm(emb), cent)
    // one shared pick for the sweep AND its brute-force truth (round 19,
    // the knnRecall convention — identical pick by construction)
    val pids = Some(probeIds(emb))
    val queries = pickFilter(corpus, pids)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val wc = Window.partitionBy("q_id").orderBy(col("ccos_r").desc, col("cell"))
    val probes = queries
      .crossJoin(broadcast(cent.select(col("cent_id").as("cell"), col("centroid"), col("c_nrm"))))
      .withColumn("ccos_r", r6(dot(col("q_emb"), col("centroid")) / (col("q_nrm") * col("c_nrm"))))
      .withColumn("cell_rank", row_number().over(wc))
      .select("q_id", "q_emb", "q_nrm", "cell", "cell_rank")
    val wr = Window.partitionBy("q_id", "nprobe").orderBy(col("cos").desc, col("vec_id"))
    val ann = corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", fastDot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
      .select(col("q_id"), col("vec_id"), col("cos"),
        explode(sequence(col("cell_rank"), lit(KmeansK))).as("nprobe"))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= lit(TopK))
      .select(col("nprobe"), col("q_id"), col("vec_id").as("neighbor_id"), lit(1L).as("hit"))
    val bfSweep = knnBruteForceOn(emb, pids)
      .select(col("q_id"), col("neighbor_id"),
        explode(sequence(lit(1), lit(KmeansK))).as("nprobe"))
    bfSweep.join(ann, Seq("nprobe", "q_id", "neighbor_id"), "left")
      .groupBy("nprobe")
      .agg(countDistinct(col("q_id")).as("n_queries"), count(lit(1)).as("n_pairs"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
      .select(col("nprobe").cast("long").as("nprobe"), col("n_queries"), col("n_pairs"),
        col("n_hits"), r6(col("n_hits").cast("double") / col("n_pairs")).as("recall"))
  }

  lazy val nprobeCurveSql: String =
    s"""WITH $kmeansCellsSql,
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm FROM e WHERE ${probeInSql("vec_id", "e")}),
       |pc AS (
       |  SELECT q.q_id, q.q_emb, q.q_nrm, c.cent_id AS cell,
       |         row_number() OVER (PARTITION BY q.q_id ORDER BY ${r6Sql(s"${dotSql("q.q_emb", "c.centroid")} / (q.q_nrm * c.c_nrm)")} DESC, c.cent_id) AS cell_rank
       |  FROM q CROSS JOIN c2 c),
       |cand AS (
       |  SELECT p.q_id, s.vec_id,
       |         ${dotSql("p.q_emb", "s.embedding")} / (p.q_nrm * s.nrm) AS cos, p.cell_rank
       |  FROM cells s JOIN pc p ON s.cell = p.cell AND s.vec_id <> p.q_id),
       |ranked AS (
       |  SELECT pr.p AS nprobe, c.q_id, c.vec_id,
       |         row_number() OVER (PARTITION BY c.q_id, pr.p ORDER BY c.cos DESC, c.vec_id) AS rank
       |  FROM cand c JOIN range(1, ${KmeansK + 1}) pr(p) ON pr.p >= c.cell_rank),
       |ann AS (SELECT nprobe, q_id, vec_id FROM ranked WHERE rank <= $TopK),
       |bfp AS (
       |  SELECT pr.p AS nprobe, b.q_id, b.neighbor_id
       |  FROM ($knnBruteForceSql) b CROSS JOIN range(1, ${KmeansK + 1}) pr(p))
       |SELECT CAST(f.nprobe AS BIGINT) AS nprobe,
       |       CAST(count(DISTINCT f.q_id) AS BIGINT) AS n_queries,
       |       CAST(count(*) AS BIGINT) AS n_pairs,
       |       CAST(count(a.q_id) AS BIGINT) AS n_hits,
       |       ${r6Sql("count(a.q_id) * 1.0 / count(*)")} AS recall
       |FROM bfp f LEFT JOIN ann a
       |  ON f.nprobe = a.nprobe AND f.q_id = a.q_id AND f.neighbor_id = a.vec_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------- PQ distortion monitor
  /** Per-subspace quantization-distortion report of the frozen PQ
    * codebook — the compression-side index-health monitor completing the
    * trio with [[ivfBalanceOn]] (cells) and [[knnRecall]] (search): mean
    * squared reconstruction error per subspace plus codebook utilization
    * (distinct codes actually assigned, ≤ [[PqK]]). Rising distortion or
    * collapsing utilization after corpus drift is the codebook-retrain
    * trigger a production vector store watches.
    *
    * Determinism: assignment uses the same (r6 distance, code) min_by key
    * as the encoder so the chosen codeword can never differ from what
    * [[knnPqOn]] ships; the error itself is the exact double fold, meaned
    * then r6-rounded (the engine-wide mean convention).
    *
    * Scale shape: one corpus pass against the broadcast codebook, one
    * (vec_id, sub)-keyed hash agg, then an m-row rollup. */
  /** Per-(vec, sub) nearest-codeword assignment against a fixed codebook:
    * (vec_id, sub, code, d2) — the shared distance pass behind the
    * distortion ledger and the retrain decision (one broadcast-codebook
    * corpus pass, one (vec_id, sub)-keyed hash agg). */
  private def pqAsgOn(embeddings: DataFrame, cbd: DataFrame, cfg: PqCfg): DataFrame =
    pqSub(embeddings, cfg.m, cfg.dims / cfg.m).join(broadcast(cbd), "sub")
      .withColumn("d2", l2sq(col("sv"), col("cvec")))
      .groupBy("vec_id", "sub")
      .agg(min_by(struct(col("code"), col("d2")), struct(r6(col("d2")), col("code"))).as("a"))
      .select(col("vec_id"), col("sub"), col("a.code").as("code"), col("a.d2").as("d2"))

  /** The m-row distortion ledger from an assignment frame (an m-row
    * rollup — free at any corpus size). */
  private def pqLedgerFrom(asg: DataFrame): DataFrame =
    asg.groupBy("sub")
      .agg(count(lit(1)).as("n_vecs"), countDistinct(col("code")).as("n_codes_used"),
        r6(avg(col("d2"))).as("mean_sq_err"))
      .select(col("sub").cast("long").as("sub"), col("n_vecs"), col("n_codes_used"),
        col("mean_sq_err"))

  /** Caller-supplied-corpus form: distortion of `embeddings` against a
    * fixed trained codebook — what the retrain decision measures on each
    * snapshot slice under the train-once contract. */
  def pqDistortionOn(embeddings: DataFrame, cbd: DataFrame, cfg: PqCfg = PqCfg()): DataFrame =
    pqLedgerFrom(pqAsgOn(embeddings, cbd, cfg))

  def pqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val cfg = PqCfg()
    pqDistortionOn(Tables.embeddings(spark, dir), frozenCodebook(spark, dir, cfg), cfg)
  }

  lazy val pqDistortionSql: String =
    s"""WITH ${pqCtesSql(PqCfg())},
       |asg AS (
       |  SELECT s.vec_id, s.sub, c.code, ${l2sqSql("s.sv", "c.cvec")} AS d2,
       |         row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY ${r6Sql(l2sqSql("s.sv", "c.cvec"))} ASC, c.code) AS rn
       |  FROM sub s JOIN cbd c ON s.sub = c.sub)
       |SELECT CAST(sub AS BIGINT) AS sub, CAST(count(*) AS BIGINT) AS n_vecs,
       |       CAST(count(DISTINCT code) AS BIGINT) AS n_codes_used,
       |       ${r6Sql("avg(d2)")} AS mean_sq_err
       |FROM asg WHERE rn = 1
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------ IVF index health report
  /** Cell-occupancy balance of the frozen coarse quantizer — the ANN index
    * health monitor. IVF scan cost is bounded by the probed cells' sizes,
    * so a skewed quantizer (one giant cell) silently degrades the nprobe
    * bound toward a full scan; this query turns that into a MONITORED
    * number next to `s_knn_recall`: cell count, corpus size, min/max cell
    * and the balance factor max_cell/mean_cell (1.0 = perfectly even — the
    * retrain trigger in an index-maintenance loop). The oracle shares
    * [[kmeansCellsSql]] with the whole IVF family so the cells can't drift.
    *
    * 100 TB shape: one broadcast-centroid assignment pass, a |cells|-sized
    * aggregate, then a single-row reduction. */
  def ivfBalanceOn(embeddings: DataFrame, cent: DataFrame): DataFrame =
    assignCellsAgainstOn(embeddings, cent)
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_cells"), sum(col("n")).as("n_vecs"),
        min(col("n")).as("min_cell"), max(col("n")).as("max_cell"))
      .select(col("n_cells"), col("n_vecs"), col("min_cell"), col("max_cell"),
        r6(col("max_cell") * col("n_cells") / col("n_vecs").cast("double")).as("balance"))

  def ivfBalance(spark: SparkSession, dir: String): DataFrame =
    ivfBalanceOn(Tables.embeddings(spark, dir),
      frozenCentroids(spark, dir, KmeansCfg(dims = Dims)))

  lazy val ivfBalanceSql: String =
    s"""WITH $kmeansCellsSql,
       |percell AS (SELECT cell, count(*) AS n FROM cells GROUP BY 1),
       |s AS (SELECT count(*) AS n_cells, CAST(sum(n) AS BIGINT) AS n_vecs,
       |             min(n) AS min_cell, max(n) AS max_cell FROM percell)
       |SELECT n_cells, n_vecs, min_cell, max_cell,
       |       ${r6Sql("max_cell * n_cells / CAST(n_vecs AS DOUBLE)")} AS balance
       |FROM s""".stripMargin

  // ------------------------------------------- incremental index maintenance
  /** Delta-bounded IVF index maintenance — the ANN twin of
    * [[Corpus.ivmStatsFrom]] / `Dedup.dd_clusters_incremental`: the index's
    * assignment manifest (vec_id → cell) is a FROZEN warehouse artifact, and
    * a snapshot update re-assigns ONLY the newly-ingested vectors against
    * the fixed coarse quantizer. The unchanged majority — at real ingestion
    * cadence, almost everything — never goes back through the distance
    * computation; retired vectors are subtracted from their manifest cell.
    * The output is the per-cell occupancy ledger (n_old / n_added /
    * n_removed / n_new), zero-filled over the quantizer's cell domain — the
    * table an index server consults for probe-cost bounds and the retrain
    * trigger feeds on (pair with [[ivfBalanceOn]]).
    *
    * Correctness discipline: the oracle computes `n_new` by fully
    * RE-ASSIGNING the new snapshot, so the incremental ledger earns its row
    * by matching the from-scratch rebuild exactly (same contract as the
    * incremental cluster manifest and the IVM view).
    *
    * Scale shape: two vec_id-keyed anti joins classify the delta (in
    * production the changelog arrives classified — this is the simulation's
    * price, same as the IVM delta classify), one broadcast-centroid
    * assignment pass over the ADDED slice only, then ≤|cells|-row joins. */
  def ivfUpdateFrom(manifest: DataFrame, newVecs: DataFrame, cent: DataFrame): DataFrame = {
    val added = newVecs.join(manifest.select("vec_id"), Seq("vec_id"), "left_anti")
    val removed = manifest.join(newVecs.select("vec_id"), Seq("vec_id"), "left_anti")
    val base = manifest.groupBy("cell").agg(count(lit(1)).as("n_old"))
    val add = assignCellsAgainstOn(added, cent)
      .groupBy("cell").agg(count(lit(1)).as("n_added"))
    val rem = removed.groupBy("cell").agg(count(lit(1)).as("n_removed"))
    cent.select(col("cent_id").as("cell"))
      .join(base, Seq("cell"), "left")
      .join(add, Seq("cell"), "left")
      .join(rem, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_added"), lit(0L)).as("n_added"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        (coalesce(col("n_old"), lit(0L)) + coalesce(col("n_added"), lit(0L))
          - coalesce(col("n_removed"), lit(0L))).as("n_new"))
  }

  private val ivfManifestCache = new graft.ops.FrozenCaches.DirMemo[Int, String]("ivf_base")

  /** Registered simulation: old snapshot = corpus minus the to-be-added
    * slice, new snapshot = corpus minus the removed slice (the
    * [[Corpus.DeltaMod]] churn convention shared with the whole
    * incremental family — one mod-50 residue class each, so 2% of
    * vectors ingested and 2% retired). The old
    * snapshot's manifest freezes per corpus like every trained model. */
  /** The frozen base-snapshot assignment manifest (vec_id → cell of the
    * corpus minus the to-be-added [[Corpus.DeltaMod]] class), persisted per
    * corpus like every trained model — the warehouse state both the
    * occupancy ledger and the state-rolling update start from. */
  private def frozenIvfManifest(spark: SparkSession, dir: String): DataFrame = {
    val basePath = ivfManifestCache.get(dir, Corpus.DeltaMod) { base =>
      val p = s"$base/manifest.parquet"
      assignCellsAgainstOn(
        Tables.embeddings(spark, dir)
          .filter(pmod(col("vec_id"), lit(Corpus.DeltaMod)) =!= lit(Corpus.DeltaAdded)),
        frozenCentroids(spark, dir, KmeansCfg(dims = Dims)))
        .select("vec_id", "cell").write.parquet(p)
      p
    }
    spark.read.parquet(basePath)
  }

  def ivfUpdate(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cent = frozenCentroids(spark, dir, KmeansCfg(dims = Dims))
    ivfUpdateFrom(frozenIvfManifest(spark, dir),
      emb.filter(pmod(col("vec_id"), lit(Corpus.DeltaMod)) =!= lit(Corpus.DeltaRemoved)),
      cent)
  }

  /** Deliberately the full REBUILD: every count comes from re-assigning the
    * respective snapshot, so the Spark side's incremental arithmetic
    * (n_old + n_added − n_removed) must land exactly on the rebuilt
    * n_new. */
  lazy val ivfUpdateSql: String = {
    val (mod, add, rem) = (Corpus.DeltaMod, Corpus.DeltaAdded, Corpus.DeltaRemoved)
    s"""WITH $kmeansCellsSql,
       |base AS (SELECT cell, count(*) AS n FROM cells WHERE vec_id % $mod <> $add GROUP BY 1),
       |ad AS (SELECT cell, count(*) AS n FROM cells WHERE vec_id % $mod = $add GROUP BY 1),
       |rm AS (SELECT cell, count(*) AS n FROM cells WHERE vec_id % $mod = $rem GROUP BY 1),
       |nw AS (SELECT cell, count(*) AS n FROM cells WHERE vec_id % $mod <> $rem GROUP BY 1)
       |SELECT c.cent_id AS cell,
       |       CAST(coalesce(b.n, 0) AS BIGINT) AS n_old,
       |       CAST(coalesce(a.n, 0) AS BIGINT) AS n_added,
       |       CAST(coalesce(r.n, 0) AS BIGINT) AS n_removed,
       |       CAST(coalesce(w.n, 0) AS BIGINT) AS n_new
       |FROM c2 c LEFT JOIN base b ON c.cent_id = b.cell
       |          LEFT JOIN ad a ON c.cent_id = a.cell
       |          LEFT JOIN rm r ON c.cent_id = r.cell
       |          LEFT JOIN nw w ON c.cent_id = w.cell
       |ORDER BY cell""".stripMargin
  }

  // --------------------------------------- state-rolling index maintenance
  /** State-rolling IVF assignment update — the ANN twin of
    * [[Dedup.dupWarehouseUpdateOn]] / [[Corpus.manifestWarehouseUpdateOn]]:
    * takes the PREVIOUS snapshot's frozen assignment manifest and returns
    * the NEXT snapshot's full manifest, so the update chains indefinitely
    * across snapshots instead of only reporting one hop's ledger
    * ([[ivfUpdateFrom]] stays the occupancy-report form; this is the state
    * the next update starts from).
    *
    * Delta classification by vec_id: added = in next only, retired = in
    * prev only, changed = both sides but a different embedding (detected by
    * exact array comparison — the simulation's price, same note as
    * [[ivfUpdateFrom]]: a production changelog arrives classified and the
    * two anti joins plus the equality probe disappear). Only the
    * added ∪ changed slice crosses the broadcast quantizer; the carried
    * majority — at real ingestion cadence, almost everything — keeps its
    * manifest cell without re-scoring, and the retired ∪ changed rows are
    * anti-joined out. Invariant (spec-pinned and oracled): chained updates
    * land bit-identically on a from-scratch re-assignment of the final
    * snapshot under the frozen quantizer, because per-vector assignment
    * depends only on (embedding, quantizer).
    *
    * 100 TB shape: two vec_id-keyed anti joins + one equi-join (no distance
    * math), one broadcast-centroid pass over the fresh slice only, and a
    * union — no corpus-sized shuffle beyond the id-keyed joins.
    *
    * `precomputedAssign` is the STREAMED-INGEST seam (the ANN twin of
    * [[Corpus.manifestWarehouseUpdateOn]]'s `precomputedFeatFresh`): a
    * deployment that runs arriving vectors through
    * [[assignCellsAgainstOn]] per micro-batch already holds every
    * fresh vector's (vec_id, cell) row — assignment is vector-local under
    * the frozen quantizer, so ingest-time rows are final — and the
    * periodic reconciliation must not re-run the distance pass. Contract:
    * the supplied frame covers the delta's added ∪ changed vec_ids,
    * assigned against the SAME quantizer (extra rows — e.g. ingested
    * vectors later retired — are semi-joined away). StreamsSpec pins
    * stream-fed reconcile ≡ the self-assigning update ≡ from-scratch. */
  def ivfWarehouseUpdateOn(prev: DataFrame, next: DataFrame,
                           manifestOld: DataFrame, cent: DataFrame,
                           precomputedAssign: Option[DataFrame] = None): DataFrame = {
    val p = prev.select(col("vec_id"), col("embedding"))
    val n = next.select(col("vec_id"), col("embedding"))
    val added = n.join(p.select("vec_id"), Seq("vec_id"), "left_anti")
    val changed = n.as("nn").join(p.as("pp"), "vec_id")
      .filter(!(col("nn.embedding") <=> col("pp.embedding")))
      .select(col("vec_id"), col("nn.embedding").as("embedding"))
    val fresh = added.unionByName(changed)
    val retired = p.select("vec_id").join(n.select("vec_id"), Seq("vec_id"), "left_anti")
      .unionByName(changed.select("vec_id"))
    val freshAssigned = precomputedAssign match {
      case Some(pre) =>
        // coverage fail-fast (|delta|-bounded job): a supplied frame
        // missing an added/changed vec_id would silently drop that vector
        // from the manifest — the documented contract, now enforced.
        // Extra rows (e.g. ingested vectors later retired) stay allowed:
        // the semi-join below discards them.
        val missing = fresh.select("vec_id")
          .join(pre.select("vec_id"), Seq("vec_id"), "left_anti").limit(1).count()
        require(missing == 0,
          "precomputedAssign does not cover every added/changed vec_id")
        pre.join(fresh.select("vec_id"), Seq("vec_id"), "left_semi")
      case None => assignCellsAgainstOn(fresh, cent)
    }
    manifestOld.join(retired, Seq("vec_id"), "left_anti")
      .select("vec_id", "cell")
      .unionByName(freshAssigned.select("vec_id", "cell"))
  }

  /** Second-hop retirement class of the registered rolled series — disjoint
    * from the shared add/remove/change trio so both hops churn. */
  val RolledRemoved2 = 7

  /** Frozen ROLLED assignment manifest: the s1 snapshot's manifest as
    * PRODUCED BY the first [[ivfWarehouseUpdateOn]] hop (s0 + adds −
    * retires against the frozen base) — persisted once per corpus, so the
    * registered rolled row measures the steady-state regime (one update
    * FROM rolled state; `s_ivf_update` already measures hop 1's regime),
    * matching `dd_clusters_rolled`'s frozen-warehouse discipline. */
  private val ivfRolledCache =
    new graft.ops.FrozenCaches.DirMemo[Int, String]("ivf_rolled_base")

  private def frozenRolledManifest(spark: SparkSession, dir: String): DataFrame = {
    val path = ivfRolledCache.get(dir, Corpus.DeltaMod) { base =>
      val emb = Tables.embeddings(spark, dir)
      val cent = frozenCentroids(spark, dir, KmeansCfg(dims = Dims))
      val r = pmod(col("vec_id"), lit(Corpus.DeltaMod))
      val s0 = emb.filter(r =!= lit(Corpus.DeltaAdded))
      val s1 = emb.filter(r =!= lit(Corpus.DeltaRemoved))
      val p = s"$base/manifest.parquet"
      ivfWarehouseUpdateOn(s0, s1, frozenIvfManifest(spark, dir), cent).write.parquet(p)
      p
    }
    spark.read.parquet(path)
  }

  /** Registered chain of [[ivfWarehouseUpdateOn]] under the frozen
    * quantizer: hop 1 (s0→s1: adds [[Corpus.DeltaAdded]], retires
    * [[Corpus.DeltaRemoved]]) freezes once per corpus as the rolled
    * warehouse — a LEDGERED build, since `s_ivf_update` already measures
    * that regime — and the registered row measures hop 2 FROM rolled
    * state: s1→s2 retires [[RolledRemoved2]] and CHANGES
    * [[Corpus.DeltaChanged]] (embedding negated — a deterministic,
    * sign-flipping revision both engines express exactly). The oracle is
    * a genuinely from-scratch re-assignment of the final snapshot, so the
    * chained manifest earns its row by landing on the rebuild exactly —
    * the same contract as `dd_clusters_rolled` and
    * `t_manifest_incremental`. The in-process multi-hop chain lives in
    * SimilaritySpec (hand 2-hop with re-adds + the N-hop ScalaCheck
    * property). */
  def ivfRolled(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cent = frozenCentroids(spark, dir, KmeansCfg(dims = Dims))
    val r = pmod(col("vec_id"), lit(Corpus.DeltaMod))
    val s1 = emb.filter(r =!= lit(Corpus.DeltaRemoved))
    val s2 = emb.filter(r =!= lit(Corpus.DeltaRemoved) && r =!= lit(RolledRemoved2))
      .withColumn("embedding",
        when(r === lit(Corpus.DeltaChanged),
          transform(col("embedding"), x => negate(x))).otherwise(col("embedding")))
    ivfWarehouseUpdateOn(s1, s2, frozenRolledManifest(spark, dir), cent)
  }

  /** Deliberately the full REBUILD: train the quantizer, build the final
    * snapshot (removals filtered, changed class negated), assign every
    * vector from scratch. */
  lazy val ivfRolledSql: String = {
    val (mod, rem, chg, rem2) =
      (Corpus.DeltaMod, Corpus.DeltaRemoved, Corpus.DeltaChanged, RolledRemoved2)
    s"""WITH $kmeansCellsSql,
       |s2 AS (
       |  SELECT vec_id,
       |         CASE WHEN vec_id % $mod = $chg THEN list_transform(embedding, x -> -x)
       |              ELSE embedding END AS embedding
       |  FROM embeddings WHERE vec_id % $mod <> $rem AND vec_id % $mod <> $rem2),
       |e2 AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM s2),
       |a2 AS (
       |  SELECT e.vec_id, c.cent_id,
       |         row_number() OVER (PARTITION BY e.vec_id ORDER BY ${r6Sql(s"${dotSql("e.embedding", "c.centroid")} / (e.nrm * c.c_nrm)")} DESC, c.cent_id) AS rn
       |  FROM e2 e CROSS JOIN c2 c)
       |SELECT vec_id, cent_id AS cell FROM a2 WHERE rn = 1
       |ORDER BY vec_id""".stripMargin
  }

  // ------------------------------------------------- IVF retrain decision
  /** Retrain/keep thresholds for the coarse quantizer, in the decision
    * table's own units: retrain when the post-update balance factor
    * (max cell / mean cell over n_new) exceeds [[RetrainBalanceMax]], when
    * delta churn ((added+removed)/old) exceeds [[RetrainChurnMax]], or
    * when any previously-occupied cell has EMPTIED (its probe share became
    * dead weight). A cell the quantizer never filled (n_old = n_new = 0 —
    * Lloyd can converge with unused clusters) is the quantizer's standing
    * shape, not an update-regime signal, and must not wedge the alarm
    * permanently on. */
  val RetrainBalanceMax = 2.0
  val RetrainChurnMax = 0.1

  /** The IVF retrain trigger as a DECISION TABLE — closing the maintenance
    * loop the round-10 trio left open: [[ivfBalanceOn]] measures index
    * health, [[ivfUpdateFrom]] maintains assignments, and this row JOINS
    * the two concerns into the retrain/keep verdict an index server acts
    * on. One row: cell count, old/new corpus sizes, churn fraction,
    * pre/post-update balance factors, emptied-cell count, one boolean per
    * trigger, and the composed verdict ('retrain' iff any trigger fires).
    *
    * Zero own measurement (the funnel discipline): every number derives
    * from the [[ivfUpdateFrom]] occupancy LEDGER the registry already
    * proves — the Spark side aggregates the registered `s_ivf_update`
    * frame, the oracle embeds its oracle SQL — so the decision can never
    * disagree with the ledger it summarizes.
    *
    * Determinism: all inputs are exact BIGINT cell counts; each ratio is
    * one double expression r6-rounded BEFORE its threshold compare, so a
    * verdict can't flip on a last-ulp (the w_rate_spike convention).
    *
    * Scale shape: a ≤|cells|-row aggregate over the ledger — free at any
    * corpus size; the ledger itself is the delta-bounded plan `s_ivf_update`
    * pins. */
  def ivfRetrainFrom(ledger: DataFrame): DataFrame = {
    val churn = r6((col("na") + col("nr")) / col("n_vecs_old").cast("double"))
    val balOld = r6(col("mo") * col("n_cells") / col("n_vecs_old").cast("double"))
    val balNew = r6(col("mn") * col("n_cells") / col("n_vecs_new").cast("double"))
    ledger.agg(
        count(lit(1)).as("n_cells"),
        sum("n_old").as("n_vecs_old"), sum("n_new").as("n_vecs_new"),
        sum("n_added").as("na"), sum("n_removed").as("nr"),
        max("n_old").as("mo"), max("n_new").as("mn"),
        sum(when(col("n_old") > 0L && col("n_new") === 0L, 1L).otherwise(0L))
          .as("n_empty_cells"))
      .select(col("n_cells"), col("n_vecs_old"), col("n_vecs_new"),
        churn.as("churn"), balOld.as("balance_old"), balNew.as("balance_new"),
        col("n_empty_cells"),
        (balNew > lit(RetrainBalanceMax)).as("trigger_balance"),
        (churn > lit(RetrainChurnMax)).as("trigger_churn"),
        (col("n_empty_cells") > 0L).as("trigger_empty"))
      .withColumn("verdict",
        when(col("trigger_balance") || col("trigger_churn") || col("trigger_empty"),
          "retrain").otherwise("keep"))
  }

  def ivfRetrain(spark: SparkSession, dir: String): DataFrame =
    ivfRetrainFrom(ivfUpdate(spark, dir))

  /** Oracle: the registered update-ledger oracle verbatim, then the same
    * integer-exact aggregate + r6-then-compare arithmetic. */
  lazy val ivfRetrainSql: String =
    s"""WITH led AS (SELECT * FROM ($ivfUpdateSql)),
       |s AS (
       |  SELECT count(*) AS n_cells,
       |         CAST(sum(n_old) AS BIGINT) AS n_vecs_old,
       |         CAST(sum(n_new) AS BIGINT) AS n_vecs_new,
       |         CAST(sum(n_added) AS BIGINT) AS na,
       |         CAST(sum(n_removed) AS BIGINT) AS nr,
       |         max(n_old) AS mo, max(n_new) AS mn,
       |         CAST(sum(CASE WHEN n_old > 0 AND n_new = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_cells
       |  FROM led)
       |SELECT n_cells, n_vecs_old, n_vecs_new,
       |       ${r6Sql("(na + nr) / CAST(n_vecs_old AS DOUBLE)")} AS churn,
       |       ${r6Sql("mo * n_cells / CAST(n_vecs_old AS DOUBLE)")} AS balance_old,
       |       ${r6Sql("mn * n_cells / CAST(n_vecs_new AS DOUBLE)")} AS balance_new,
       |       n_empty_cells,
       |       ${r6Sql("mn * n_cells / CAST(n_vecs_new AS DOUBLE)")} > $RetrainBalanceMax AS trigger_balance,
       |       ${r6Sql("(na + nr) / CAST(n_vecs_old AS DOUBLE)")} > $RetrainChurnMax AS trigger_churn,
       |       n_empty_cells > 0 AS trigger_empty,
       |       CASE WHEN ${r6Sql("mn * n_cells / CAST(n_vecs_new AS DOUBLE)")} > $RetrainBalanceMax
       |              OR ${r6Sql("(na + nr) / CAST(n_vecs_old AS DOUBLE)")} > $RetrainChurnMax
       |              OR n_empty_cells > 0
       |            THEN 'retrain' ELSE 'keep' END AS verdict
       |FROM s""".stripMargin

  // -------------------------------------------------- PQ retrain decision
  /** Retrain/keep thresholds for the PQ codebook, in the decision table's
    * units: retrain when the corpus-wide quantization distortion has
    * DRIFTED past [[PqDriftMax]] × its base-snapshot level (the codebook no
    * longer fits the data it compresses), when any subspace's codeword
    * utilization has collapsed below [[PqUtilMin]] of [[PqK]] (dead
    * codewords = wasted bits and a degenerate ADC table), or when corpus
    * churn since training exceeds the shared [[RetrainChurnMax]]. */
  val PqDriftMax = 1.2
  val PqUtilMin = 0.5

  /** The PQ retrain trigger as a DECISION TABLE — the codebook twin of
    * [[ivfRetrainFrom]], closing the compression side of the maintenance
    * loop: [[pqDistortionOn]] measures codebook health per snapshot,
    * [[ivfUpdateFrom]] measures churn, and this row joins the three
    * ledgers into the retrain/keep verdict.
    *
    * Zero own measurement (the funnel discipline): every number is an
    * aggregate of ledgers the registry already proves — two distortion
    * ledgers (base snapshot at training time vs the current snapshot, both
    * under the FROZEN codebook) and the `s_ivf_update` occupancy ledger for
    * churn — so the decision can never disagree with the monitors it
    * summarizes. Drift is the ratio of the two corpus-mean distortions
    * (per-sub n_vecs are equal, so the unweighted mean over subspaces IS
    * the corpus mean); utilization is the worst subspace's live-codeword
    * fraction on the CURRENT snapshot.
    *
    * Determinism: per-sub inputs are r6-rounded ledger cells; each derived
    * ratio is r6-rounded BEFORE its threshold compare (the w_rate_spike
    * convention). Scale shape: three ≤max(m, cells)-row aggregates joined
    * as 1-row broadcast frames — free at any corpus size. */
  def pqRetrainFrom(distBase: DataFrame, distNew: DataFrame,
                    ivfLedger: DataFrame): DataFrame = {
    val b = distBase.agg(count(lit(1)).as("n_subs"), avg("mean_sq_err").as("mb"))
    val n = distNew.agg(avg("mean_sq_err").as("mn"),
      min("n_codes_used").as("codes_used_min"))
    val c = ivfLedger.agg(sum("n_old").as("no"), sum("n_added").as("na"),
      sum("n_removed").as("nr"))
    val drift = r6(col("mn") / col("mb"))
    val util = r6(col("codes_used_min") / lit(PqK.toDouble))
    val churn = r6((col("na") + col("nr")) / col("no").cast("double"))
    // 1-row × 1-row × 1-row: three scalar ledger rollups, not data joins
    b.crossJoin(broadcast(n)).crossJoin(broadcast(c))
      .select(col("n_subs"), r6(col("mb")).as("mse_base"), r6(col("mn")).as("mse_new"),
        drift.as("drift"), col("codes_used_min"), util.as("util_min"),
        churn.as("churn"),
        (drift > lit(PqDriftMax)).as("trigger_drift"),
        (util < lit(PqUtilMin)).as("trigger_util"),
        (churn > lit(RetrainChurnMax)).as("trigger_churn"))
      .withColumn("verdict",
        when(col("trigger_drift") || col("trigger_util") || col("trigger_churn"),
          "retrain").otherwise("keep"))
  }

  /** Registered form over the shared churn convention: ONE assignment pass
    * of the full corpus against the frozen codebook, sliced by residue into
    * the base ledger (corpus minus the added class — the snapshot the
    * codebook was trained against in the warehouse timeline) and the
    * current ledger (corpus minus the removed class); churn comes from the
    * registered `s_ivf_update` ledger. Slicing one assignment frame is
    * sound because per-(vec, sub) codeword choice depends only on
    * (subvector, codebook) — membership in a slice can't move it. */
  def pqRetrain(spark: SparkSession, dir: String): DataFrame = {
    val cfg = PqCfg()
    val asg = pqAsgOn(Tables.embeddings(spark, dir),
      frozenCodebook(spark, dir, cfg), cfg).persist() // 2 consumers: both slices
    val r = pmod(col("vec_id"), lit(Corpus.DeltaMod))
    // the decision table is 1 row: materialize it eagerly so the
    // assignment cache can be released before returning (ADVICE r13 —
    // no session-lifetime corpus-sized cache left behind)
    val out = pqRetrainFrom(
      pqLedgerFrom(asg.filter(r =!= lit(Corpus.DeltaAdded))),
      pqLedgerFrom(asg.filter(r =!= lit(Corpus.DeltaRemoved))),
      ivfUpdate(spark, dir)).localCheckpoint()
    asg.unpersist()
    out
  }

  /** Oracle: one scratch-trained codebook + assignment (the pq CTEs), the
    * two residue-sliced ledgers, the verbatim update-ledger oracle for
    * churn, then the same r6-then-compare arithmetic. */
  lazy val pqRetrainSql: String = {
    val (mod, add, rem) = (Corpus.DeltaMod, Corpus.DeltaAdded, Corpus.DeltaRemoved)
    val driftSql = r6Sql("mn / mb")
    val utilSql = r6Sql(s"cu / ${PqK}.0")
    val churnSql = r6Sql("(na + nr) / CAST(no AS DOUBLE)")
    s"""WITH ${pqCtesSql(PqCfg())},
       |asg AS (
       |  SELECT s.vec_id, s.sub, c.code, ${l2sqSql("s.sv", "c.cvec")} AS d2,
       |         row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY ${r6Sql(l2sqSql("s.sv", "c.cvec"))} ASC, c.code) AS rn
       |  FROM sub s JOIN cbd c ON s.sub = c.sub),
       |a1 AS (SELECT * FROM asg WHERE rn = 1),
       |lb AS (SELECT sub, ${r6Sql("avg(d2)")} AS mse FROM a1 WHERE vec_id % $mod <> $add GROUP BY 1),
       |ln2 AS (SELECT sub, count(DISTINCT code) AS ncu, ${r6Sql("avg(d2)")} AS mse
       |        FROM a1 WHERE vec_id % $mod <> $rem GROUP BY 1),
       |ivf AS (SELECT * FROM ($ivfUpdateSql)),
       |s AS (SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM lb) AS n_subs,
       |  (SELECT avg(mse) FROM lb) AS mb,
       |  (SELECT avg(mse) FROM ln2) AS mn,
       |  (SELECT CAST(min(ncu) AS BIGINT) FROM ln2) AS cu,
       |  (SELECT CAST(sum(n_old) AS BIGINT) FROM ivf) AS no,
       |  (SELECT CAST(sum(n_added) AS BIGINT) FROM ivf) AS na,
       |  (SELECT CAST(sum(n_removed) AS BIGINT) FROM ivf) AS nr)
       |SELECT n_subs, ${r6Sql("mb")} AS mse_base, ${r6Sql("mn")} AS mse_new,
       |       $driftSql AS drift, cu AS codes_used_min, $utilSql AS util_min,
       |       $churnSql AS churn,
       |       $driftSql > $PqDriftMax AS trigger_drift,
       |       $utilSql < $PqUtilMin AS trigger_util,
       |       $churnSql > $RetrainChurnMax AS trigger_churn,
       |       CASE WHEN $driftSql > $PqDriftMax OR $utilSql < $PqUtilMin
       |              OR $churnSql > $RetrainChurnMax
       |            THEN 'retrain' ELSE 'keep' END AS verdict
       |FROM s""".stripMargin
  }

  // ---------------------------------------------- covariance / whitening prep
  /** Upper-triangle covariance matrix of the embedding corpus — the input
    * every whitening / PCA / ZCA normalization step consumes (complements
    * [[dimStatsOn]]'s per-dimension diagonal with the cross terms). One
    * corpus pass: each row contributes its d² outer product through the
    * [[graft.functions.VecSum]] aggregator, so the aggregate state is a
    * single O(d²) mergeable buffer with map-side combine and NOTHING
    * row-sized ever shuffles — at 100 TB the pass is scan-bound and the
    * shuffle is |partitions| × d² doubles. The eigen-decomposition itself
    * is driver-side math on the d×d result (model-sized, like the
    * centroids) and out of engine scope. Sum order is partition-dependent
    * as with every double aggregate here — r6 rounding on both engines
    * absorbs it (same convention as `s_dim_stats`). */
  def covMatrixOn(embeddings: DataFrame, d: Int = Dims): DataFrame = {
    val emb = embeddings
      .select(transform(col("embedding"), x => x.cast("double")).as("e"))
    val sums = emb
      .select(col("e"),
        flatten(transform(col("e"), x => transform(col("e"), y => x * y))).as("xy"))
      .agg(count(lit(1)).as("n"),
        graft.functions.VecSum.fn(col("xy")).as("sxy"),
        graft.functions.VecSum.fn(col("e")).as("sx"))
    sums
      .select(col("n"), col("sx"), posexplode(col("sxy")).as(Seq("pos", "sxy_v")))
      .withColumn("i", (expr(s"pos DIV $d") + lit(1)).cast("long"))
      .withColumn("j", (pmod(col("pos"), lit(d)) + lit(1)).cast("long"))
      .filter(col("i") <= col("j"))
      .withColumn("sx_i", element_at(col("sx"), col("i").cast("int")))
      .withColumn("sx_j", element_at(col("sx"), col("j").cast("int")))
      .select(col("i").as("dim_i"), col("j").as("dim_j"),
        r6((col("sxy_v") - col("sx_i") * col("sx_j") / col("n")) / col("n")).as("cov"))
  }

  def covMatrix(spark: SparkSession, dir: String): DataFrame =
    covMatrixOn(Tables.embeddings(spark, dir))

  lazy val covMatrixSql: String =
    s"""WITH ex AS (
       |  SELECT r.i AS i, s.j AS j,
       |         CAST(embedding[r.i] AS DOUBLE) AS x, CAST(embedding[s.j] AS DOUBLE) AS y
       |  FROM embeddings CROSS JOIN range(1, ${Dims + 1}) r(i) CROSS JOIN range(1, ${Dims + 1}) s(j)
       |  WHERE r.i <= s.j),
       |a AS (SELECT i, j, count(*) AS n, sum(x*y) AS sxy, sum(x) AS sx, sum(y) AS sy
       |      FROM ex GROUP BY 1, 2)
       |SELECT CAST(i AS BIGINT) AS dim_i, CAST(j AS BIGINT) AS dim_j,
       |       ${r6Sql("(sxy - sx * sy / n) / n")} AS cov
       |FROM a ORDER BY dim_i, dim_j""".stripMargin

  // ------------------------------------------- scalar quantization (SQ8)
  /** SQ8 ANN — uniform per-dimension scalar quantization (the SQ8 codec
    * every production vector store ships alongside PQ): each float
    * compresses to one byte via an affine map onto the dimension's
    * [lo, hi] range, and search scores full-precision probes against the
    * DEQUANTIZED corpus (asymmetric distance, like the PQ ADC). 4×
    * memory reduction with near-exact recall — the accuracy/compression
    * point between brute force (4 bytes/dim) and PQ (sub-byte/dim).
    *
    * Model = 2×[[Dims]] doubles (per-dim lo/hi), frozen per corpus and
    * spliced as literal arrays — nothing joins, nothing shuffles for the
    * model. Determinism: the affine map, round() (half-away-from-zero on
    * positive args in both engines), and the dequantized cosine are all
    * double arithmetic evaluated in identical order on both sides, so
    * ranks need no rounding tricks beyond the brute-force conventions.
    *
    * Scale shape: exactly [[knnBruteForceOn]]'s — probes broadcast, the
    * (compressed) corpus streams, one tiny per-probe top-k — but the
    * scanned payload is 1/4 the bytes; a deployment stores the uint8
    * codes and dequantizes in the scan. */
  // final + literal → compile-time constant: knnRecallSql forces
  // knnSq8Sql during ITS initializer, before later-declared plain vals
  // would have initialized (a plain val here baked 0 into the oracle)
  final val Sq8Levels = 255

  /** Per-dimension (i, lo, hi) range model — one aggregate, 2×Dims doubles. */
  def sq8ModelOn(embeddings: DataFrame): DataFrame =
    embeddings.select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("i").agg(min(col("x").cast("double")).as("lo"),
        max(col("x").cast("double")).as("hi"))

  private val sq8Cache =
    new graft.ops.FrozenCaches.Memo[Int, (Seq[Double], Seq[Double])](label = "sq8_bounds")

  private def frozenSq8(spark: SparkSession, dir: String): (Seq[Double], Seq[Double]) =
    sq8Cache.get(dir, Sq8Levels) {
      val rows = sq8ModelOn(Tables.embeddings(spark, dir))
        .orderBy("i").collect()
      (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
    }

  def knnSq8On(embeddings: DataFrame, lo: Seq[Double], hi: Seq[Double],
               pids: Option[DataFrame] = None): DataFrame = {
    val litLo = typedlit(lo)
    val litHi = typedlit(hi)
    // quantize-then-dequantize in one fused projection: the scan-side form
    // of storing codes (a deployment persists round(...) as uint8)
    val xh = transform(col("embedding"), (x, i) => {
      val l = element_at(litLo, i + lit(1))
      val h = element_at(litHi, i + lit(1))
      when(h === l, l).otherwise(
        l + round((x.cast("double") - l) * lit(Sq8Levels) / (h - l)) * (h - l) / lit(Sq8Levels))
    })
    val enc = embeddings.select(col("vec_id"), xh.as("xh"))
      .withColumn("xnrm", sqrt(dot(col("xh"), col("xh"))))
    val queries = pickFilter(withNorm(embeddings), pids)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = enc.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("q_emb"), col("xh")) / (col("q_nrm") * col("xnrm")))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= lit(TopK))
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"), r6(col("cos")).as("cosine"))
  }

  def knnSq8(spark: SparkSession, dir: String): DataFrame = {
    val (lo, hi) = frozenSq8(spark, dir)
    knnSq8On(Tables.embeddings(spark, dir), lo, hi)
  }

  // lazy: referenced by knnRecallSql, which initializes earlier in
  // declaration order — a plain val would splice null into that oracle
  lazy val knnSq8Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |mm AS MATERIALIZED (
       |  SELECT t.i, min(CAST(e.embedding[t.i] AS DOUBLE)) AS lo,
       |         max(CAST(e.embedding[t.i] AS DOUBLE)) AS hi
       |  FROM e, unnest(range(1, ${Dims + 1})) AS t(i) GROUP BY t.i),
       |mml AS (SELECT (SELECT list(lo ORDER BY i) FROM mm) AS lo,
       |               (SELECT list(hi ORDER BY i) FROM mm) AS hi),
       |dx AS MATERIALIZED (
       |  SELECT e.vec_id,
       |         list_transform(range(1, ${Dims + 1}), i ->
       |           CASE WHEN m.hi[i] = m.lo[i] THEN m.lo[i]
       |                ELSE m.lo[i] + round((CAST(e.embedding[i] AS DOUBLE) - m.lo[i]) * $Sq8Levels
       |                     / (m.hi[i] - m.lo[i])) * (m.hi[i] - m.lo[i]) / $Sq8Levels END) AS xh
       |  FROM e CROSS JOIN mml m),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, ${normSql("embedding")} AS q_nrm
       |      FROM e WHERE ${probeInSql("vec_id", "e")}),
       |scored AS (
       |  SELECT q.q_id, d.vec_id,
       |         ${dotSql("q.q_emb", "d.xh")} / (q.q_nrm * ${normSql("d.xh")}) AS cos
       |  FROM dx d JOIN q ON d.vec_id <> q.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT q_id, rank, vec_id AS neighbor_id, ${r6Sql("cos")} AS cosine
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  lazy val all: Seq[Q] = Seq(
    Q("s_probe_set", probeSet _, probeSetSql, col("probe_rank")),
    Q("s_knn_bruteforce", knnBruteForce _, knnBruteForceSql, col("q_id"), col("rank")),
    Q("s_knn_sq8", knnSq8 _, knnSq8Sql, col("q_id"), col("rank")),
    Q("s_ivf_balance", ivfBalance _, ivfBalanceSql),
    Q("s_ivf_update", ivfUpdate _, ivfUpdateSql, col("cell")),
    Q("s_ivf_rolled", ivfRolled _, ivfRolledSql, col("vec_id")),
    Q("s_ivf_retrain", ivfRetrain _, ivfRetrainSql),
    Q("s_pq_retrain", pqRetrain _, pqRetrainSql),
    Q("s_nprobe_curve", nprobeCurve _, nprobeCurveSql, col("nprobe")),
    Q("s_pq_distortion", pqDistortion _, pqDistortionSql, col("sub")),
    Q("s_cov_matrix", covMatrix _, covMatrixSql, col("dim_i"), col("dim_j")),
    Q("s_knn_recall", knnRecall _, knnRecallSql, col("method")),
    Q("s_knn_lsh", knnLsh _, knnLshSql, col("q_id"), col("rank")),
    Q("s_knn_ivf", knnIvf _, knnIvfSql, col("q_id"), col("rank")),
    Q("s_knn_ivf_kmeans", knnIvfKmeans _, knnIvfKmeansSql, col("q_id"), col("rank")),
    Q("s_knn_pq", knnPq _, knnPqSql, col("q_id"), col("rank")),
    Q("s_knn_ivfpq", knnIvfPq _, knnIvfPqSql, col("q_id"), col("rank")),
    Q("s_label_centroids", labelCentroids _, labelCentroidsSql, col("vec_id")),
    Q("s_kmeans_assign", kmeansAssign _, kmeansAssignSql, col("vec_id")),
    Q("s_embed_outliers", embedOutliers _, embedOutliersSql, col("vec_id")),
    Q("s_hard_negatives", hardNegatives _, hardNegativesSql, col("q_id"), col("rank")),
    Q("s_dim_stats", dimStats _, dimStatsSql, col("dim")),
    Q("s_embed_drift", embedDrift _, embedDriftSql, col("label")),
  )
}
