package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming variants of the batch pipelines (SURVEY §2.10 /
  * §7.2 M4): the reference is pure batch, but its data model is event-time,
  * so the push-counting and windowed aggregations re-express naturally as
  * `readStream → withWatermark → window → writeStream`.
  *
  * Scale: the streaming plans keep the same shuffle structure as their batch
  * twins (hash by window/key), with watermark-bounded state — no unbounded
  * state, no driver-side accumulation. A 1000-executor cluster runs these
  * with per-partition state stores and RocksDB backing; nothing here is
  * local-mode-specific.
  */
object Streams {
  /** Read a foreachBatch pipeline's persisted cross-batch state,
    * distinguishing "no state yet" — the path does not exist, i.e. the
    * first micro-batch — from a genuine read failure (corrupt footer,
    * transient IO), which PROPAGATES instead of silently resetting the
    * state: a swallowed read error here would drop every cross-batch
    * near-dup pair / canonical verdict for the batch and the stream would
    * report success (ADVICE r13). Existence goes through the path's own
    * Hadoop filesystem, so local temp dirs and object stores behave the
    * same. */
  private def readStateIfExists(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(path)) else None
  }

  // --------------------------------- batch-id-keyed idempotent state
  /** Exactly-once state advance for the stateful foreachBatch loops
    * ([[minhashDedupBatches]], [[mediaDedupBatches]],
    * [[mmCurationFunnelBatches]] — VERDICT r17 task 4): foreachBatch
    * guarantees at-least-once INVOCATION, so a crash after some state
    * writes re-runs the batch, and a plain `mode(append)` would
    * double-ingest the earlier writes. State is therefore keyed by batch
    * id:
    *
    *  - each batch writes its contribution under `<root>/<name>/b<id>`
    *    with `mode(overwrite)` — a retry clobbers only its OWN partial
    *    leftovers, never a neighbor batch's rows;
    *  - a commit marker `<root>/_commits/<id>` is written once, AFTER
    *    every write of the batch succeeded — the transaction boundary;
    *  - readers union only COMMITTED batches with id < their own, so a
    *    retried batch (committed or not) recomputes bit-identical
    *    emissions from bit-identical inputs and rewrites bit-identical
    *    state. Replay is idempotent end to end, the re-emitted output
    *    satisfying foreachBatch's at-least-once sink contract.
    *
    * Everything goes through the path's own Hadoop filesystem, so local
    * temp dirs and object stores behave the same. Marker files are
    * per-batch and tiny; snapshot-type state (the funnel's cluster
    * manifest) stores one snapshot per batch dir and reads the LATEST
    * committed one, with superseded snapshots pruned after commit.
    *
    * Known cost at very long stream lifetimes: delta-type components
    * accumulate one directory per committed batch, and each batch's
    * read lists them all — O(B) listings per batch, O(B²) over the
    * stream. A production deployment bounds B with periodic compaction
    * (rewrite committed dirs `b0..bK` into one dir committed under a
    * fresh id, then retire the originals — the same transaction
    * boundary makes the rewrite safe) or degrades the state to a real
    * table format; at micro-batch counts these tests and the registered
    * ingest shapes run at, the listing cost is noise. */
  private def stateFs(spark: SparkSession, root: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def committedIds(spark: SparkSession, root: String): Set[Long] = {
    val fs = stateFs(spark, root)
    val dir = new org.apache.hadoop.fs.Path(s"$root/_commits")
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).toSeq
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption).toSet
  }

  private def commitBatch(spark: SparkSession, root: String, id: Long): Unit = {
    val fs = stateFs(spark, root)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$root/_commits/$id"), true)
    out.close()
  }

  private def writeBatchState(df: DataFrame, root: String, name: String, id: Long): Unit =
    df.write.mode("overwrite").parquet(s"$root/$name/b$id")

  /** Union of `name` contributions from committed batches BEFORE `id`
    * (exclusive — a retried batch must not read its own first attempt). */
  private def committedStateBefore(spark: SparkSession, root: String, name: String,
                                   id: Long, committed: Set[Long]): Option[DataFrame] = {
    val dirs = committed.filter(_ < id).toSeq.sorted.map(j => s"$root/$name/b$j")
    if (dirs.isEmpty) None else Some(spark.read.parquet(dirs: _*))
  }

  /** Cross-RUN base offset, computed ONCE at stream-build time: a NEW
    * streaming query over an existing state root restarts the engine's
    * batch ids at 0, so raw ids would both ignore committed history
    * (nothing < 0) and CLOBBER the first run's `b0`. Offsetting by
    * max(committed)+1 restores the old append layout's cross-run
    * incremental semantics — a later run reads every prior run's
    * committed state as history and writes fresh dirs — while keeping
    * within-run retries id-stable (the engine re-delivers the same id;
    * the base is fixed for the query's lifetime). */
  private def batchIdBase(spark: SparkSession, root: String): Long =
    committedIds(spark, root).foldLeft(-1L)(math.max) + 1

  /** PUBLIC committed-state reader — the supported way for an external
    * consumer to read a loop's cross-batch state (`sigs`, `hashes`,
    * `feat`, `af`, `pairs`): unions exactly the batches whose commit
    * marker exists. Reading the raw directory tree instead would bypass
    * the commit protocol and see a crashed batch's uncommitted writes.
    * None = no committed state yet. */
  def readCommittedState(spark: SparkSession, root: String, name: String): Option[DataFrame] =
    committedStateBefore(spark, root, name, Long.MaxValue, committedIds(spark, root))

  /** Latest committed snapshot of `name` before `id` (snapshot-type state:
    * each batch dir holds a full rewrite, not a delta). */
  private def committedSnapshotBefore(spark: SparkSession, root: String, name: String,
                                      id: Long, committed: Set[Long]): Option[DataFrame] = {
    val before = committed.filter(_ < id)
    if (before.isEmpty) None
    else Some(spark.read.parquet(s"$root/$name/b${before.max}"))
  }

  /** Best-effort prune of snapshot dirs superseded by the just-committed
    * `id` — storage hygiene only; correctness never depends on it (readers
    * pick the latest committed id regardless). The IMMEDIATE predecessor
    * is kept: a post-commit crash can still retry batch `id`, and that
    * retry reads the latest committed snapshot BELOW id. Only the engine's
    * current batch is ever retried, so snapshots below the predecessor are
    * unreachable and safe to drop. A failed prune is printed with its
    * cause to stderr and the batch goes on. */
  private def pruneSnapshotsBefore(spark: SparkSession, root: String, name: String,
                                   id: Long, committed: Set[Long]): Unit =
    try {
      val before = committed.filter(_ < id)
      if (before.nonEmpty) {
        val fs = stateFs(spark, root)
        before.filter(_ < before.max).foreach { j =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$root/$name/b$j"), true)
        }
      }
    } catch { case e: Throwable =>
      System.err.println(s"Streams: pruning $root/$name below batch $id failed: " +
        s"${e.getClass.getName}: ${e.getMessage}")
    }

  /** events.parquet schema with ts as raw TIMESTAMP(NANOS) int64 (read as
    * long via the same legacy conf Tables.events uses, then truncated to a
    * micros timestamp). */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a testdata dir. One file = one micro-batch
    * under AvailableNow; in production this is a growing directory or Kafka
    * with the same downstream plan. Mirrors Tables.events' dual handling:
    * nanos-typed files stream as raw longs and truncate to micros;
    * micros-typed files stream with their native timestamp schema. */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batchSchema = graft.ops.Tables.table(spark, dir, "events").schema
    val tsIsRawNanos = batchSchema("ts").dataType == LongType
    val schema = if (tsIsRawNanos) eventsRawSchema
      else StructType(eventsRawSchema.map(f => if (f.name == "ts") f.copy(dataType = TimestampType) else f))
    val raw = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    if (tsIsRawNanos) raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)")) else raw
  }

  /** Streaming twin of Micro.tumblingWindow: tumbling 10-minute event-time
    * windows per event_type with a 1-hour watermark. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding twin (10-minute windows sliding by 5): same plan shape, each
    * event feeds size/slide windows of watermark-bounded state. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup: first occurrence of each (user_id, event_type)
    * key wins. State is one entry per distinct key — the true cost of
    * global exact dedup in any engine; at 100 TB the state store shards by
    * key across executors (RocksDB-backed), exactly like the shuffle of the
    * batch `dropDuplicates`. */
  def dedupKeysExact(events: DataFrame): DataFrame =
    events.dropDuplicates(Seq("user_id", "event_type"))
      .select(col("user_id"), col("event_type"))

  /** Watermark-bounded dedup: suppresses re-occurrences only within the
    * watermark horizon, so state is bounded by (keys active per horizon)
    * instead of all-time distinct keys. The right tool when duplicates
    * cluster in time (retries, replays) — the common streaming case. */
  def dedupKeysWithinWatermark(events: DataFrame, delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type"))
      .select(col("user_id"), col("event_type"), col("ts"))

  /** Stream-static enrichment join: the streaming fact joins the static
    * customer dim — planned as a broadcast hash join per micro-batch, the
    * streaming twin of every batch dim join in this engine. No state store
    * involved; the dim re-broadcasts only when its snapshot changes. */
  def enrichWithCustomer(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(
      org.apache.spark.sql.functions.broadcast(
        customer.select(col("c_custkey"), col("c_mktsegment"))),
      events("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
        col("value"), col("c_mktsegment"))

  /** Watermarked stream-stream self-join: each "click" event joins "view"
    * events of the same user within [-30 min, 0] — the streaming twin of
    * the registered `w_click_attribution` interval join
    * ([[graft.queries.Sessions.clickAttributionOn]]), emitting the SAME
    * six columns so the parity spec can assert doc-for-doc equality.
    * Both sides carry watermarks and the join condition bounds event-time
    * distance, so the state store retains only the watermark horizon per
    * side — the unbounded-state hazard of naive stream joins is designed
    * out. At 100 TB both sides shuffle on user_id into the same state
    * partitions (RocksDB-backed), exactly the batch join's co-key. */
  def clickViewJoin(events: DataFrame, delay: String = "1 hour"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_event_id"), col("value").as("view_value"))
      .withWatermark("v_ts", delay)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_event_id"))
      .withWatermark("c_ts", delay)
    clicks.join(views,
      col("c_user") === col("v_user") &&
        col("v_ts") <= col("c_ts") &&
        col("v_ts") >= col("c_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("click_event_id"), col("c_user").as("user_id"),
        unix_micros(col("c_ts")).as("c_ts_us"), col("view_event_id"),
        unix_micros(col("v_ts")).as("v_ts_us"), col("view_value"))
  }

  /** LEFT OUTER watermarked stream-stream join — the other half of the
    * stream-join family: clicks with no same-user view in the window must
    * STILL emit, null-padded, and a streaming engine can only do that
    * once the watermark proves no matching view can arrive anymore. So
    * unlike the inner join, the outer join's unmatched results are
    * watermark-DELAYED: a click's null row emits when the view-side
    * watermark passes its window, and clicks inside the final watermark
    * horizon of a bounded run never emit a null row at all (no further
    * data advances the watermark) — the semantics the parity spec pins
    * against the batch [[graft.queries.Sessions.unattributedOn]] anti
    * join. State bounds are the inner join's: both sides keyed on user,
    * horizon-bounded by watermark + interval. */
  def clickViewLeftJoin(events: DataFrame, delay: String = "1 hour"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_event_id"), col("value").as("view_value"))
      .withWatermark("v_ts", delay)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_event_id"))
      .withWatermark("c_ts", delay)
    clicks.join(views,
        col("c_user") === col("v_user") &&
          col("v_ts") <= col("c_ts") &&
          col("v_ts") >= col("c_ts") - expr("INTERVAL 30 MINUTES"),
        "left_outer")
      .select(col("click_event_id"), col("c_user").as("user_id"),
        unix_micros(col("c_ts")).as("c_ts_us"), col("view_event_id"),
        unix_micros(col("v_ts")).as("v_ts_us"), col("view_value"))
  }

  /** Streaming quantile sketch: the [[graft.functions.QuantileSketch]]
    * aggregator running unchanged inside a streaming aggregation — the
    * payoff of choosing a merge-order-independent sketch: the state store
    * holds one O(cells) buffer per group, every micro-batch's partial
    * merges by cell-wise addition, and the emitted estimates are
    * BIT-IDENTICAL to the batch `k_quantile_sketch` run on the same data
    * regardless of how the stream was sliced (a t-digest twin could only
    * promise "close"). Complete mode: the sketch is a running corpus
    * summary, not a windowed one. */
  def quantileSketchCounts(events: DataFrame): DataFrame = {
    val qs = org.apache.spark.sql.functions.udaf(graft.functions.QuantileSketch.agg)
    events
      .withColumn("cents", graft.ops.Num.cents(col("value")))
      .groupBy("event_type")
      .agg(qs(col("cents")).as("sk"))
      .select(col("event_type"), col("sk.p50_cents").as("p50_cents"),
        col("sk.p90_cents").as("p90_cents"), col("sk.p99_cents").as("p99_cents"),
        col("sk.n").as("n_events"))
  }

  /** The micro-batch driver of the streaming family: runs `body` on every
    * micro-batch of `df` as a bounded DataFrame, with its batch id, and
    * starts the query under `trigger` — AvailableNow (drain and stop) by
    * default; pass e.g. `Trigger.ProcessingTime(...)` to run a live growing
    * source continuously.
    *
    * Stateless ingest is any batch operator applied per micro-batch
    * against FROZEN inputs (a weight table, a census, a trained quantizer,
    * a static eval suite): `eachBatch(docs)((b, id) =>
    * sink(Corpus.dsirScoreAgainstOn(b, weights), id))`. When the operator
    * judges each row alone given those inputs, the union of the batch
    * outputs equals the one-shot run over all rows seen (StreamsSpec pins
    * it for every operator whose scaladoc points here). Frozen inputs must
    * not drift per batch, so train them once outside the stream; global
    * decisions (top-k, fusion, rank) are the consumer's final aggregate
    * over all batches. The stateful loops below (signature indexes,
    * fingerprint logs, cluster manifests) run on this driver too.
    *
    * The graft functions (`float_dot`, bloom probes, ...) are registered on
    * the session BEFORE `start()`: the streaming query's cloned session
    * state only carries imperative registrations made before the clone,
    * so a session built without `GraftExtensions` still resolves them in
    * the batches. */
  def eachBatch(df: DataFrame, trigger: Trigger = Trigger.AvailableNow())
               (body: (DataFrame, Long) => Unit): StreamingQuery = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.writeStream
      .foreachBatch((batch: Dataset[Row], id: Long) => body(batch.toDF(), id))
      .trigger(trigger)
      .start()
  }

  /** Streaming FUZZY decontamination: each micro-batch of arriving
    * training documents is judged against the STATIC eval suite by the
    * same [[graft.ext.Dedup.fuzzyDecontaminateAgainstOn]] the batch job
    * runs. The MinHash verdict is per-train-doc against the fixed eval
    * signature set, so the operator is STATELESS across batches and the
    * union of batch outputs is row-identical to the one-shot run over all
    * documents seen (StreamsSpec parity) — unlike
    * [[minhashDedupBatches]], which carries a growing signature index
    * because ITS pairs are train-vs-train. The eval signatures rebuild per
    * trigger here; a long-running ingest precomputes that tiny table once
    * and closes over it. */
  def fuzzyDecontaminateBatches(docs: DataFrame, evalDocs: DataFrame,
                                trigger: Trigger = Trigger.AvailableNow())
                               (onBatch: (DataFrame, Long) => Unit): StreamingQuery =
    eachBatch(docs, trigger) { (batch, id) =>
      // per-batch caches must be released here (a long-running trigger
      // would otherwise persist two new signature tables every batch)
      val (scored, caches) = graft.ext.Dedup.fuzzyDecontaminateWithCaches(batch, evalDocs)
      try onBatch(scored, id)
      finally caches.foreach(_.unpersist())
    }

  /** Incremental MinHash near-dup detection via foreachBatch: each
    * micro-batch's documents are signed with the SAME
    * [[graft.ext.Dedup.minhashSigsOn]] the batch job uses, banded against
    * the union of the persisted signature table and the batch itself, and
    * every candidate pair involving a new document is emitted with its
    * estimated Jaccard; the new signatures then join the signature table
    * at `sigPath` under their batch id (the exactly-once state contract
    * above). Signatures are deterministic functions
    * of the text, so each unordered pair is emitted EXACTLY once — in the
    * micro-batch its later member arrives — and the union of all batch
    * outputs equals the one-shot batch [[graft.ext.Dedup.minhashLshOn]]
    * run over all documents seen (StreamsSpec parity). Assumes doc_ids are
    * unique across batches (the dedup input contract).
    *
    * At 100 TB the signature table is the persistent index a streaming
    * dedup keeps anyway (doc_id + numHashes longs, ~100 B/doc — 3 orders
    * smaller than the corpus); each batch costs sigs(batch) + one band
    * bucket join of |batch| new rows against it — never corpus × corpus.
    * `sigPath` is any Spark-writable directory (object store at scale; at
    * very large |index| the plain parquet read degrades to a bucketed
    * table on the band key so the join prunes buckets). */
  def minhashDedupBatches(docs: DataFrame, sigPath: String,
                          numHashes: Int = graft.ext.Dedup.NumHashes,
                          numBands: Int = graft.ext.Dedup.NumBands,
                          trigger: Trigger = Trigger.AvailableNow())
                         (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    // a NEW query's engine ids restart at 0: offset by the committed
    // history so prior runs' state is read, never clobbered ([[batchIdBase]])
    val base = batchIdBase(docs.sparkSession, sigPath)
    eachBatch(docs, trigger) { (batch, id) =>
      minhashDedupBatchBody(batch, base + id, sigPath, numHashes, numBands)(onBatch)
    }
  }

  /** The per-batch body of [[minhashDedupBatches]], factored out so
    * StreamsSpec can REPLAY a batch id (simulated foreachBatch retry) and
    * assert state + emission are identical. */
  private[graft] def minhashDedupBatchBody(b: DataFrame, id: Long, sigPath: String,
                                           numHashes: Int, numBands: Int)
                                          (onBatch: (DataFrame, Long) => Unit): Unit = {
    val D = graft.ext.Dedup
    val spark = b.sparkSession
    // persisted: consumed by its own bands, the union's bands, both
    // est-jaccard rejoins, and the state write
    val newSigs = D.minhashSigsOn(b, numHashes).persist()
    try {
      // exactly-once: signatures of COMMITTED batches before this id
      // only — a retry recomputes the identical pair set and rewrites
      // its own batch dir (see the batch-id-keyed state contract above)
      val committed = committedIds(spark, sigPath)
      val old = committedStateBefore(spark, sigPath, "sigs", id, committed)
      val all = old.map(_.unionByName(newSigs)).getOrElse(newSigs.toDF())
      val cand = D.minhashCandidatesAgainst(newSigs, all, numHashes, numBands)
      onBatch(D.minhashEstJaccard(cand, all, numHashes), id)
      writeBatchState(newSigs, sigPath, "sigs", id)
      commitBatch(spark, sigPath, id)
    } finally {
      newSigs.unpersist()
      ()
    }
  }

  /** The full curation funnel as one streaming ingest via foreachBatch —
    * the five gates of [[graft.ext.Curation.curationFunnelOn]] composed per
    * micro-batch from the same per-gate entry points the batch funnel
    * runs, via [[graft.ext.Curation.curationFunnelAgainstOn]]:
    *
    *  - quality and repetition judge each document alone (stateless);
    *  - fluency scores against the FROZEN heavy-bigram census;
    *  - the classifier gate scores against FROZEN weights + a FROZEN
    *    calibration pair (train-once, like the census);
    *  - decontamination judges against the STATIC eval suite;
    *  - the exact-dup canonical gate carries the one piece of cross-batch
    *    state — an append-only (doc_id, fp) fingerprint log at `fpPath`
    *    (the [[minhashDedupBatches]] signature-index pattern): a document
    *    is canonical iff it holds the minimum doc_id seen so far for its
    *    fingerprint.
    *
    * The stream input is the full document feed; the bench slice is
    * fingerprinted (it is part of the dedup universe, as in the batch
    * funnel) but only training docs get verdict rows. Union of batch
    * outputs equals the one-shot batch funnel when doc_ids arrive in
    * nondecreasing order — the ingestion contract under which keep-first
    * streaming dedup and the batch keep-min-id manifest agree
    * (StreamsSpec parity). */
  def curationFunnelBatches(docs: DataFrame, census: DataFrame, evalDocs: DataFrame,
                            fpPath: String,
                            qsWeights: DataFrame, qsThreshold: (Long, Long),
                            trigger: Trigger = Trigger.AvailableNow())
                           (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    // the eval suite is STATIC: build its broadcast-sized shingle hash set
    // ONCE for the stream's lifetime (persisted on first batch) instead of
    // re-tokenizing and re-distincting the eval docs every micro-batch
    val evalHashes = graft.ext.Corpus.evalShingleHashes(evalDocs).persist()
    // cross-run id offset — see [[batchIdBase]]
    val base = batchIdBase(docs.sparkSession, fpPath)
    eachBatch(docs, trigger) { (batch, id0) =>
      val id = base + id0
      val spark = batch.sparkSession
      // persisted: feeds the fingerprint log, the canonical join, and
      // every gate's scan of the batch
      val b = batch.persist()
      // null-safe sentinel, as in Corpus.snapshotDeltaOn: a NULL-text doc
      // must still group with its fellow NULL-fp docs in the canonical
      // join (a NULL key would silently drop out of the equi-join, where
      // the batch funnel's fingerprint window keeps NULL fps together)
      val fps = b.select(col("doc_id"),
        coalesce(md5(graft.ext.Text.normalized(col("text"))), lit("<null>")).as("fp"))
      val committed = committedIds(spark, fpPath)
      val prior = committedStateBefore(spark, fpPath, "fps", id, committed)
      val seen = prior.map(_.unionByName(fps)).getOrElse(fps)
      val canon = fps
        .join(seen.groupBy("fp").agg(min(col("doc_id")).as("canonical_doc_id")), "fp")
        .select(col("doc_id"), (col("doc_id") === col("canonical_doc_id")).as("is_canonical"))
      val train = b.filter(pmod(col("doc_id"), lit(10L)) =!= lit(graft.ext.Corpus.BenchSlice))
      // classifier gate: frozen weights + FROZEN calibration pair — the
      // threshold must not drift per micro-batch, so it arrives as two
      // longs trained alongside the weights (batch parity with the
      // full-corpus funnel is exact because the batch funnel's gate uses
      // the same full-corpus calibration)
      val classifier = graft.ext.Quality.qsKeepWithThreshold(
        train, qsWeights, qsThreshold._1, qsThreshold._2)
      try {
        onBatch(
          graft.ext.Curation.curationFunnelAgainstHashesOn(train, census, evalHashes, canon,
            classifier), id)
        // batch-id-keyed state (the exactly-once contract above): a
        // retried batch reads only committed-before-id fingerprints and
        // rewrites its own dir. Double-reading its first attempt would
        // actually be harmless HERE (canonical election is min-over-
        // duplicates) — the discipline is kept uniform with the media
        // funnel, where it is load-bearing.
        writeBatchState(fps, fpPath, "fps", id)
        commitBatch(spark, fpPath, id)
      } finally {
        b.unpersist()
        ()
      }
    }
  }

  // ------------------------------------------------ funnel / cohort twins
  case class FunnelEvent(user_id: Long, ts_us: Long, event_type: String, event_id: Long)
  case class FunnelStage(user_id: Long, t_view: Option[Long], t_click: Option[Long],
                         t_purchase: Option[Long])

  /** Streaming twin of [[graft.queries.Sessions.funnelStagesOn]]: the
    * strict-ordered view → click → purchase state machine as
    * `mapGroupsWithState` — per-user state is THREE optional longs, the
    * current funnel-stage row, re-emitted on every update (Update output;
    * the latest emission per user is the answer). In-batch rows process in
    * (ts, event_id) order; across micro-batches the per-user stream must
    * arrive in nondecreasing event time (the ingestion contract the
    * curation/dedup twins also state) — under it, "first view", "first
    * click strictly after that view" and "first purchase strictly after
    * that click" are exactly the batch frame's three min-aggregates
    * (StreamsSpec parity). State never grows with event count and needs
    * no timeout — a funnel is a lifetime-of-user analysis; deployments
    * wanting horizon-bounded state add an EventTimeTimeout that seals and
    * emits a user's row when the watermark passes it. */
  def funnelStages(events: Dataset[FunnelEvent]): Dataset[FunnelStage] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelStage]) =>
          var st = state.getOption.getOrElse(FunnelStage(uid, None, None, None))
          rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            e.event_type match {
              case "view" if st.t_view.isEmpty =>
                st = st.copy(t_view = Some(e.ts_us))
              case "click" if st.t_click.isEmpty && st.t_view.exists(e.ts_us > _) =>
                st = st.copy(t_click = Some(e.ts_us))
              case "purchase" if st.t_purchase.isEmpty && st.t_click.exists(e.ts_us > _) =>
                st = st.copy(t_purchase = Some(e.ts_us))
              case _ => ()
            }
          }
          state.update(st)
          st
      }
  }

  case class WeekEvent(user_id: Long, week: String)
  case class CohortPair(user_id: Long, cohort_week: String, active_week: String)
  case class CohortState(cohortWeek: String, emitted: Seq[String])

  /** Week-truncated view of a (streaming or batch) events frame — the
    * stateless projection feeding [[cohortPairs]]. */
  def weekEvents(events: DataFrame): Dataset[WeekEvent] = {
    import events.sparkSession.implicits._
    events.select(col("user_id"),
        date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"))
      .as[WeekEvent]
  }

  /** Streaming twin of [[graft.queries.Sessions.cohortPairsOn]]: per user,
    * emit each (cohort_week, active_week) membership pair ONCE, the first
    * time that active week is seen — `flatMapGroupsWithState` in Append
    * mode. State per user = the fixed cohort week + the distinct weeks
    * already emitted (bounded by the calendar horizon, not event count).
    * Under nondecreasing per-user event-time arrival the first-ever week
    * seen IS the min week, so the union of batch outputs equals the batch
    * pair frame; the shared [[graft.queries.Sessions.cohortsFromPairs]]
    * finisher then yields the identical retention triangle (StreamsSpec
    * parity). */
  def cohortPairs(events: Dataset[WeekEvent]): Dataset[CohortPair] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[WeekEvent], state: GroupState[CohortState]) =>
          val weeks = rows.map(_.week).toSeq.distinct.sorted
          if (weeks.isEmpty) Iterator.empty
          else {
            var st = state.getOption.getOrElse(CohortState(weeks.head, Seq.empty))
            val fresh = weeks.filterNot(st.emitted.contains)
            st = st.copy(emitted = st.emitted ++ fresh)
            state.update(st)
            fresh.iterator.map(w => CohortPair(uid, st.cohortWeek, w))
          }
      }
  }

  // ----------------------------------------------------- rate-spike monitor
  case class RateEvent(event_type: String, ts_us: Long)
  case class SpikeRow(event_type: String, bucket_us: Long, n: Long,
                      base_mean: Double, base_std: Double, z: Double, is_spike: Boolean)
  case class RateState(curBucket: Long, curN: Long, ring: Seq[Long])

  /** Streaming twin of [[graft.queries.Sessions.rateSpikeOn]]: per
    * event_type, a `flatMapGroupsWithState` ring of the trailing
    * [[graft.queries.Sessions.BaselineBuckets]] hourly counts. A bucket
    * SEALS (scores + joins the ring) when a later-bucket event arrives;
    * silent hours between two events seal as synthesized zeros, so the
    * zero-fill the batch domain join provides falls out of the state
    * advance itself. State per type = ring + the open bucket — bounded by
    * the baseline length, never by event count.
    *
    * `loBucketUs` is the feed epoch (the deployment's stream start, the
    * batch domain's global lo): every type's ring clock starts there so a
    * type whose first event arrives late accumulates the same leading
    * zero baseline the batch zero-fill gives it. Under nondecreasing
    * per-type event-time arrival, sealed rows equal the batch frame's
    * rows for every bucket strictly before the type's last event bucket
    * (StreamsSpec parity).
    *
    * Sealing has TWO triggers: a later-bucket event (the in-band path)
    * and the event-time WATERMARK passing a bucket's close (the
    * EventTimeTimeout path, same discipline as [[sessionize]]). Without
    * the second, a type that goes SILENT would never emit its zero rows
    * — and an ingestion outage is the one anomaly a rate monitor exists
    * to surface. On streaming input the source gains a `watermarkDelay`
    * watermark and each key re-arms a timer at its next sealable bucket
    * close; batch execution (where timeouts never fire) keeps the pure
    * event-driven behavior. */
  /** Hard ceiling on the zero-bucket catch-up one event or watermark jump
    * may trigger (~11 years of hours). A timestamp corrupted upward —
    * nanos read as micros, Long.MaxValue — would otherwise spin the seal
    * loop for ~1e8+ iterations inside one task with no error. A corrupt
    * EVENT is dropped (arrival-contract violation, like late events); a
    * corrupt WATERMARK resets the key's ring clock to the watermark
    * bucket, keeping the task alive at the cost of a baseline rebuild. */
  val MaxCatchupBuckets: Long = 100000L

  def rateSpikeUpdates(events: Dataset[RateEvent], loBucketUs: Long,
                       watermarkDelay: String = "2 hours"): Dataset[SpikeRow] = {
    import events.sparkSession.implicits._
    val H = graft.queries.Sessions.HourUs
    val B = graft.queries.Sessions.BaselineBuckets
    def score(tpe: String, bucket: Long, n: Long, ring: Seq[Long]): Option[SpikeRow] =
      if (ring.length < B) None
      else {
        val k = B.toDouble
        val mu = ring.sum.toDouble / k
        val varP = math.max(ring.map(x => x * x).sum.toDouble / k - mu * mu, 0.0)
        val sd = math.sqrt(varP)
        val z = graft.ops.Num.r6Double((n - mu) / math.max(sd, 1.0))
        Some(SpikeRow(tpe, bucket, n, graft.ops.Num.r6Double(mu),
          graft.ops.Num.r6Double(sd), z, z >= graft.queries.Sessions.SpikeZ))
      }
    // seal every bucket strictly below `upTo`, scoring each against the ring
    def sealTo(tpe: String, st0: RateState, upTo: Long,
               out: scala.collection.mutable.ArrayBuffer[SpikeRow]): RateState = {
      var cur = st0.curBucket; var n = st0.curN; var ring = st0.ring
      while (cur < upTo) {
        score(tpe, cur, n, ring).foreach(out += _)
        ring = (ring :+ n).takeRight(B)
        cur += H; n = 0L
      }
      RateState(cur, n, ring)
    }
    val streaming = events.isStreaming
    val src =
      if (streaming)
        events.withColumn("event_ts", timestamp_micros(col("ts_us")))
          .withWatermark("event_ts", watermarkDelay)
          .as[RateEvent]
      else events
    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()
    src.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf) {
        (tpe: String, rows: Iterator[RateEvent], state: GroupState[RateState]) =>
          var st = state.getOption.getOrElse(RateState(loBucketUs, 0L, Seq.empty))
          val out = scala.collection.mutable.ArrayBuffer.empty[SpikeRow]
          rows.toSeq.sortBy(_.ts_us).foreach { e =>
            val b = e.ts_us - java.lang.Math.floorMod(e.ts_us, H)
            if (b == st.curBucket) st = st.copy(curN = st.curN + 1)
            else if (b > st.curBucket && (b - st.curBucket) / H <= MaxCatchupBuckets)
              st = sealTo(tpe, st, b, out).copy(curN = 1L)
            // b < curBucket (late) and b beyond MaxCatchupBuckets ahead
            // (corrupt timestamp) are both arrival-contract violations;
            // the event is dropped, matching the watermark discipline of
            // the windowed twins
          }
          if (streaming) {
            // watermark sealing: a bucket is immutable once the watermark
            // passes its close — seal it (and any silent buckets behind
            // it) even if no later event ever arrives for this type
            val wmUs = state.getCurrentWatermarkMs() * 1000
            val wmBucket = wmUs - java.lang.Math.floorMod(wmUs, H)
            if (wmBucket > st.curBucket) {
              if ((wmBucket - st.curBucket) / H <= MaxCatchupBuckets)
                st = sealTo(tpe, st, wmBucket, out)
              else st = RateState(wmBucket, 0L, Seq.empty) // corrupt-wm reset
            }
            // fire when the open bucket becomes sealable; clamp above the
            // current watermark (ms truncation can land at/behind it)
            state.update(st)
            state.setTimeoutTimestamp(
              math.max((st.curBucket + H) / 1000, state.getCurrentWatermarkMs() + 1))
          } else state.update(st)
          out.iterator
      }
  }

  /** Incremental perceptual-hash media dedup via foreachBatch — the
    * multimodal twin of [[minhashDedupBatches]]: each micro-batch's media
    * objects are DCT-hashed with the SAME
    * [[graft.multimodal.Multimodal.dctHashOn]] the batch job uses, banded
    * against the union of the persisted hash index at `hashPath` and the
    * batch itself, and every near-dup pair (hamming ≤ `hamMax`) involving
    * a new object is emitted; the new hashes then join the index under
    * their batch id (the exactly-once state contract above). Hashes are
    * deterministic functions of the payload, so each
    * unordered pair is emitted EXACTLY once — in the micro-batch its later
    * member arrives — and the union of batch outputs equals the one-shot
    * `mm_dct_dedup` over all objects seen (StreamsSpec parity). Assumes
    * doc_ids are unique across batches (the dedup input contract).
    *
    * At 100 TB the hash index is 16 bytes/object — the persistent artifact
    * an image-dedup service keeps anyway; each batch costs one codec pass
    * over the batch plus a band-bucket join of |batch| rows against the
    * index, never corpus × corpus. */
  def mediaDedupBatches(docs: DataFrame, hashPath: String,
                        hamMax: Int = graft.multimodal.Multimodal.DctHamMax,
                        trigger: Trigger = Trigger.AvailableNow())
                       (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    // cross-run id offset — see [[batchIdBase]]
    val base = batchIdBase(docs.sparkSession, hashPath)
    eachBatch(docs, trigger) { (batch, id0) =>
      val id = base + id0
      val M = graft.multimodal.Multimodal
      val spark = batch.sparkSession
      // persisted: consumed by its own bands, the union's bands, and the
      // state append — released per batch (the minhashDedupBatches
      // discipline)
      val newFp = M.dctHashOn(M.fromDocuments(batch)).toDF().persist()
      try {
        // exactly-once: committed-before-id index only; retry replays
        // idempotently (batch-id-keyed state contract)
        val committed = committedIds(spark, hashPath)
        val old = committedStateBefore(spark, hashPath, "hashes", id, committed)
        val all = old.map(_.unionByName(newFp)).getOrElse(newFp.toDF())
        onBatch(M.dctCandidatesAgainst(newFp, all)
          .filter(col("hamming") <= lit(hamMax)), id)
        writeBatchState(newFp, hashPath, "hashes", id)
        commitBatch(spark, hashPath, id)
      } finally {
        newFp.unpersist()
        ()
      }
    }
  }

  /** The full MEDIA curation funnel as one streaming ingest via
    * foreachBatch — the multimodal twin of [[curationFunnelBatches]],
    * closing the text/media streaming symmetry: the same per-stage entry
    * points the batch funnel composes
    * ([[graft.multimodal.Multimodal.mmCurationFunnelOn]]), over the
    * cross-batch state a media ingest service keeps anyway, under
    * `statePath`:
    *
    *  - `feat`: append-only doc-local feature rows — ONE codec pass per
    *    object at ingest (decode-gate dims + media type + payload bytes,
    *    the [[graft.multimodal.Multimodal.mediaDocFeaturesOn]] discipline);
    *  - `af`: append-only alignment verdicts — per-batch caption-tower
    *    scoring against the STATIC media-embedding table;
    *  - `hashes` / `pairs`: the [[mediaDedupBatches]] DCT index and pair
    *    log, advanced by the SAME delta-bounded reconcile the registered
    *    `mm_clusters_incremental` runs (an added-only delta plus the
    *    stream-time hashes — no stored payload is ever decoded twice);
    *  - `clusters`: the rolling cluster manifest, rewritten per batch by
    *    the shared delta-bounded component update (touched components
    *    only, [[graft.ext.Dedup.componentUpdateFrom]]).
    *
    * Unlike the text funnel's keep-FIRST canonical gate, the media
    * election is keep-BEST-ALIGNED — a later-arriving near-dup with a
    * better caption DISPLACES an earlier survivor — so per-doc verdicts
    * are not final at first emission. Each micro-batch therefore emits
    * verdict rows for every doc in a cluster the batch touched (every
    * touched cluster contains a batch doc, so the revision set is
    * |batch|-cluster-bounded), and the stream's contract is
    * LAST-WRITE-WINS: folding emissions in batch order yields doc-for-doc
    * the one-shot batch funnel over all docs seen — StreamsSpec pins the
    * parity including a cross-batch displacement flipping an earlier
    * batch's survivor to a near_dup drop.
    *
    * At 100 TB each batch costs one codec pass over the batch, one
    * band-bucket join of |batch| hashes against the index, and a CC
    * update bounded to touched components — never a corpus rescan; the
    * verdict assembly joins only the touched clusters' members. */
  def mmCurationFunnelBatches(docs: DataFrame, embeddings: DataFrame, statePath: String,
                              trigger: Trigger = Trigger.AvailableNow())
                             (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    // cross-run id offset — see [[batchIdBase]]
    val base = batchIdBase(docs.sparkSession, statePath)
    eachBatch(docs, trigger) { (batch, id) =>
      mmCurationFunnelBatchBody(batch, embeddings, statePath, base + id)(onBatch)
    }
  }

  /** The per-batch body of [[mmCurationFunnelBatches]], factored out so
    * StreamsSpec can REPLAY a batch id (simulated foreachBatch retry) and
    * assert the five state components + the emission are identical. */
  private[graft] def mmCurationFunnelBatchBody(batchDf: DataFrame, embeddings: DataFrame,
                                               statePath: String, id: Long)
                                              (onBatch: (DataFrame, Long) => Unit): Unit = {
    val M = graft.multimodal.Multimodal
    val spark = batchDf.sparkSession
    val b = batchDf.persist()
        // doc-local state rows: one codec pass + one caption-tower pass,
        // both batch-sized and final (checkpointed — each feeds the state
        // append AND the verdict assembly)
        val featNew = M.mmFunnelDocStateOn(b).localCheckpoint()
        val afNew = M.alignFilterOn(b, embeddings)
          .select(col("doc_id"), col("align_cos"), col("keep")).localCheckpoint()
        // dedup + cluster reconcile: the registered incremental algorithm
        // with its streamed-ingest seams (added-only delta, stream hashes)
        val delta = b.select(col("doc_id")).withColumn("status", lit("added"))
          .localCheckpoint()
        val newFp = M.dctHashOn(M.fromDocuments(b)).toDF().localCheckpoint()
        // exactly-once: every state view is scoped to batches COMMITTED
        // before this id (batch-id-keyed state contract) — a retried
        // batch, committed or not, sees the identical prior state
        val committed = committedIds(spark, statePath)
        val oldHashes = committedStateBefore(spark, statePath, "hashes", id, committed)
          .getOrElse(newFp.limit(0))
        val oldPairs = committedStateBefore(spark, statePath, "pairs", id, committed)
          .getOrElse(M.dctCandidatesAgainst(newFp.limit(0), newFp.limit(0)))
        val oldManifest = committedSnapshotBefore(spark, statePath, "clusters", id, committed)
          .getOrElse(b.select(col("doc_id")).limit(0)
            .withColumn("cluster_id", lit(0L)).withColumn("cluster_size", lit(1L))
            .withColumn("is_canonical", lit(true)))
        val (_, _, keptPairs, freshPairs) = M.mediaWarehouseUpdateParts(
          b, b, oldHashes, oldPairs,
          precomputedDelta = Some(delta), precomputedFreshHashes = Some(newFp))
        // materialized: read below AND overwrites its own source parquet
        val manifest = graft.ext.Dedup.componentUpdateFrom(
            oldManifest.select("doc_id", "cluster_id", "cluster_size", "is_canonical"),
            delta, keptPairs.select("doc_a", "doc_b"), freshPairs.select("doc_a", "doc_b"))
          .localCheckpoint()
        // revision set: every member of a cluster holding a batch doc
        val touched = manifest
          .join(b.select("doc_id"), Seq("doc_id"), "left_semi")
          .select("cluster_id").distinct()
        val revised = manifest.join(touched, Seq("cluster_id"), "left_semi")
          .select("doc_id", "cluster_id", "cluster_size").localCheckpoint()
        // full doc-local state views (prior + this batch) for the shared
        // assembly — feature reads are revision-set-bounded via semi-join
        val feat = committedStateBefore(spark, statePath, "feat", id, committed)
          .map(_.unionByName(featNew)).getOrElse(featNew.toDF())
        val af = committedStateBefore(spark, statePath, "af", id, committed)
          .map(_.unionByName(afNew)).getOrElse(afNew.toDF())
        val ka = M.mediaKeepBestAlignedFrom(revised, af)
          .select("cluster_id", "keep_doc_id")
        val base = feat.join(revised.select("doc_id"), Seq("doc_id"), "left_semi")
        try {
          onBatch(
            M.mmFunnelAssemble(base, af.select("doc_id", "keep"), revised, ka), id)
          // EXACTLY-ONCE state advance (VERDICT r17 task 4, closing the
          // window the r16 reorder left open): the five writes land in
          // batch-id-keyed dirs (self-overwriting on retry, invisible to
          // readers), and the batch becomes state only when the commit
          // marker lands — one atomic-enough boundary instead of five
          // sequential appends. A crash ANYWHERE before the marker leaves
          // prior state untouched; the retry recomputes this batch from
          // the same committed-before-id views and rewrites bit-identical
          // dirs. StreamsSpec replays a batch to pin it.
          writeBatchState(featNew, statePath, "feat", id)
          writeBatchState(afNew, statePath, "af", id)
          // added-only stream: the index write and the fresh-pair write
          // ARE the reconciled warehouse (kept pairs never shrink)
          writeBatchState(newFp, statePath, "hashes", id)
          writeBatchState(freshPairs, statePath, "pairs", id)
          writeBatchState(manifest, statePath, "clusters", id)
          commitBatch(spark, statePath, id)
          pruneSnapshotsBefore(spark, statePath, "clusters", id, committed)
        } finally {
          b.unpersist()
          ()
        }
  }

  // ------------------------------------------------ forward as-of (stream)
  case class AsofEvent(event_id: Long, user_id: Long, event_type: String,
                       ts_us: Long, value: Double)
  /** An unresolved purchase plus its best candidate view so far (earliest
    * at-or-after ts, min event_id tiebreak — the batch quotes-dedup rule). */
  case class AsofPending(p_event_id: Long, p_ts_us: Long, q_event_id: Long,
                         q_ts_us: Long, q_value: Double, has_q: Boolean)
  case class AsofFwdState(pending: Seq[AsofPending],
                          views: Seq[(Long, Long, Double)]) // (ts_us, event_id, value)
  case class AsofFwdRow(event_id: Long, user_id: Long, ts_us: Long,
                        quote_event_id: Option[Long], quote_ts_us: Option[Long],
                        quote_value: Option[Double])

  /** Streaming twin of the FORWARD as-of join (`w_asof_forward`,
    * [[graft.queries.Sessions.asofForwardOn]]): each purchase resolves to
    * the EARLIEST same-user view at-or-after it. The forward direction is
    * watermark-DELAYED by nature — the candidate view seen so far is only
    * FINAL once the watermark passes it, because a later-arriving view
    * could still land between the purchase and the candidate; so a
    * purchase emits exactly when the watermark strictly passes its
    * candidate's timestamp (the [[clickViewLeftJoin]] delay discipline).
    *
    * `horizonUs` bounds the production deployment: a view later than
    * purchase + horizon no longer qualifies, and a purchase STILL
    * candidate-less once the watermark passes its horizon close emits a
    * NULL row and leaves the store — so state for candidate-less
    * purchases is TTL-bounded and the bounded-horizon forward as-of
    * (earliest view in [ts, ts+H], else null) streams completely. With
    * `horizonUs = None` (the unbounded default), purchases with no view
    * yet never emit inside a bounded run — the unbounded-horizon analog
    * of the left-outer join's withheld nulls (the batch row is the source
    * of truth for those) — and their state lingers until same-user
    * traffic resolves them.
    *
    * State per user: unresolved purchases + views the watermark has not
    * passed (older views were already offered to every pending purchase
    * and can never serve a future one — a future purchase's timestamp is
    * at least the watermark). Event-time timers re-arm at the earliest
    * sealable candidate (or horizon close) so resolution needs no further
    * same-user traffic. At 100 TB: state shuffles on user_id into
    * RocksDB-backed stores, watermark-bounded on the view side — the same
    * key/state shape as the session operator. */
  def asofForwardUpdates(events: Dataset[AsofEvent],
                         watermarkDelay: String = "2 hours",
                         horizonUs: Option[Long] = None): Dataset[AsofFwdRow] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val src =
      if (streaming)
        events.withColumn("event_ts", timestamp_micros(col("ts_us")))
          .withWatermark("event_ts", watermarkDelay)
          .as[AsofEvent]
      else events
    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf) {
        (user: Long, rows: Iterator[AsofEvent], state: GroupState[AsofFwdState]) =>
          val st0 = state.getOption.getOrElse(AsofFwdState(Seq.empty, Seq.empty))
          val batchRows = rows.toSeq
          // view dedup per timestamp: min event_id wins (and carries its
          // value) — identical to the batch twin's quotes aggregation
          val views = (st0.views ++ batchRows.filter(_.event_type == "view")
              .map(v => (v.ts_us, v.event_id, v.value)))
            .groupBy(_._1).map { case (_, vs) => vs.minBy(_._2) }.toSeq
          val newPend = batchRows.filter(_.event_type == "purchase")
            .map(p => AsofPending(p.event_id, p.ts_us, 0L, 0L, 0.0, has_q = false))
          def better(p: AsofPending, v: (Long, Long, Double)): AsofPending =
            if (v._1 < p.p_ts_us) p
            else if (horizonUs.exists(h => v._1 > p.p_ts_us + h)) p // beyond the horizon
            else if (!p.has_q || v._1 < p.q_ts_us ||
                (v._1 == p.q_ts_us && v._2 < p.q_event_id))
              AsofPending(p.p_event_id, p.p_ts_us, v._2, v._1, v._3, has_q = true)
            else p
          val offered = (st0.pending ++ newPend).map(p => views.foldLeft(p)(better))
          // seal: the watermark STRICTLY past the candidate proves no
          // admissible view can still land at-or-before it (an equal-ts
          // tie with a smaller event_id is admissible at wm == q_ts)
          val wmUs = if (streaming) state.getCurrentWatermarkMs() * 1000 else Long.MaxValue
          val (resolved, open) = offered.partition(p => p.has_q && p.q_ts_us < wmUs)
          // horizon close: a still-candidate-less purchase whose whole
          // window [ts, ts+H] the watermark has passed can never resolve —
          // its null row emits and its state leaves the store (the TTL)
          val (expired, pending) = open.partition(p =>
            !p.has_q && horizonUs.exists(h => p.p_ts_us + h < wmUs))
          val keptViews = views.filter(_._1 >= wmUs)
          if (streaming) {
            if (pending.isEmpty && keptViews.isEmpty) state.remove()
            else {
              state.update(AsofFwdState(pending, keptViews))
              // tight timer: a candidate at q_ts (or a horizon close at
              // p_ts+H) is final once wm_ms > floor(ts/1000), and timers
              // fire when wm_ms passes the set value STRICTLY — so arm at
              // the floor itself, clamped above the current watermark per
              // the API contract. NB the clamp's 1-ms edge: a seal
              // timestamp inside the current watermark's millisecond arms
              // at wm+1, and if the stream's FINAL watermark lands exactly
              // there with no further same-user traffic, that row is
              // withheld in a bounded run (production emits it on the next
              // watermark advance) — the same bounded-run withholding
              // already documented for candidate-less purchases.
              val next = pending.flatMap(p =>
                if (p.has_q) Some(p.q_ts_us) else horizonUs.map(p.p_ts_us + _))
              if (next.nonEmpty)
                state.setTimeoutTimestamp(
                  math.max(next.min / 1000, state.getCurrentWatermarkMs() + 1))
            }
          } else state.update(AsofFwdState(pending, keptViews))
          (resolved.map(p => AsofFwdRow(p.p_event_id, user, p.p_ts_us,
              Some(p.q_event_id), Some(p.q_ts_us), Some(p.q_value))) ++
            expired.map(p => AsofFwdRow(p.p_event_id, user, p.p_ts_us, None, None, None)))
            .sortBy(_.event_id).iterator
      }
  }

  case class AsofBwdState(pending: Seq[(Long, Long)], // (p_event_id, p_ts_us)
                          views: Seq[(Long, Long, Double)]) // (ts_us, event_id, value)
  case class AsofBwdRow(event_id: Long, user_id: Long, ts_us: Long,
                        quote_event_id: Option[Long], quote_ts_us: Option[Long],
                        quote_value: Option[Double])

  /** Streaming twin of the BACKWARD as-of join (`w_asof_join`,
    * [[graft.queries.Sessions.asofJoinOn]]): each purchase resolves to the
    * LATEST same-user view at-or-before it (equal-ts views dedupe to the
    * MAX event_id — the batch quotes rule). Unlike the forward direction,
    * backward rows are FULLY final at the watermark — once it strictly
    * passes a purchase's timestamp no admissible view at-or-before it can
    * arrive — so null rows emit too, and a bounded run reproduces the
    * batch join completely up to the final watermark (nulls included).
    *
    * State per user is BOUNDED by construction: views the watermark has
    * not passed, plus exactly ONE carry-forward (the best view older than
    * the watermark — every pending or future purchase's timestamp is at
    * least the watermark, so all older views qualify for it and the max
    * dominates; this is the classic last-value cache of a streaming
    * as-of). Event-time timers re-arm at the earliest pending purchase. */
  def asofBackwardUpdates(events: Dataset[AsofEvent],
                          watermarkDelay: String = "2 hours"): Dataset[AsofBwdRow] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val src =
      if (streaming)
        events.withColumn("event_ts", timestamp_micros(col("ts_us")))
          .withWatermark("event_ts", watermarkDelay)
          .as[AsofEvent]
      else events
    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf) {
        (user: Long, rows: Iterator[AsofEvent], state: GroupState[AsofBwdState]) =>
          val st0 = state.getOption.getOrElse(AsofBwdState(Seq.empty, Seq.empty))
          val batchRows = rows.toSeq
          // per-ts view dedup: MAX event_id wins (and carries its value)
          val views = (st0.views ++ batchRows.filter(_.event_type == "view")
              .map(v => (v.ts_us, v.event_id, v.value)))
            .groupBy(_._1).map { case (_, vs) => vs.maxBy(_._2) }.toSeq
          val pending = st0.pending ++ batchRows.filter(_.event_type == "purchase")
            .map(p => (p.event_id, p.ts_us))
          val wmUs = if (streaming) state.getCurrentWatermarkMs() * 1000 else Long.MaxValue
          // a purchase is final once the watermark STRICTLY passes it: any
          // later-arriving view has ts >= wm > p_ts, so it cannot qualify
          val (resolved, kept) = pending.partition(_._2 < wmUs)
          val out = resolved.sortBy(_._1).map { case (pid, pts) =>
            val cand = views.filter(_._1 <= pts)
            if (cand.isEmpty) AsofBwdRow(pid, user, pts, None, None, None)
            else {
              val best = cand.maxBy(v => (v._1, v._2))
              AsofBwdRow(pid, user, pts, Some(best._2), Some(best._1), Some(best._3))
            }
          }
          // prune: fresh views stay; all watermark-passed views collapse to
          // the ONE carry-forward (dominant for every remaining purchase)
          val (freshViews, oldViews) = views.partition(_._1 >= wmUs)
          val keptViews = freshViews ++
            (if (oldViews.nonEmpty) Seq(oldViews.maxBy(v => (v._1, v._2))) else Seq.empty)
          if (streaming) {
            if (kept.isEmpty && keptViews.isEmpty) state.remove()
            else {
              state.update(AsofBwdState(kept, keptViews))
              // tight timer (see the forward twin): a purchase at p_ts is
              // final once wm_ms > floor(p_ts/1000) — arm at the floor,
              // clamped above the current watermark per the API contract
              // (same 1-ms bounded-run withholding edge as the forward
              // twin's clamp when p_ts falls inside the current
              // watermark's millisecond)
              if (kept.nonEmpty)
                state.setTimeoutTimestamp(
                  math.max(kept.map(_._2).min / 1000, state.getCurrentWatermarkMs() + 1))
            }
          } else state.update(AsofBwdState(kept, keptViews))
          out.iterator
      }
  }

  /** Run a streaming DataFrame to completion against the bounded test input
    * (AvailableNow trigger + memory sink) and return the result as a batch
    * DataFrame — the harness for batch/stream parity tests. */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
                  mode: OutputMode = OutputMode.Append): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  // ------------------------------------------------------- sessionization
  case class SessionEvent(user_id: Long, ts_us: Long, value: Double)
  case class SessionState(sessionStartUs: Long, lastTsUs: Long, n: Long, sumValue: Double)
  case class SessionOut(user_id: Long, session_start_us: Long, session_end_us: Long,
                        n_events: Long, sum_value: Double)

  /** List-valued session state: every interval the watermark has not yet
    * sealed, not just the latest open one. */
  case class SessionBuffer(intervals: Seq[SessionState])

  val SessionGapUs: Long = 30L * 60 * 1000000 // 30-minute inactivity gap

  /** Gap-intervals sorted by start, neighbors within the gap merged —
    * session_window semantics; idempotent on already-merged input. */
  private def mergeIntervals(ivs: Seq[SessionState]): Seq[SessionState] = {
    val merged = scala.collection.mutable.ArrayBuffer.empty[SessionState]
    for (iv <- ivs.sortBy(s => (s.sessionStartUs, s.lastTsUs))) {
      if (merged.nonEmpty && iv.sessionStartUs - merged.last.lastTsUs <= SessionGapUs) {
        val p = merged.last
        merged(merged.length - 1) = SessionState(p.sessionStartUs,
          math.max(p.lastTsUs, iv.lastTsUs), p.n + iv.n, p.sumValue + iv.sumValue)
      } else merged += iv
    }
    merged.toSeq
  }

  /** Gap-based sessionization with explicit state —
    * `flatMapGroupsWithState` over per-user event streams.
    *
    * Streaming input: ALL unsealed intervals survive micro-batch boundaries
    * in list-valued state; an interval is emitted only once the event-time
    * watermark passes its last event + gap, i.e. when no non-late event can
    * extend or bridge it any more. This makes the merge order-robust for
    * EVERY event inside the watermark horizon — including one arriving
    * after a later gap-separated interval opened (the early interval is
    * still in state, so the bridge merges them instead of splitting the
    * session). Events later than `watermarkDelay` behind the max seen event
    * time may still land after their session sealed (inherent to any
    * streaming engine). Emission happens via gap-exceeding later events or
    * the EventTimeTimeout, whichever moves the watermark first; state per
    * key is bounded by the number of gap-separated intervals inside one
    * watermark horizon (≤ horizon/gap + 1).
    *
    * Batch input: one call per group sees all rows; every merged session is
    * emitted directly (timeouts never fire in batch execution).
    *
    * The batch twin (Sessions.sessionize) computes identical sessions with
    * window functions, giving the oracle cross-check for this non-SQL
    * operator. */
  def sessionize(events: Dataset[SessionEvent],
                 watermarkDelay: String = "1 hour"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val src =
      if (streaming)
        events.withColumn("event_ts", timestamp_micros(col("ts_us")))
          .withWatermark("event_ts", watermarkDelay)
          .as[SessionEvent]
      else events
    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuffer, SessionOut](OutputMode.Append(), timeoutConf) {
        // one handler for data batches AND timeouts: on timeout `rows` is
        // empty and the re-merge of prior intervals is idempotent
        case (uid, rows, state: GroupState[SessionBuffer]) =>
          val prior = state.getOption.map(_.intervals).getOrElse(Seq.empty)
          val fresh = rows.map(e => SessionState(e.ts_us, e.ts_us, 1L, e.value)).toSeq
          val merged = mergeIntervals(prior ++ fresh)
          def emit(s: SessionState): SessionOut =
            SessionOut(uid, s.sessionStartUs, s.lastTsUs, s.n, s.sumValue)
          if (!streaming) {
            state.remove()
            merged.iterator.map(emit)
          } else {
            // watermark-gated emission: seal only intervals whose
            // lastTs + gap is at/behind the watermark; everything else —
            // including gap-closed-within-this-batch intervals — stays in
            // state, because an in-horizon out-of-order event can still
            // extend or bridge it
            val wmUs = state.getCurrentWatermarkMs() * 1000
            val (flushed, open) = merged.partition(s => s.lastTsUs + SessionGapUs <= wmUs)
            if (open.nonEmpty) {
              state.update(SessionBuffer(open))
              // earliest unsealed interval drives the next flush; clamp
              // above the current watermark (setTimeoutTimestamp rejects
              // timestamps at/behind it — ms truncation can land there)
              val fireAtMs = open.map(_.lastTsUs).min / 1000 + SessionGapUs / 1000
              state.setTimeoutTimestamp(math.max(fireAtMs, state.getCurrentWatermarkMs() + 1))
            } else if (state.exists) state.remove()
            flushed.iterator.map(emit)
          }
      }
  }

  // ----------------------------------- sessionization on transformWithState
  /** The same gap-sessionization on Spark 4's `transformWithState` — the
    * arbitrary-state successor to `flatMapGroupsWithState` (typed per-key
    * state handles, first-class event-time timers, RocksDB-only state
    * backend). One shared `step` serves data batches and expired timers, so
    * the semantics — list-valued unsealed intervals, watermark-gated
    * sealing, out-of-order bridging inside the horizon — are line-for-line
    * those of [[sessionize]]; StreamsSpec pins tws ≡ fMGWS ≡ the batch
    * window twin on the same input. Timers: one per key at the earliest
    * unsealed interval's seal time; stale timers (the interval got extended
    * meanwhile) fire into an idempotent re-merge and re-register. */
  private class SessionizeProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SessionEvent, SessionOut] {
    @transient private var buf: org.apache.spark.sql.streaming.ValueState[SessionBuffer] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      buf = getHandle.getValueState[SessionBuffer]("intervals",
        org.apache.spark.sql.Encoders.product[SessionBuffer],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    private def step(uid: Long, fresh: Seq[SessionState], wmUs: Long): Iterator[SessionOut] = {
      val prior = if (buf.exists()) buf.get().intervals else Seq.empty
      val merged = mergeIntervals(prior ++ fresh)
      val (flushed, open) = merged.partition(s => s.lastTsUs + SessionGapUs <= wmUs)
      if (open.nonEmpty) {
        buf.update(SessionBuffer(open))
        val fireAtMs = open.map(_.lastTsUs).min / 1000 + SessionGapUs / 1000
        getHandle.registerTimer(math.max(fireAtMs, wmUs / 1000 + 1))
      } else if (buf.exists()) buf.clear()
      flushed.iterator.map(s => SessionOut(uid, s.sessionStartUs, s.lastTsUs, s.n, s.sumValue))
    }

    override def handleInputRows(key: Long, rows: Iterator[SessionEvent],
                                 tv: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionOut] =
      step(key, rows.map(e => SessionState(e.ts_us, e.ts_us, 1L, e.value)).toSeq,
        tv.getCurrentWatermarkInMs() * 1000)

    override def handleExpiredTimer(key: Long,
                                    tv: org.apache.spark.sql.streaming.TimerValues,
                                    info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] =
      step(key, Seq.empty, tv.getCurrentWatermarkInMs() * 1000)
  }

  /** Streaming-only entry point (transformWithState has no batch execution
    * path; the batch twin remains Sessions.sessionize). Requires the
    * RocksDB state store provider on the session. */
  def sessionizeTws(events: Dataset[SessionEvent],
                    watermarkDelay: String = "1 hour"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.withColumn("event_ts", timestamp_micros(col("ts_us")))
      .withWatermark("event_ts", watermarkDelay)
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionizeProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[SessionOut])
  }
}
