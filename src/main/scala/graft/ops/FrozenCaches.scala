package graft.ops

/** Registry of the library's frozen per-corpus artifacts — trained ANN
  * models (IVF centroids, PQ codebooks), sketch/census bytes (CMS, eval
  * bloom, fluency census), the materialized dup-cluster manifest, and the
  * scan-widen decisions.
  *
  * Artifacts key on (corpus path, content signature, residual key): the
  * signature — file count + total bytes + max mtime from the recursive
  * listing, see [[dirSig]] — makes a long-lived JVM detect data swapped
  * under a previously-read path and retrain instead of silently serving a
  * model of the old data (the round-7 testdata-regeneration footgun).
  * A stale generation's artifacts are evicted (and their on-disk state
  * cleaned) the first time the new generation is requested. The listing
  * goes through the Hadoop `FileSystem` of the path's URI, so plain
  * paths, `file:` URIs and remote stores (`s3a://`, `hdfs://`) all get a
  * real signature. Artifacts live in this JVM only: there is no on-disk
  * store, so a fresh JVM starts empty and rebuilds.
  *
  * Each hosting object registers its clear hook at class-init; hooks also
  * best-effort delete any temp-dir artifacts they own (the dup-cluster
  * manifest parquet), so [[clearAll]] doubles as cleanup for long-lived
  * sessions.
  *
  * INVARIANT: memo values must be parquet paths or plain values, NEVER
  * persisted/checkpointed DataFrames. [[graft.Bench]] blanket-unpersists
  * every persistent RDD between queries; a cached frame carried across
  * queries would lose its blocks with no lineage fallback and fail a
  * later query with checkpoint-block-not-found. */
object FrozenCaches {
  private val hooks = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  def register(hook: () => Unit): Unit = hooks.add(hook)

  def clearAll(): Unit = hooks.forEach(h => h())

  /** One frozen-artifact build event: which artifact, for which corpus,
    * and how long the builder ran EXCLUSIVE of nested labeled builds.
    *
    * Attribution is PER-THREAD: the exclusive-time accounting assumes a
    * nested labeled build runs on the SAME thread as its parent (every
    * current builder nests synchronously). A builder that triggered a
    * labeled build from another thread (future, parallel collection)
    * would double-count that time in both entries — if a builder ever
    * needs cross-thread nesting, the in-flight stack must move to a
    * structured-concurrency scope first.
    *
    * Exclusive means: a builder that triggers another labeled memo's
    * build (e.g. the
    * manifest-base bootstrap touching the dup warehouse's `dup_incr_base`)
    * logs only its own time, and the nested build logs its own entry. This
    * makes the ledger ADDITIVE (artifact secs sum to total labeled build
    * wall time, each second counted once) and ORDER-INDEPENDENT: an
    * artifact's number no longer depends on whether its sub-artifacts were
    * prebuilt by an earlier query, so cost cannot silently migrate between
    * artifacts that share sub-builds across rounds (round-13 watch item:
    * `funnel_manifest` 38.8→6.9 s while `manifest_base` 21.7→66.4 s read
    * as a regression when it was attribution). */
  final case class BuildEvent(artifact: String, dir: String, sec: Double)

  // Per-thread stack of in-flight LABELED builds: each frame accumulates
  // the wall time of nested labeled builds so the parent can subtract it.
  // Nesting is same-thread by construction (a builder body calls the
  // nested memo synchronously — see the BuildEvent scaladoc for the
  // cross-thread caveat); unlabeled builds don't push a frame, so their
  // time stays inside the nearest labeled ancestor (it is invisible to
  // the ledger either way).
  private val inFlight = new ThreadLocal[java.util.ArrayDeque[Array[Double]]] {
    override def initialValue(): java.util.ArrayDeque[Array[Double]] =
      new java.util.ArrayDeque[Array[Double]]()
  }

  // ---------------------------------------------------------- build ledger
  // Every labeled Memo build is recorded here so a bench harness can say
  // WHICH query paid for WHICH one-time artifact (train-once costs are
  // attributed to whichever query first touches the memo — legible only
  // with this ledger; see Bench's "frozen_builds" output field).
  private val buildLog = new java.util.concurrent.ConcurrentLinkedQueue[BuildEvent]()

  /** Drain and return all build events recorded since the last drain, in
    * build order. */
  def drainBuildLog(): Seq[BuildEvent] = {
    val out = Seq.newBuilder[BuildEvent]
    var e = buildLog.poll()
    while (e != null) { out += e; e = buildLog.poll() }
    out.result()
  }

  // artifacts that own on-disk state (the dup-cluster manifest's temp
  // dirs) are cleaned by their beforeClear hooks — run them on JVM exit
  // too, so short-lived sessions don't leak a parquet copy per corpus
  private def report(what: String, e: Throwable): Unit =
    System.err.println(s"FrozenCaches: $what failed: ${e.getClass.getName}: ${e.getMessage}")
  // registering throws only once the JVM is already shutting down
  try Runtime.getRuntime.addShutdownHook(new Thread(() =>
    try clearAll() catch { case e: Throwable => report("clearAll at shutdown", e) }))
  catch { case e: IllegalStateException => report("shutdown hook registration", e) }

  /** Cheap content signature of a file or directory: file count, total
    * bytes and max mtime folded into one long. Not collision-proof
    * against adversarial same-size-same-mtime swaps — it is the same
    * freshness test a build tool uses, and the failure mode is the old
    * (path-only) behavior, never a wrong answer on fresh reads.
    *
    * The walk runs on every [[Memo.get]] — that is the PRICE of immediate
    * staleness detection (the contract FrozenCachesSpec pins: swap data
    * under a path, the very next get retrains, no clearAll needed). It is
    * cheap on directory-sized corpora; a deployment on a listing-
    * expensive store that holds its data immutable can front the readers
    * with its own latch instead.
    *
    * The listing uses the Hadoop `FileSystem` of the path's URI and the
    * active session's Hadoop configuration (its credentials and FS
    * settings). A path that does not exist signs as 0; any other listing
    * failure propagates. It walks plain `listStatus` results: the located
    * listing (`listFiles`) reads each local file's permissions by running
    * `ls`, about 35 ms per call on a 10-file corpus against 0.1 ms. */
  def dirSig(path: String): Long = {
    import org.apache.hadoop.fs.FileStatus
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val fs = p.getFileSystem(conf)
    var n = 0L; var bytes = 0L; var mt = 0L
    def walk(s: FileStatus): Unit =
      if (s.isDirectory) fs.listStatus(s.getPath).foreach(walk)
      else {
        n += 1
        bytes += s.getLen
        mt = math.max(mt, s.getModificationTime)
      }
    try walk(fs.getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => return 0L }
    var h = 1125899906842597L
    h = h * 31 + n; h = h * 31 + bytes; h = h * 31 + mt
    h
  }

  /** A corpus-keyed artifact memo that self-registers with [[clearAll]].
    * `get` takes the corpus path EXPLICITLY (every frozen artifact
    * describes some corpus) and folds [[dirSig]] into the cache key, so
    * no caller can opt out of content freshness. `beforeClear` runs over
    * dropped values (for artifacts that own on-disk state, e.g. the
    * dup-cluster manifest's temp dirs) — both on [[clearAll]] and when a
    * stale generation is evicted.
    *
    * Plain synchronized get-or-compute, by design: a null-returning
    * builder is cached like any value (no silent rebuild-per-call), and
    * a heavyweight builder (full Spark jobs, temp-dir writes) never runs
    * twice concurrently for the same memo — the lock is per-Memo, so
    * distinct artifact families still build in parallel. */
  final class Memo[K, V](beforeClear: java.util.Collection[V] => Unit = null,
                         label: String = null) {
    private val m = new java.util.HashMap[(String, Long, K), V]()
    register { () =>
      this.synchronized {
        if (beforeClear != null && !m.isEmpty) beforeClear(new java.util.ArrayList[V](m.values()))
        m.clear()
      }
    }
    def get(dir: String, k: K)(build: => V): V = {
      // the signature walk happens OUTSIDE the lock: concurrent readers of
      // different corpora must not serialize on each other's filesystem
      // stats (the builder itself still runs under the lock, by design)
      val key = (dir, dirSig(dir), k)
      getWithKey(key)(build)
    }

    private def getWithKey(key: (String, Long, K))(build: => V): V = this.synchronized {
      val (dir, _, k) = key
      if (m.containsKey(key)) m.get(key)
      else {
        // a new generation of this corpus supersedes older ones: evict
        // them (and clean their on-disk state) before building
        val stale = new java.util.ArrayList[V]()
        val it = m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getKey._1 == dir && e.getKey._3 == k) {
            stale.add(e.getValue)
            it.remove()
          }
        }
        if (beforeClear != null && !stale.isEmpty) beforeClear(stale)
        val v =
          if (label == null) build
          else {
            val stack = inFlight.get()
            stack.push(Array(0.0)) // nested labeled-build seconds
            val t0 = System.nanoTime()
            var exclusive = 0.0
            val built =
              try build
              finally {
                // the stack unwinds even on a failed build (the parent's
                // accounting must survive), but only a SUCCESSFUL build
                // logs an event — a thrown builder caches nothing and
                // records nothing, as before
                val total = (System.nanoTime() - t0) / 1e9
                val nested = stack.pop()(0)
                if (!stack.isEmpty) stack.peek()(0) += total
                exclusive = total - nested
              }
            buildLog.add(BuildEvent(label, dir, exclusive))
            built
          }
        m.put(key, v)
        v
      }
    }
  }

  /** Recursive best-effort delete for temp artifacts; never throws. */
  def deleteTree(path: String): Unit =
    try {
      val p = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.exists(p)) {
        val walk = java.nio.file.Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
        finally walk.close()
      }
    } catch { case _: Throwable => () }
}
