package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = tools.Tools.session()
    // Untimed warmup: JIT + codegen + parquet-footer caches otherwise land
    // on whichever query happens to run first and distort its number. A
    // failed warm-up step is recorded with its cause under "warmup_errors"
    // (same format as "errors") and the run goes on.
    def cause(e: Throwable): String =
      s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(160)}"
    val warmupErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def warm(name: String)(body: => Unit): Unit =
      try body catch { case e: Throwable => warmupErrors(name) = cause(e) }
    warm("range_sum")(spark.range(1000000).selectExpr("sum(id)").collect())
    for (q <- Seq("m_project_filter_sort", "m_min_max_by", "m_derived_cols"))
      warm(q)(SparkEntry.queries(q)(spark, sfDir).count())
    // min of 2 runs = steady-state throughput: run 1 additionally pays
    // one-time janino codegen compilation per unique plan (~1-3s for the
    // window/agg-heavy plans), a fixed cost that amortizes away at real
    // data scale but would dominate single-shot numbers at sf0.1.
    // dev aid: SPARK_GRAFT_ONLY=q1,q2 restricts the run to named queries
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    // A thrown query must NOT be recorded as if its time-to-exception were
    // a measurement (round 7: 12 broken queries sat in the bench as fake
    // ~0.35 s rows). Track errors separately; they are excluded from the
    // total and listed under "errors" in the output line with the cause of
    // each query's first failure.
    val errored = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Frozen-artifact build ledger: train-once memo builds (IVF centroids,
    // census/bloom bytes, materialized manifests) are paid by whichever
    // query FIRST touches the memo, so its per-query number includes the
    // one-time build while later consumers read for free. The ledger makes
    // that attribution explicit in the output line instead of leaving each
    // round's bench diff to re-derive it (VERDICT r11 task 3).
    ops.FrozenCaches.drainBuildLog() // warmup-phase builds attribute to "warmup"
    val builds = scala.collection.mutable.ArrayBuffer.empty[(String, String, Double)]
    // Per-query shuffle/spill/peak-memory accounting (VERDICT r17 task 7):
    // on a shared noisy box, seconds drift with load but BYTES are
    // deterministic per plan — a scale regression (new shuffle, new spill)
    // shows up here even when the wall-clock hides it. Task-end events are
    // summed by a listener; the post-query 300 ms GC sleep doubles as the
    // listener-bus flush window, so per-query deltas (covering BOTH timed
    // runs) are attributed to the right query in practice. Diagnostics,
    // not a gate — a late-flushed event lands in the next query's bucket
    // at worst.
    import java.util.concurrent.atomic.AtomicLong
    val (mRead, mWrite, mSpill, mPeak) =
      (new AtomicLong, new AtomicLong, new AtomicLong, new AtomicLong)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          mRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          mWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          mSpill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          mPeak.accumulateAndGet(m.peakExecutionMemory, Math.max(_, _))
        }
      }
    })
    def mb(bytes: Long): Double = math.round(bytes / 1048.576) / 1000.0
    val io = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double, Double, Double)]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val (r0, w0, s0) = (mRead.get(), mWrite.get(), mSpill.get())
      mPeak.set(0L)
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case e: Throwable =>
          errored.getOrElseUpdate(name, cause(e))
        }
        (System.nanoTime() - t0) / 1e9
      }
      ops.FrozenCaches.drainBuildLog().foreach(e => builds += ((e.artifact, name, e.sec)))
      // persisted subplans stay warm across a query's two runs (that IS the
      // steady state) but are released before the next query; the explicit
      // GC lets the ContextCleaner actually reclaim accumulated broadcast /
      // shuffle state — on a 48g heap GC otherwise never fires, and dozens
      // of queries' worth of leaked executor state slows the tail queries
      spark.catalog.clearCache()
      // clearCache drops catalog-cached Datasets but NOT the RDD blocks
      // eagerly-localCheckpoint'ed inside the warehouse/CC queries — those
      // survive in the block manager until the driver GC happens to collect
      // their RDD handles, and a 183-query suite accumulates hundreds
      // (VERDICT r15 task 4: dd_clusters_rolled 3.2 s isolated vs 9.9 s
      // in-suite). Release them explicitly between queries.
      // INVARIANT (ADVICE r16): no query may hand a persisted/checkpointed
      // DataFrame to a LATER query — FrozenCaches.Memo values must be
      // parquet paths or plain values, never cached frames. This blanket
      // unpersist would drop such a frame's blocks with no lineage
      // fallback (localCheckpoint severs it), failing the later query
      // with a confusing checkpoint-block-not-found error.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
      Thread.sleep(300) // let concurrent GC cycles finish outside the next query's timing
      io(name) = (mb(mRead.get() - r0), mb(mWrite.get() - w0),
        mb(mSpill.get() - s0), mb(mPeak.get()))
      name -> times.min
    }.toMap.filterNot { case (name, _) => errored.contains(name) }
    // The driver records a bounded TAIL of this line, truncating the FRONT
    // (round-6 record lost the total + the 7 earliest entries; round 14
    // the grown frozen_builds ledger pushed EVERY per-query number out of
    // the surviving 2000-char tail). Field order is therefore
    // survivability order, most-expendable first: the builds ledger, then
    // the full per-query map (cheapest-first, so truncation drops the
    // small entries), then — guaranteed inside any plausible tail — the
    // top-10 slowest queries, the error list, and the total. Seconds are
    // ms-rounded: sub-ms digits are noise and every byte saved keeps one
    // more per-query entry alive.
    def r3(v: Double): Double = math.round(v * 1000.0) / 1000.0
    // (time, name) sort: ms-equal entries land in a byte-stable order, so
    // record diffs across runs only show real movement
    val qs = results.toSeq.sortBy { case (k, v) => (r3(v), k) }
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val slow = results.toSeq.sortBy { case (k, v) => (-r3(v), k) }.take(10)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) r3(results.values.sum) else 0.0
    def jsonMap(m: Iterable[(String, String)]): String = m
      .map { case (k, v) => Verify.jsonStr(k) + ":" + Verify.jsonStr(v) }.mkString("{", ",", "}")
    val errs = jsonMap(errored.toSeq.sortBy(_._1))
    // build order preserved: artifact -> (builder query, build seconds)
    val ledger = builds.map { case (a, q, s) =>
      "{\"artifact\":\"" + a + "\",\"built_by\":\"" + q + "\",\"sec\":" + r3(s) + "}"
    }.mkString("[", ",", "]")
    // per-query [shuffle read, shuffle write, spill, peak exec memory] in
    // MB over the query's two timed runs — expendable zone (before the
    // per-query seconds); totals repeat in the guaranteed tail below
    val ioJson = io.toSeq.sortBy(_._1)
      .map { case (k, (r, w, s, p)) => "\"" + k + "\":[" + r + "," + w + "," + s + "," + p + "]" }
      .mkString("{", ",", "}")
    def r1(v: Double): Double = math.round(v * 10.0) / 10.0
    val ioTotals = s""""shuffle_read_mb":${r1(io.valuesIterator.map(_._1).sum)},"shuffle_write_mb":${r1(io.valuesIterator.map(_._2).sum)},"spill_mb":${r1(io.valuesIterator.map(_._3).sum)},"peak_mem_mb_max":${r1(io.valuesIterator.map(_._4).foldLeft(0.0)(math.max))}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","frozen_builds":$ledger,"io_mb":$ioJson,"queries":$qs,"slowest":$slow,"warmup_errors":${jsonMap(warmupErrors)},"errors":$errs,"n_errors":${errored.size},$ioTotals,"total_sec":$total}""")
    spark.stop()
  }
}
