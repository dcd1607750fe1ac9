package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, V2TableWriteExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Q, SparkEntry}
import graft.ops.{FrozenCaches, Tables}

/** One benchmark run in one JVM: set up a session, warm every op of the
  * workload up (dumping outputs for the oracle check), then time whole
  * passes over the ops in a closed loop with one client until the time is
  * up. Each op is timed from the registry call to the end of a noop sink
  * that materializes every column; `count()` would let Catalyst prune the
  * projections away.
  *
  * Usage: Runner <workload> <dataDir> <outDir> <seconds> <trace 0|1> <cores>
  *
  * Writes `<outDir>/result.json` (samples, pass times, set-up, failures,
  * per-layer metrics) and, when tracing, `<outDir>/spans.json`. The oracle
  * comparison of the dumped outputs runs after this JVM exits. */
object Runner {
  /** One workload: its ops in pass order, the tables they scan, and the
    * untimed passes run before timing. The first warm-up pass dumps outputs
    * for the oracle check; the others run the timed noop sink. Class
    * loading, JIT, codegen and frozen builds make the first pass 3-8x slower
    * than a timed pass. Later passes still speed up: markt_analytics pass 3
    * runs ~1.1x a later pass, corpus_curation passes shrink until about pass
    * 6 (3.5, 3.3, 3.1, 3.0, 2.8 s). At run_seconds 3 every untraced run times
    * exactly two passes (a pass takes 2.5-16 s), so that residual trend is
    * the same in every run; more warm-up passes would not fit the
    * benchmark's time budget of about a minute per run. */
  final case class Workload(ops: Seq[String], tables: Seq[String], warmupPasses: Int)

  /** Each op costs 0.3-1.8 s warm and 1-12 s cold at these input sizes, so
    * a run affords about six ops; each module gets at least one. */
  val Workloads: Map[String, Workload] = Map(
    "markt_analytics" -> Workload(Seq(
      "a1_rate_curves", "b2_initial_rate_by_hour", "c4_discard_census", "w_sessionize",
      "w_sliding_window", "k_kmv_distinct"),
      Seq("events", "customer", "nation"), warmupPasses = 2),
    "corpus_curation" -> Workload(Seq(
      "t_token_entropy", "t_c4_clean", "dd_exact", "mm_phash_dedup", "s_dim_stats",
      "t_gate_patterns", "t_snapshot_delta"),
      Seq("documents", "embeddings"), warmupPasses = 3))

  /** Layer name -> ops, from each module's public registry list. */
  val Modules: Seq[(String, Seq[Q])] = Seq(
    "queries.Reference" -> graft.queries.Reference.all,
    "queries.Sessions" -> graft.queries.Sessions.all,
    "queries.Micro" -> graft.queries.Micro.all,
    "queries.Sketches" -> graft.queries.Sketches.all,
    "ext.Text" -> graft.ext.Text.all,
    "ext.Quality" -> graft.ext.Quality.all,
    "ext.Dedup" -> graft.ext.Dedup.all,
    "ext.Similarity" -> graft.ext.Similarity.all,
    "ext.Curation" -> graft.ext.Curation.all,
    "ext.Corpus" -> graft.ext.Corpus.all,
    "multimodal.Multimodal" -> graft.multimodal.Multimodal.all)

  val Readers: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events" -> Tables.events, "customer" -> Tables.customer, "nation" -> Tables.nation,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  /** Passes of one run agree within ~5%; runs differ by 10-25% as the
    * machine's speed drifts. A third timed pass would not narrow that and
    * costs 3-9 s of every run. */
  val MinTimedPasses = 2
  /** Traced runs mix untraced and traced passes. */
  val MinTracedPasses = 4

  final case class Span(id: Int, parent: Int, name: String, startUs: Long, endUs: Long)
  final case class Failure(op: String, phase: String, cls: String, msg: String)

  /** Counters of one timed pass, filled on the listener thread between the
    * pass's begin and end marker jobs. */
  final class PassCounters {
    var jobs, stages, tasks, busyMs, inBytes, inRows, shRead, shWrite, spill, materialized,
      peakExec = 0L
  }
  final case class JobSpan(jobId: Int, opSpan: Int, startMs: Long, endMs: Long)
  /** One timed op: `t0`/`t1` are epoch microseconds around build + sink. */
  final case class OpRun(op: String, spanId: Int, buildS: Double, sinkS: Double, t0: Long,
      t1: Long)
  final case class PassRun(traced: Boolean, wallS: Double, runs: Seq[OpRun], scanS: Double,
      counters: PassCounters)

  val MarkKey = "perfbench.mark"
  val SpanKey = "perfbench.span"

  final class Probe extends SparkListener {
    private var current: PassCounters = null
    private val open = mutable.Map.empty[Int, (Int, Long)]
    val done = new ConcurrentLinkedQueue[PassCounters]()
    val jobSpans = new ConcurrentLinkedQueue[JobSpan]()

    private var beginJob = -1

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(MarkKey))) match {
        case Some("end") =>
          done.add(current); current = null
        case Some(_) => beginJob = e.jobId
        case None =>
          if (current != null) current.jobs += 1
          props.flatMap(p => Option(p.getProperty(SpanKey)))
            .foreach(s => open(e.jobId) = (s.toInt, e.time))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      open.remove(e.jobId).foreach { case (op, start) =>
        jobSpans.add(JobSpan(e.jobId, op, start, e.time))
      }
      // the begin marker's own tasks have ended by now: count from here
      if (e.jobId == beginJob) current = new PassCounters
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (current != null) current.stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (current != null && m != null) {
        val c = current
        c.tasks += 1
        c.busyMs += m.executorRunTime
        c.inBytes += m.inputMetrics.bytesRead
        c.inRows += m.inputMetrics.recordsRead
        c.shRead += m.shuffleReadMetrics.totalBytesRead
        c.shWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExec = math.max(c.peakExec, m.peakExecutionMemory)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (current != null && b.blockId.isRDD && b.storageLevel.isValid)
        current.materialized += b.memSize + b.diskSize
    }
  }

  def main(args: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val uptimeAtMainS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    def uptimeS: Double = uptimeAtMainS + (System.nanoTime() - mainNs) / 1e9
    val Array(workload, dataDir, outDir, secondsArg, traceArg, coresArg) = args
    require(!sys.env.contains("GRAFT_FROZEN_DIR") && !sys.props.contains("graft.frozen.dir"),
      "the cross-JVM frozen store would move frozen builds out of set-up; unset " +
        "GRAFT_FROZEN_DIR / graft.frozen.dir")
    val Workload(ops, tables, warmupPasses) = Workloads(workload)
    val oracle = SparkEntry.oracleSql
    require(ops.forall(oracle.contains),
      s"every op needs a DuckDB oracle: ${ops.filterNot(oracle.contains).mkString(", ")}")
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = coresArg.toInt
    val moduleOf: Map[String, String] =
      Modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.functions.GraftExtensions().apply(_))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val probe = new Probe
    sc.addSparkListener(probe)

    // every noop write's executed query output, in execution order
    val sinkOutputs = new ConcurrentLinkedQueue[Seq[(String, String)]]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.logical match {
          case w: V2WriteCommand if (w.table match {
                case r: DataSourceV2Relation => r.table.name == "noop-table"
                case _ => false
              }) =>
            qe.executedPlan.collectFirst { case x: V2TableWriteExec => x.query.output }
              .foreach(o => sinkOutputs.add(o.map(a => a.name -> a.dataType.simpleString)))
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    System.err.println(f"perfbench: session ready at $uptimeS%.2f s")
    val registry = SparkEntry.queries
    val failures = mutable.ArrayBuffer.empty[Failure]
    val failed = mutable.Set.empty[String]
    var attempted = 0L
    def fail(op: String, phase: String, e: Throwable): Unit = {
      failures += Failure(op, phase, e.getClass.getName, String.valueOf(e.getMessage).take(500))
      failed += op
    }

    // Between ops: drop cached frames and checkpoint blocks. Before each
    // pass: a full GC, so the ContextCleaner reclaims shuffle and broadcast
    // state of the previous pass outside any op's time.
    var releaseS = 0.0
    def release(gc: Boolean = false): Unit = {
      val t0 = System.nanoTime()
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      if (gc) System.gc()
      releaseS += (System.nanoTime() - t0) / 1e9
    }
    // every noop write's frame schema, in write order, to compare with the
    // executed sink plans the execution listener saw
    val sinksExpected = mutable.ArrayBuffer.empty[(String, Seq[(String, String)])]
    def noop(name: String, df: DataFrame): Unit = {
      df.write.format("noop").mode("overwrite").save()
      sinksExpected += name -> df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)
    }

    // ------------------------------------------------------------ set-up
    // Warm-up pass 1 dumps each op's output for the DuckDB oracle check;
    // later warm-up passes run the timed noop sink.
    val warmupS = mutable.ArrayBuffer.fill(warmupPasses)(0.0)
    for (w <- 1 to warmupPasses) {
      release(gc = true)
      for (op <- ops if !failed(op)) {
        attempted += 1
        val t0 = System.nanoTime()
        try {
          val df = registry(op)(spark, dataDir)
          if (w == 1) df.write.mode("overwrite").parquet(s"$outDir/oracle/$op")
          else noop(op, df)
        } catch { case e: Throwable => fail(op, s"warmup$w", e) }
        val dt = (System.nanoTime() - t0) / 1e9
        warmupS(w - 1) += dt
        System.err.println(f"perfbench: warm-up $w $op $dt%.2f s")
        release()
      }
    }
    val builds = FrozenCaches.drainBuildLog()
    val setupS = uptimeS
    System.err.println(f"perfbench: set-up done at $setupS%.2f s, release $releaseS%.2f s")

    // ------------------------------------------------------------ timed
    val spans = mutable.ArrayBuffer.empty[Span]
    val epochOffsetUs = System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
    def us(ns: Long): Long = epochOffsetUs + ns / 1000
    def span(parent: Int, name: String, t0: Long, t1: Long): Int = {
      spans += Span(spans.size + 1, parent, name, us(t0), us(t1)); spans.size
    }
    // marker jobs bracket a pass on the listener thread, so counters
    // cover exactly the pass's jobs however late their events arrive
    def marker(kind: String): Unit = {
      sc.setLocalProperty(MarkKey, kind)
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty(MarkKey, null)
    }

    val passes = mutable.ArrayBuffer.empty[PassRun]
    val workloadT0 = System.nanoTime()
    if (trace) span(0, s"workload:$workload", workloadT0, workloadT0)
    val deadline = workloadT0 + (seconds * 1e9).toLong
    val timedOps = ops.filterNot(failed)
    while (passes.size < (if (trace) MinTracedPasses else MinTimedPasses) ||
      System.nanoTime() < deadline) {
      // untraced, traced, traced, untraced, ...: drift in the JIT or the
      // machine cancels out of trace_overhead
      val traced = trace && Set(1, 2)(passes.size % 4)
      release(gc = true)
      val passT0 = System.nanoTime()
      val passSpan = if (traced) span(1, s"pass ${passes.size}", passT0, passT0) else 0
      // ops.Tables layer: a direct reader scan of every table the ops read
      var scanS = 0.0
      if (traced) for (t <- tables) {
        val s0 = System.nanoTime()
        noop(t, Readers(t)(spark, dataDir))
        val s1 = System.nanoTime()
        span(passSpan, s"scan:$t", s0, s1)
        scanS += (s1 - s0) / 1e9
        release()
      }
      marker("begin")
      val runs = mutable.ArrayBuffer.empty[OpRun]
      for (op <- timedOps) {
        attempted += 1
        val opSpan = if (traced) span(passSpan, s"op:$op", 0, 0) else 0
        if (traced) sc.setLocalProperty(SpanKey, opSpan.toString)
        try {
          val t0 = System.nanoTime()
          val df = registry(op)(spark, dataDir)
          val t1 = System.nanoTime()
          noop(op, df)
          val t2 = System.nanoTime()
          runs += OpRun(op, opSpan, (t1 - t0) / 1e9, (t2 - t1) / 1e9, us(t0), us(t2))
          if (traced) {
            spans(opSpan - 1) = Span(opSpan, passSpan, s"op:$op", us(t0), us(t2))
            span(opSpan, "build", t0, t1)
            span(opSpan, "sink", t1, t2)
          }
        } catch { case e: Throwable => fail(op, s"pass${passes.size}", e) }
        sc.setLocalProperty(SpanKey, null)
        release()
      }
      marker("end")
      while (probe.done.size <= passes.size) Thread.sleep(2)
      val counters = probe.done.asScala.last
      if (traced) spans(passSpan - 1) = spans(passSpan - 1).copy(endUs = us(System.nanoTime()))
      passes += PassRun(traced, runs.map(r => (r.t1 - r.t0) / 1e6).sum, runs.toSeq, scanS, counters)
    }
    val steadyBuilds = FrozenCaches.drainBuildLog()
    if (trace) spans(0) = spans(0).copy(endUs = us(System.nanoTime()))
    System.err.println(f"perfbench: timed passes done at $uptimeS%.2f s, release $releaseS%.2f s")

    // the noop plan must output every column of the op's frame
    val waitUntil = System.nanoTime() + 10000000000L
    while (sinkOutputs.size < sinksExpected.size && System.nanoTime() < waitUntil) Thread.sleep(5)
    val seen = sinkOutputs.asScala.toSeq
    sinksExpected.zip(seen).foreach { case ((op, want), got) =>
      if (want != got) fail(op, "sink", new IllegalStateException(
        s"noop sink output ${got.mkString(",")} != frame schema ${want.mkString(",")}"))
    }
    if (seen.size != sinksExpected.size) failures += Failure("*", "sink",
      "IllegalStateException", s"saw ${seen.size} noop plans for ${sinksExpected.size} noop writes")

    // ------------------------------------------------------------ report
    val untraced = passes.filterNot(_.traced)
    val samples = untraced.flatMap(_.runs.map(r => (r.t1 - r.t0) / 1e6))
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "ops" -> ops,
      "cores" -> cores,
      "setup_s" -> setupS,
      "warmup_pass_s" -> warmupS,
      "pass_s" -> untraced.map(_.wallS),
      "samples" -> samples,
      "peak_exec_mb" -> untraced.map(_.counters.peakExec).maxOption.getOrElse(0L) / 1048576.0,
      "attempted" -> attempted,
      "failures" -> failures.map(f => Map("op" -> f.op, "phase" -> f.phase,
        "class" -> f.cls, "message" -> f.msg)),
      "frozen_builds" -> builds.map(b => Map("artifact" -> b.artifact, "s" -> b.sec)),
      "steady_builds" -> steadyBuilds.map(_.artifact))
    if (trace) {
      val jobs = probe.jobSpans.asScala.toSeq
      for (j <- jobs)
        spans += Span(spans.size + 1, j.opSpan, s"job:${j.jobId}", j.startMs * 1000, j.endMs * 1000)
      out("layers") = layers(passes.filter(_.traced).toSeq, jobs, moduleOf, cores) ++ Map(
        "frozen.build_s" -> builds.map(_.sec).sum,
        "frozen.builds" -> builds.size.toDouble,
        "frozen.steady_builds" -> steadyBuilds.size.toDouble,
        "trace_overhead" ->
          median(untraced.map(_.wallS)) / median(passes.filter(_.traced).map(_.wallS)))
      Files.writeString(Paths.get(s"$outDir/spans.json"), Json(spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_us" -> s.startUs,
        "end_us" -> s.endUs))))
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json(ops.map(op => op -> oracle(op)).toMap))
    Files.writeString(Paths.get(s"$outDir/result.json"), Json(out))
    spark.stop()
  }

  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total
  }

  val Mb = 1048576.0

  /** Per-layer metrics, each the median over traced passes of its per-pass
    * value. Ops and modules a workload does not run read 0. */
  def layers(traced: Seq[PassRun], jobs: Seq[JobSpan], moduleOf: Map[String, String],
      cores: Int): Map[String, Double] = {
    val jobsOf = jobs.groupBy(_.opSpan)
    val allOps = Workloads.values.flatMap(_.ops).toSeq
    val perPass = traced.map { p =>
      val c = p.counters
      val runs = p.runs
      val ivs = runs.flatMap(r => jobsOf.getOrElse(r.spanId, Nil)
        .map(j => (math.max(j.startMs * 1000, r.t0), math.min(j.endMs * 1000, r.t1))))
      val jobUnion = union(ivs)
      val m = mutable.Map[String, Double](
        "tables.scan_s" -> p.scanS,
        "tables.input_mb" -> c.inBytes / Mb,
        "tables.input_rows" -> c.inRows.toDouble,
        "spark.jobs" -> c.jobs.toDouble,
        "spark.stages" -> c.stages.toDouble,
        "spark.tasks" -> c.tasks.toDouble,
        "spark.task_busy_s" -> c.busyMs / 1000.0,
        "spark.slot_util" -> c.busyMs / 1000.0 / (p.wallS * cores),
        "spark.driver_s" -> (runs.map(r => r.t1 - r.t0).sum - jobUnion) / 1e6,
        "spark.job_concurrency" ->
          (if (jobUnion == 0) 1.0
           else ivs.map { case (s, e) => math.max(0L, e - s) }.sum.toDouble / jobUnion),
        "spark.shuffle_read_mb" -> c.shRead / Mb,
        "spark.shuffle_write_mb" -> c.shWrite / Mb,
        "spark.spill_mb" -> c.spill / Mb,
        "spark.materialized_mb" -> c.materialized / Mb)
      for ((mod, _) <- Modules) m(s"$mod.s") = 0.0
      for (op <- allOps) { m(s"op.$op.build_s") = 0.0; m(s"op.$op.sink_s") = 0.0 }
      for (r <- runs) {
        m(s"${moduleOf(r.op)}.s") += r.buildS + r.sinkS
        m(s"op.${r.op}.build_s") = r.buildS
        m(s"op.${r.op}.sink_s") = r.sinkS
      }
      m
    }
    perPass.head.keys.map(k => k -> median(perPass.map(_(k)))).toMap
  }
}

/** Minimal JSON rendering for the result files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
  }
}
