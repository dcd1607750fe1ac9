package graft.tools

import org.apache.spark.sql.SparkSession

/** Developer mains for inspecting registry queries — executed plans and
  * per-job profiles (a selective correctness dump is
  * `runMain graft.Verify <sfDir> <outDir> <name>...`). Not part of the
  * query registry; each runs with one `runMain`. */
object Tools {
  /** The session every main runs on (these, [[graft.Verify]] and
    * [[graft.Bench]]), so their counts are taken on the same cores and
    * confs: `local[$SPARK_GRAFT_CPUS]`, 4 when unset, with as many shuffle
    * partitions. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions().apply(_))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Plan-evidence dump for the round's plans/ directory:
  * `runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <name>[,<name>...]`
  * executes each named registry query and writes
  * `<outDir>/<name>_<suffix>.txt` holding BOTH the `explain("formatted")`
  * output (operator list + details — scans, PushedFilters, join strategies)
  * and the final post-AQE executed plan tree (exchange counts are counted
  * on this section). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, namesCsv) = args
    val spark = Tools.session()
    new java.io.File(outDir).mkdirs()
    namesCsv.split(",").foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // collect() executes THIS df's QueryExecution so its AdaptiveSparkPlan
      // finalizes; explain("formatted") then shows the final plan
      df.collect()
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val executed = df.queryExecution.executedPlan.toString
      val body = s"===== $name: explain(formatted) =====\n$formatted\n" +
        s"===== $name: executed plan (post-AQE) =====\n$executed\n"
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), body)
      val nEx = "(?m)Exchange".r.findAllIn(executed).length
      println(s"$name: ${executed.linesIterator.length} plan lines, $nEx Exchange tokens -> $outDir/${name}_$suffix.txt")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}

/** Per-job wall-clock profile of a registry query — the measurement behind
  * the round-18 job-count work on the incremental/rolled warehouse family:
  * those queries are many small reconciliation jobs, so the optimization
  * lever is JOB COUNT and per-job overhead, which per-query seconds and
  * shuffle bytes cannot separate. Runs each named query twice (run 2 =
  * the bench's steady state, frozen artifacts warm) and prints, for the
  * second run, every Spark job with its wall ms and call site.
  * `runMain graft.tools.JobProfile <sfDir> <name>[,<name>...]` */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, namesCsv) = args
    val spark = Tools.session()
    spark.range(1000000).selectExpr("sum(id)").collect() // JIT warmup
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String, Int, Int)]()
    val taskCount = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        starts.put(j.jobId, (System.nanoTime(),
          Option(j.properties.getProperty("spark.job.description"))
            .orElse(Option(j.properties.getProperty("callSite.short")))
            .getOrElse("?"), taskCount.get()))
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        taskCount.incrementAndGet(); ()
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val s = starts.remove(j.jobId)
        if (s != null)
          done.add((j.jobId, (System.nanoTime() - s._1) / 1e6, s._2,
            0, taskCount.get() - s._3))
      }
    })
    namesCsv.split(",").foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      (1 to 2).foreach { run =>
        done.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        // the listener bus drains asynchronously; give it a beat
        Thread.sleep(500)
        import scala.jdk.CollectionConverters._
        val jobs = done.asScala.toSeq.sortBy(_._1)
        println(f"== $name run $run: wall=$dt%.2f s, jobs=${jobs.size}, " +
          f"job_ms_sum=${jobs.map(_._2).sum}%.0f, tasks=${jobs.map(_._5).sum}")
        if (run == 2)
          jobs.foreach { case (id, ms, site, _, tasks) =>
            println(f"  job $id%4d $ms%8.1f ms $tasks%4d tasks  $site") }
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        System.gc(); Thread.sleep(300)
      }
    }
    spark.stop()
  }
}
