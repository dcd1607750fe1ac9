package graft.ops

/** Job labels for the incremental-update family's many small driver
  * actions: wraps an action in `setJobDescription` so a job-level profile
  * (graft.tools.JobProfile) can attribute per-job wall to pipeline stages
  * — the guide's "label your jobs" discipline, applied to the one code
  * path whose cost is job COUNT rather than any single plan. Always on;
  * restores the caller's description afterwards (descriptions are
  * thread-local). */
object Prof {
  def apply[T](spark: org.apache.spark.sql.SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(prev)
  }
}
