package graft.ops

/** Guide §2.6 "overlap independent jobs": Spark's scheduler happily runs
  * several jobs at once inside one application — actions are only
  * sequential because driver code calls them sequentially. The
  * incremental-update family has exactly the shape that benefits: two
  * independent reconciliation subtrees (the per-doc feature pass and the
  * dedup/CC pass) hanging off one shared delta, each a chain of small
  * driver actions. Running one chain on a background thread lets its tasks
  * back-fill executor slots freed by the other chain's stragglers instead
  * of serializing the two chains end to end.
  *
  * Contract: the caller MUST [[Handle.await]] before its public method
  * returns, so exceptions propagate to the caller's stack, and MUST
  * [[Handle.cancel]] every handle when its own foreground work throws, so
  * no action outlives the query that spawned it. Job descriptions/groups
  * are thread-local in Spark, so the background action is labeled inside
  * the thread (the [[Prof]] discipline still attributes its jobs
  * correctly). */
object Overlap {
  private val ids = new java.util.concurrent.atomic.AtomicLong()

  final class Handle(spark: org.apache.spark.sql.SparkSession, group: String, t: Thread,
                     err: java.util.concurrent.atomic.AtomicReference[Throwable]) {
    /** Block until the background action finishes; rethrow its failure. */
    def await(): Unit = {
      t.join()
      val e = err.get()
      if (e != null) throw e
    }

    /** Cancel the background action's running and future jobs (task
      * threads are interrupted) and wait for its thread to end. Its own
      * outcome is dropped: after a cancel that is the cancellation, and
      * the caller is already propagating the failure that made it cancel. */
    def cancel(): Unit = {
      spark.sparkContext.cancelJobGroupAndFutureJobs(group)
      t.join()
    }
  }

  /** Run `body` (a Spark action) on a daemon thread under a [[Prof]]
    * label, in a job group of its own so [[Handle.cancel]] reaches exactly
    * its jobs. The SparkSession is thread-safe for concurrent actions;
    * FIFO scheduling gives the foreground chain's jobs priority and
    * back-fills the background one — exactly the §2.6 recipe. */
  def background(spark: org.apache.spark.sql.SparkSession, label: String)(
      body: => Any): Handle = {
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val group = s"graft-overlap-${ids.incrementAndGet()}"
    val t = new Thread(() => {
      spark.sparkContext.setJobGroup(group, label, interruptOnCancel = true)
      try Prof(spark, label)(body)
      catch { case e: Throwable => err.set(e) }
    }, s"graft-overlap-${label.takeWhile(_ != ' ')}")
    t.setDaemon(true)
    t.start()
    new Handle(spark, group, t, err)
  }
}
