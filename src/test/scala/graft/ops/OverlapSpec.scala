package graft.ops

import graft.SparkSpec

/** Failure behaviour of [[Overlap]]: a background action whose caller
  * fails must not outlive it. The caller cancels its handles and rethrows
  * its own failure; the background jobs are gone shortly after, and the
  * exception the caller sees is the foreground one, not the cancellation.
  * ManifestIncrSpec pins the same for the manifest update's two
  * overlapped jobs. */
class OverlapSpec extends SparkSpec {
  test("cancel: a slow background job stops when the foreground throws") {
    val sc = spark.sparkContext
    val slow = Overlap.background(spark, "spec: slow") {
      sc.parallelize(1 to 4, 4).map { i => Thread.sleep(120000); i }.count()
    }
    val deadline = System.nanoTime() + 20000000000L
    while (sc.statusTracker.getActiveJobIds.isEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(sc.statusTracker.getActiveJobIds.nonEmpty, "the background job never started")
    val e = intercept[IllegalStateException] {
      try throw new IllegalStateException("foreground boom")
      catch { case e: Throwable => slow.cancel(); throw e }
    }
    assert(e.getMessage === "foreground boom")
    // the status tracker is listener-fed: poll until no job is active
    val drained = System.nanoTime() + 15000000000L
    while (sc.statusTracker.getActiveJobIds.nonEmpty && System.nanoTime() < drained)
      Thread.sleep(50)
    assert(sc.statusTracker.getActiveJobIds.isEmpty, "the cancelled background job is still running")
  }
}
