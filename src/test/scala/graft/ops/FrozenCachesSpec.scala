package graft.ops

import graft.SparkSpec

/** The frozen-artifact invalidation contract: clearAll() drops every
  * path-keyed model/sketch/manifest/widen cache (and deletes every owned
  * temp dir), and a rebuild from the same data reproduces the identical
  * results — so a long-lived session that regenerates its data can
  * clearAll() and trust what comes back. */
class FrozenCachesSpec extends SparkSpec {
  import java.nio.file.{Files, Paths}
  private val dir = "/root/testdata/sf0.001"

  test("clearAll invalidates the dup-cluster manifest; the rebuild is identical") {
    val before = graft.ext.Dedup.dupClusters(spark, dir).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    FrozenCaches.clearAll()
    val after = graft.ext.Dedup.dupClusters(spark, dir).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    assert(before.nonEmpty && before === after)
  }

  test("memo: content fingerprint invalidates when data changes under the path") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fp_test").toString
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(tmp, "a.txt"), "one")
      var builds = 0
      val memo = new FrozenCaches.Memo[Unit, Int]("spec_fp")
      assert(memo.get(tmp, ()) { builds += 1; builds } === 1)
      assert(memo.get(tmp, ()) { builds += 1; builds } === 1) // unchanged data: cached
      // size change (mtime granularity can be coarse; size alone must trip it)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(tmp, "a.txt"), "twoo")
      assert(memo.get(tmp, ()) { builds += 1; builds } === 2) // changed data: rebuilt
      assert(builds === 2)
    } finally FrozenCaches.deleteTree(tmp)
  }

  test("memo: a stale generation's owned dir is deleted when data changes") {
    val tmp = Files.createTempDirectory("graft_fp_evict").toString
    try {
      Files.writeString(Paths.get(tmp, "a.txt"), "one")
      val memo = new FrozenCaches.DirMemo[Unit, String]("spec_evict")
      val first = memo.get(tmp, ())(base => base)
      assert(Paths.get(first).getFileName.toString.startsWith("graft_spec_evict_"))
      assert(Files.isDirectory(Paths.get(first)))
      assert(memo.get(tmp, ())(_ => "rebuilt") === first) // unchanged data: cached
      Files.writeString(Paths.get(tmp, "a.txt"), "twoo")
      val second = memo.get(tmp, ())(base => base)
      assert(second != first)
      assert(!Files.exists(Paths.get(first)), "the stale generation's dir survived eviction")
      assert(Files.isDirectory(Paths.get(second)), "eviction deleted the new generation's dir")
    } finally FrozenCaches.deleteTree(tmp)
  }

  test("dir memo: a builder that throws leaves no dir under its label's prefix, caches nothing") {
    val tmp = Files.createTempDirectory("graft_fp_throw").toString
    def owned: Seq[String] =
      Option(new java.io.File(System.getProperty("java.io.tmpdir")).list()).toSeq.flatten
        .filter(_.startsWith("graft_spec_throw_"))
    try {
      val memo = new FrozenCaches.DirMemo[Unit, String]("spec_throw")
      FrozenCaches.drainBuildLog()
      var seen: String = null
      intercept[RuntimeException](memo.get(tmp, ()) { base =>
        seen = base
        Files.writeString(Paths.get(base, "part.txt"), "half-written")
        throw new RuntimeException("nope")
      })
      assert(seen != null && !Files.exists(Paths.get(seen)), "the failed build's dir survived")
      assert(owned.isEmpty, s"dirs left under the label's prefix: $owned")
      assert(!FrozenCaches.drainBuildLog().exists(_.artifact == "spec_throw"))
      var builds = 0
      val built = memo.get(tmp, ()) { base => builds += 1; base } // nothing cached: builds
      assert(builds === 1 && Files.isDirectory(Paths.get(built)))
    } finally FrozenCaches.deleteTree(tmp)
  }

  test("dir memo: clearAll deletes every owned dir") {
    val tmp = Files.createTempDirectory("graft_fp_clear").toString
    try {
      val a = new FrozenCaches.DirMemo[Int, String]("spec_clear_a")
      val b = new FrozenCaches.DirMemo[Unit, String]("spec_clear_b")
      val dirs = Seq(a.get(tmp, 1)(base => base), a.get(tmp, 2)(base => base),
        b.get(tmp, ())(base => base))
      // a registered on-disk artifact too: the dup-cluster manifest's dir,
      // the `graft_dup_manifest_*` component of its input files' paths
      val f = new java.net.URI(graft.ext.Dedup.dupClusters(spark, dir).inputFiles.head).getPath
      val dup = f.substring(0, f.indexOf('/', f.indexOf("/graft_dup_manifest_") + 1))
      assert((dirs :+ dup).forall(d => Files.isDirectory(Paths.get(d))))
      FrozenCaches.clearAll()
      val left = (dirs :+ dup).filter(d => Files.exists(Paths.get(d)))
      assert(left.isEmpty, s"clearAll left owned dirs behind: $left")
    } finally {
      FrozenCaches.deleteTree(tmp)
      spark.catalog.clearCache()
    }
  }

  test("the first t_manifest_consume call logs a manifest_publish ledger event") {
    FrozenCaches.clearAll()
    FrozenCaches.drainBuildLog()
    val consume = graft.SparkEntry.queries("t_manifest_consume")
    consume(spark, dir)
    val events = FrozenCaches.drainBuildLog()
    assert(events.exists(e => e.artifact == "manifest_publish" && e.dir == dir),
      s"no manifest_publish event in ${events.map(_.artifact)}")
    consume(spark, dir) // published once per corpus: no second event
    assert(!FrozenCaches.drainBuildLog().exists(_.artifact == "manifest_publish"))
    spark.catalog.clearCache()
  }

  test("memo: a null-returning builder is cached, not silently rebuilt per call") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fp_null").toString
    try {
      var builds = 0
      val memo = new FrozenCaches.Memo[Unit, String]("spec_null")
      assert(memo.get(tmp, ()) { builds += 1; null } === null)
      assert(memo.get(tmp, ()) { builds += 1; null } === null)
      assert(builds === 1)
    } finally FrozenCaches.deleteTree(tmp)
  }

  test("dirSig lists through the path's FileSystem: a file: URI corpus signs and re-signs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fp_uri")
    try {
      java.nio.file.Files.writeString(tmp.resolve("a.txt"), "one")
      val uri = tmp.toUri.toString
      assert(uri.startsWith("file:"))
      val sig = FrozenCaches.dirSig(uri)
      assert(sig != 0L, "a file: URI corpus got the no-data signature")
      assert(sig === FrozenCaches.dirSig(tmp.toString), "URI and plain path sign differently")
      java.nio.file.Files.writeString(tmp.resolve("a.txt"), "twoo")
      assert(FrozenCaches.dirSig(uri) != sig, "replacing a file left the signature unchanged")
      assert(FrozenCaches.dirSig(tmp.resolve("missing").toUri.toString) === 0L)
    } finally FrozenCaches.deleteTree(tmp.toString)
  }

  test("swapping the corpus under a path retrains the dup-cluster manifest") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fp_corpus").toString
    try {
      val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val full = graft.ext.Dedup.dupClusters(spark, tmp).collect().map(_.toSeq).toSeq
      // swap a half-size corpus under the SAME path — no clearAll
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      spark.catalog.clearCache()
      val half = graft.ext.Dedup.dupClusters(spark, tmp).collect().map(_.toSeq).toSeq
      assert(full.nonEmpty && half.nonEmpty && full != half,
        "manifest served stale frozen artifact after the corpus changed")
    } finally {
      FrozenCaches.deleteTree(tmp)
      spark.catalog.clearCache()
    }
  }

  test("build ledger: nested labeled builds log EXCLUSIVE time (order-independent attribution)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fp_ledger").toString
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(tmp, "a.txt"), "x")
      val child = new FrozenCaches.Memo[Unit, Int](label = "spec_child")
      val parent = new FrozenCaches.Memo[Unit, Int](label = "spec_parent")
      FrozenCaches.drainBuildLog()
      parent.get(tmp, ()) {
        Thread.sleep(60)
        child.get(tmp, ()) { Thread.sleep(120); 1 } + 1
      }
      val events = FrozenCaches.drainBuildLog()
        .filter(e => e.artifact.startsWith("spec_"))
        .map(e => e.artifact -> e.sec).toMap
      // child logs its full 120ms; parent logs ONLY its own ~60ms — the
      // nested child time is subtracted, so the two entries are additive
      // and the parent's number is the same whether or not the child was
      // prebuilt (the round-13 ledger-migration watch item)
      assert(events("spec_child") >= 0.10, s"child ${events("spec_child")}")
      assert(events("spec_parent") >= 0.05 && events("spec_parent") < 0.11,
        s"parent logged ${events("spec_parent")} — nested time not excluded")
      // prebuilt-child control: a second parent build over fresh data with
      // the child already cached logs the same-sized parent entry
      java.nio.file.Files.writeString(java.nio.file.Paths.get(tmp, "a.txt"), "yy")
      child.get(tmp, ()) { Thread.sleep(120); 1 }
      FrozenCaches.drainBuildLog()
      parent.get(tmp, ()) { Thread.sleep(60); child.get(tmp, ())(99) + 1 }
      val events2 = FrozenCaches.drainBuildLog()
        .filter(_.artifact == "spec_parent").map(_.sec)
      assert(events2.nonEmpty && events2.head >= 0.05 && events2.head < 0.11,
        s"prebuilt-child parent logged ${events2.headOption}")
      // a thrown builder logs nothing and caches nothing, but the parent
      // accounting stack must still unwind cleanly
      val boom = new FrozenCaches.Memo[Unit, Int](label = "spec_boom")
      intercept[RuntimeException](boom.get(tmp, ())(throw new RuntimeException("nope")))
      assert(!FrozenCaches.drainBuildLog().exists(_.artifact == "spec_boom"))
      assert(boom.get(tmp, ())(7) === 7) // rebuild after failure works
    } finally FrozenCaches.deleteTree(tmp)
  }

  test("Prof labels the jobs it wraps and restores the caller's description") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(d => d == "x" || d == "prof_spec_outer").foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription("prof_spec_outer")
      Prof(spark, "x")(spark.range(10).count())
      assert(sc.getLocalProperty("spark.job.description") === "prof_spec_outer")
      spark.range(10).count()
      // the listener bus delivers asynchronously; one count() may run
      // several jobs, all under the same description
      val deadline = System.nanoTime() + 10000000000L
      while (!seen.contains("prof_spec_outer") && System.nanoTime() < deadline) Thread.sleep(20)
      import scala.jdk.CollectionConverters._
      assert(seen.asScala.toSeq.distinct === Seq("x", "prof_spec_outer"))
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("clearAll invalidates the frozen census/sketch/model caches; rebuilds are identical") {
    import org.apache.spark.sql.functions.col
    def fluency = graft.ext.Text.lmFluency(spark, dir).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    def hh = graft.ext.Text.heavyHitters(spark, dir).orderBy(col("n").desc, col("gram"))
      .collect().map(_.toSeq).toSeq
    def ivf = graft.ext.Similarity.knnIvfKmeans(spark, dir).orderBy("q_id", "rank")
      .collect().map(_.toSeq).toSeq
    val (fluencyBefore, hhBefore, ivfBefore) = (fluency, hh, ivf)
    spark.catalog.clearCache()
    FrozenCaches.clearAll()
    assert(fluencyBefore === fluency)
    assert(hhBefore === hh)
    assert(ivfBefore === ivf)
    spark.catalog.clearCache()
  }
}
