package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // extra args = optional query-name filter (dev loop: re-dump a few
    // queries without re-running the registry); the driver passes exactly two
    val Array(sfDir, outDir, only @ _*) = args: @unchecked
    val spark = tools.Tools.session()
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
    // a typo'd filter name must fail loudly, not dump nothing and exit 0
    // (a stale previous dump would then pass for a fresh parity result)
    val unknown = only.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty)
      sys.error(s"unknown query name(s): ${unknown.mkString(", ")}")
    // Per-query status recorded alongside the dumps: a query that throws
    // must surface as an explicit "err" row in the driver report, not
    // silently vanish from it (round 7: 12 broken queries shrank the
    // report to 96/108 and it still looked all-green at a glance).
    val status = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        status(name) = "ok"
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        status(name) = s"err: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
      }
      // some query builders persist() shared subplans; release between
      // queries so cache doesn't accumulate across the whole registry
      spark.catalog.clearCache()
    }
    // only the dumped queries' oracles: check.py grades every entry, and a
    // stale dump of a query this run skipped must not be graded
    val json = SparkEntry.oracleSql.filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val statusJson = status
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/status.json"), statusJson)
    val nErr = status.valuesIterator.count(_ != "ok")
    println(s"[verify] ${status.size} queries dumped, $nErr errored" +
      (if (nErr > 0) s" — see $outDir/status.json" else ""))
    spark.stop()
  }

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL or an exception message
    * would otherwise make a reader's json.load fail. */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
