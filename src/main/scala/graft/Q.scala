package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** One registered engine query: the Spark plan builder plus (when the
  * semantics are ANSI-SQL-expressible) the equivalent DuckDB oracle SQL the
  * driver hash-compares against. `oracle = None` → rows-only check. */
case class Q(name: String, fn: (SparkSession, String) => DataFrame, oracle: Option[String],
    /** The query's presentation order. `fn` returns an unsorted frame;
      * [[SparkEntry.queries]] applies `orderBy(order)` on top, the only
      * place a presentation sort runs. Sorts that change a result (top-k
      * before a `limit`, window orders, a sort before a positional
      * `collect`) stay in `fn`. */
    order: Seq[Column] = Nil)

object Q {
  def apply(name: String, fn: (SparkSession, String) => DataFrame, sql: String,
      order: Column*): Q =
    Q(name, fn, Some(sql), order)
}
