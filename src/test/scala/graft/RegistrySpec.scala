package graft

/** Contract tests for the driver registry: every query runs, every oracle
  * key resolves, names are unique, and the flagship entry returns rows. */
class RegistrySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("flagship entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle SQLs render post-init constants (object-init-order folding guard)") {
    // Scala object initializers can run circularly (Dedup's SQLs read
    // Corpus.BenchSlice; Corpus's read Dedup's thresholds): a STRICT val
    // interpolating a cross-object constant whose line has not executed
    // yet freezes the type's default (0 / 0.0 / null) into the SQL — and
    // if the folded predicate only bites at scale, the sf0.01 gate stays
    // green (the t_split_leakage est_jaccard >= 0.0 fold shipped for 14
    // rounds and surfaced only at sf0.1). Pin the rendered literals of
    // every cross-object constant a registry oracle interpolates.
    val sqls = SparkEntry.oracleSql
    assert(sqls("t_split_leakage").contains(s">= ${graft.ext.Dedup.ClusterEstMin}"),
      "t_split_leakage lost its ClusterEstMin threshold")
    val folded = sqls.filter { case (_, v) =>
      v.contains("est_jaccard >= 0.0") || v.contains("est_jaccard >= 0)") }
    assert(folded.isEmpty, s"zero-folded jaccard thresholds in: ${folded.keys}")
    // churn-class predicates must carry the real modulus classes
    val mod = graft.ext.Corpus.DeltaMod
    assert(sqls("t_manifest_rolled").contains(s"% $mod <> ${graft.ext.Dedup.RolledRemoved2}"),
      "t_manifest_rolled lost RolledRemoved2")
    assert(sqls("t_manifest_rolled").contains(s"= ${graft.ext.Dedup.RolledChanged2} THEN"),
      "t_manifest_rolled lost RolledChanged2")
    assert(sqls("t_decontaminate_fuzzy").contains(s">= ${graft.ext.Dedup.FuzzyContamMin}"),
      "t_decontaminate_fuzzy lost FuzzyContamMin")
    assert(sqls("mm_pipeline_manifest").contains(s"% ${graft.multimodal.Multimodal.MediaPackChunkBytes}")
      || sqls("mm_pipeline_manifest").contains(s"// ${graft.multimodal.Multimodal.MediaPackChunkBytes}"),
      "mm manifest lost its pack budget")
    // no oracle may carry a division/modulus by a folded zero
    val zeroDiv = sqls.filter { case (_, v) => v.contains("% 0\n") || v.contains("// 0 ") || v.contains("% 0 ") }
    assert(zeroDiv.isEmpty, s"zero modulus/divisor in: ${zeroDiv.keys}")
  }

  test("each registered order runs once: the root global Sort of the registered plan") {
    // no execution: the optimized plan's root must be a global Sort on
    // exactly q.order (count() would let Catalyst drop it, so the run-all
    // test below says nothing about order), and the builder's own frame
    // must not end in a sort of its own
    import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    // by output name: the optimizer may re-id an attribute (the distinct-
    // aggregate rewrite does) without changing which column it is
    def key(o: Seq[SortOrder]) = o.map(s => (s.child match {
      case a: Attribute => a.name
      case e => e.sql
    }, s.direction, s.nullOrdering))
    val bad = SparkEntry.registry.filter(_.order.nonEmpty).sortBy(_.name).flatMap { q =>
      try {
        val df = SparkEntry.queries(q.name)(spark, dir)
        val expected = key(df.orderBy(q.order: _*).queryExecution.analyzed.asInstanceOf[Sort].order)
        val root = df.queryExecution.optimizedPlan match {
          case Sort(order, true, _, _) if key(order) == expected => None
          case p => Some(s"${q.name}: optimized root ${p.nodeName} is not a global Sort " +
            s"on ${q.order.mkString(", ")}")
        }
        val builder = df.queryExecution.analyzed match {
          case Sort(_, true, Sort(_, true, _, _), _) => Some(s"${q.name}: the builder sorts too")
          case _ => None
        }
        root ++ builder
      } catch { case e: Throwable => Some(s"${q.name}: ${e.getMessage.take(200)}") }
    }
    spark.catalog.clearCache()
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("every registered query executes and returns a non-degenerate schema at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        assert(df.schema.fields.nonEmpty)
        df.count() // execute the whole plan
        None
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(200)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
