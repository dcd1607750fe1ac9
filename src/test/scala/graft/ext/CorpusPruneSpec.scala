package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the skew-proof hash-prefix pre-prune (Corpus.prunedRanksByLang)
  * bit-for-bit against the unpruned exact-rank forms it replaced, on a
  * deliberately skewed corpus where the prune is actually active — plus
  * the under-prune fallback branch, forced via a negative margin. */
class CorpusPruneSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** 5,000-doc dominant lang + two small ones — skewed enough that the
    * dominant lang's candidate set is a small fraction of its rows. */
  private lazy val skewed: DataFrame = {
    import spark.implicits._
    (0L until 5000L).map(i => (i, "big", s"src${i % 3}", s"text $i"))
      .++((5000L until 5200L).map(i => (i, "mid", "srcA", s"text $i")))
      .++((5200L until 5230L).map(i => (i, "tiny", "srcB", s"text $i")))
      .toDF("doc_id", "lang", "source", "text")
  }

  /** Rows in (doc_id, copy_idx) order: both forms return unsorted frames. */
  private def rows(df: DataFrame): Seq[String] =
    df.orderBy(Seq("doc_id", "copy_idx").filter(df.columns.contains)
      .map(col): _*)
      .collect().toSeq.map(_.toString)

  test("stratified sample: pruned plan is bit-identical to the exact window on a skewed corpus") {
    val pruned = rows(Corpus.stratifiedSampleOn(skewed, budget = 120L))
    val exact = rows(Corpus.stratifiedSampleExactOn(skewed, budget = 120L))
    assert(pruned.nonEmpty && pruned === exact)
  }

  test("stratified sample: pruned ≡ exact on the real documents table") {
    val docs = graft.ops.Tables.documents(spark, dir)
    assert(rows(Corpus.stratifiedSampleOn(docs)) === rows(Corpus.stratifiedSampleExactOn(docs)))
  }

  test("temp mix: pruned plan is bit-identical to the exact window on a skewed corpus") {
    val pruned = rows(Corpus.tempMixOn(skewed))
    val exact = rows(Corpus.tempMixExactOn(skewed))
    assert(pruned.nonEmpty && pruned === exact)
  }

  test("temp mix: pruned ≡ exact on the real documents table") {
    val docs = graft.ops.Tables.documents(spark, dir)
    assert(rows(Corpus.tempMixOn(docs)) === rows(Corpus.tempMixExactOn(docs)))
  }

  test("under-prune fallback: a hostile margin still yields the exact output") {
    // margin so negative the threshold admits no candidates — every lang
    // fails the safety check and takes the full-window fallback branch
    val hostile: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      _ => lit(-RankPruneProbe.space)
    assert(rows(Corpus.stratifiedSampleSelect(skewed, 120L, hostile)) ===
      rows(Corpus.stratifiedSampleExactOn(skewed, budget = 120L)))
    assert(rows(Corpus.tempMixSelect(skewed, hostile)) === rows(Corpus.tempMixExactOn(skewed)))
  }

  test("the prune actually bounds the dominant lang's window partition") {
    // recompute the candidate set the way prunedRanksByLang cuts it:
    // needed for strat = big-lang quota ≈ 120·5000/5230 ≈ 114
    val needed = 120L * 5000L / 5230L
    val margin = 64L + 4L * math.ceil(math.sqrt(needed.toDouble)).toLong
    val t = ((needed + margin).toDouble / 5000L * Corpus.RankPruneHashSpace + 1).toLong
    val nCand = skewed.filter(col("lang") === "big")
      .withColumn("skey", Dedup.baseHash(concat(lit("strat:"), col("doc_id").cast("string"))))
      .filter(col("skey") < t).count()
    // enough candidates to be safe, but far fewer than the lang's rows
    assert(nCand >= needed, s"under-pruned: $nCand < $needed")
    assert(nCand < 5000L / 2, s"prune inactive: $nCand of 5000 survived")
  }
}

private object RankPruneProbe {
  val space: Long = Corpus.RankPruneHashSpace
}
