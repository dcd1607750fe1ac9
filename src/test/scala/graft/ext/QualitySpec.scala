package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class QualitySpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  test("c4 keeps exactly the lines that end in terminal punctuation, have >=5 words, and don't mention javascript") {
    val page = Seq(
      "This line has five good words.",    // kept
      "Too short line.",                   // dropped: < 5 words
      "this line has no terminal punctuation at all", // dropped: no [.!?"]
      "Enable javascript to view this page now.",     // dropped: javascript
      "Does this question line have enough words?",   // kept
      "He said \"five words are quoted here\"",       // kept: ends in "
    ).mkString("\n")
    val out = Quality.c4CleanOn(docsDf(1L -> page))
      .select("n_lines", "n_kept", "keep", "cleaned")
      .as[(Long, Long, Boolean, String)].head()
    assert(out._1 === 6L)
    assert(out._2 === 3L)
    assert(out._3 === true) // 3 kept >= C4MinSentences, no lorem/brace
    assert(out._4 ===
      "This line has five good words.\n" +
        "Does this question line have enough words?\n" +
        "He said \"five words are quoted here\"")
  }

  test("c4 page-level gates: lorem ipsum, '{', and too few surviving sentences each drop the page") {
    val good = Seq.fill(3)("This sentence has exactly six words total.").mkString("\n")
    val out = Quality.c4CleanOn(docsDf(
      1L -> good,
      2L -> (good + "\nAnd some Lorem Ipsum filler appears here."),
      3L -> (good + "\nAn object literal { appears on this page."),
      4L -> "Only two good sentences appear here.\nSo the page still gets dropped.",
    )).select("doc_id", "has_lorem", "has_brace", "n_kept", "keep")
      .as[(Long, Boolean, Boolean, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(out === Seq(
      (1L, false, false, 3L, true),
      (2L, true, false, 4L, false),
      (3L, false, true, 4L, false),
      (4L, false, false, 2L, false)))
  }

  test("gopher rules fire independently and keep is their conjunction") {
    val fiftyGood = Seq.fill(25)("the with").mkString(" ") // 50 words, 2 stops, mean len 3.5
    val out = Quality.gopherRulesOn(docsDf(
      1L -> fiftyGood,                                   // passes everything
      2L -> "the with short doc",                        // fails word count only
      3L -> Seq.fill(50)("a").mkString(" "),             // mean len 1 + 1 stop-ish: fails r_mean_len, r_stop
      4L -> (Seq.fill(49)("the with") :+ "### ### ### ### ### ###").mkString(" "), // symbol ratio 18/104
      5L -> (fiftyGood + "\n" + Seq.fill(9)("- bullet line with the with filler words").mkString("\n")), // 9/10 bullet lines
      6L -> (fiftyGood + "\n" + Seq.fill(9)("a line that trails off the with ...").mkString("\n") + "\n" + fiftyGood), // 9/11 ellipsis
      7L -> Seq.fill(30)("the with 123 456").mkString(" "), // alpha frac 0.5
    )).select("doc_id", "r_word_count", "r_mean_len", "r_symbol", "r_bullet",
      "r_ellipsis", "r_alpha", "r_stop", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().sortBy(_._1).toSeq
    assert(out(0) === ((1L, true, true, true, true, true, true, true, true)))
    assert(out(1) === ((2L, false, true, true, true, true, true, true, false)))
    assert(out(2)._1 === 3L && !out(2)._3 && !out(2)._8 && !out(2)._9) // r_mean_len, r_stop fail
    assert(out(3)._1 === 4L && !out(3)._4 && !out(3)._9)               // r_symbol fails
    assert(out(4)._1 === 5L && !out(4)._5 && !out(4)._9)               // r_bullet fails
    assert(out(5)._1 === 6L && !out(5)._6 && !out(5)._9)               // r_ellipsis fails
    assert(out(6)._1 === 7L && !out(6)._7 && !out(6)._9)               // r_alpha fails
  }

  test("ccnet terciles partition each language's scored docs and head outranks tail") {
    val out = Quality.ccnetBucketsOn(
      graft.ops.Tables.documents(spark, "/root/testdata/sf0.001"))
    val byLang = out.groupBy("lang").agg(
      count(lit(1)).as("n"),
      sum(when(col("bucket") === "head", 1L).otherwise(0L)).as("n_head"),
      sum(when(col("bucket") === "tail", 1L).otherwise(0L)).as("n_tail"),
      min(when(col("bucket") === "head", col("fluency"))).as("min_head"),
      max(when(col("bucket") === "tail", col("fluency"))).as("max_tail"))
      .as[(String, Long, Long, Long, Double, Double)].collect()
    assert(byLang.nonEmpty)
    byLang.foreach { case (lang, n, nHead, nTail, minHead, maxTail) =>
      // ntile balance: bucket sizes differ by at most 1
      assert(math.abs(nHead - nTail) <= 1, s"$lang: head $nHead vs tail $nTail of $n")
      // ordering: every head fluency >= every tail fluency
      assert(minHead >= maxTail, s"$lang: min head $minHead < max tail $maxTail")
    }
  }

  test("ccnet mix keeps every head doc, rates map to buckets, and decisions are deterministic") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Quality.ccnetMixOn(docs).orderBy("doc_id")
      .select("doc_id", "bucket", "rate_q", "keep")
      .as[(Long, String, Long, Boolean)].collect().toSeq
    assert(out.nonEmpty)
    // the manifest covers exactly the bucketed (scorable) docs
    assert(out.map(_._1) === Quality.ccnetBucketsOn(docs).orderBy("doc_id")
      .select("doc_id").as[Long].collect().toSeq)
    out.foreach { case (id, bucket, rateQ, keep) =>
      val want = bucket match {
        case "head" => 4L; case "middle" => 2L; case _ => 1L
      }
      assert(rateQ === want, s"doc $id bucket $bucket rate $rateQ")
      if (bucket == "head") assert(keep, s"head doc $id dropped")
    }
    // hash decisions are a pure function of doc_id: a second run is identical
    assert(Quality.ccnetMixOn(docs).orderBy("doc_id")
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toSeq ===
      out.map(r => (r._1, r._4)))
    // middle/tail keep rates land near 1/2 and 1/4 (loose: hash-Bernoulli)
    val mid = out.filter(_._2 == "middle")
    if (mid.size >= 50) {
      val rate = mid.count(_._4).toDouble / mid.size
      assert(rate > 0.25 && rate < 0.75, s"middle keep rate off: $rate")
    }
  }

  test("quality classifier separates target-vocabulary docs from noise on a separable corpus") {
    def doc(id: Long, text: String, source: String) = (id, text, source)
    val rows = Seq(
      // curated reference (positives): clean prose vocabulary
      doc(1L, "clean prose words flow nicely here", "src0"),
      doc(2L, "nicely written clean prose words again", "src0"),
      doc(3L, "words flow in clean written prose", "src0"),
      // pool: two target-like docs, three noise docs
      doc(10L, "clean prose words written nicely", "web"),
      doc(11L, "flow of clean words in prose", "web"),
      doc(12L, "zz9 qq8 xx7 garbage garbled junk", "web"),
      doc(13L, "junk garbled qq8 zz9 spam spam", "web"),
      doc(14L, "xx7 spam zz9 junk garbage qq8", "web"))
    val docs = rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = Quality.qualityScoreOn(docs)
      .select("doc_id", "score", "keep").as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // target-like pool docs score above every noise doc and pass the gate
    val targetLike = Seq(10L, 11L).map(out(_))
    val noise = Seq(12L, 13L, 14L).map(out(_))
    assert(targetLike.map(_._1).min > noise.map(_._1).max,
      s"no separation: $out")
    targetLike.foreach { case (_, keep) => assert(keep, "target-like doc dropped") }
    noise.foreach { case (_, keep) => assert(!keep, "noise doc kept") }
    // determinism: retrain + rescore is bit-identical
    val again = Quality.qualityScoreOn(docs)
      .select("doc_id", "score", "keep").as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(again === out)
  }

  test("calibration table: mass conserved, buckets ordered and disjoint, label totals exact") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = Quality.qualityCalibrationOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty && rows.forall(r => r._1 >= 0L && r._1 <= 9L))
    assert(rows.map(_._2).sum === docs.count(), "doc mass lost in bucketing")
    val nPos = docs.filter(org.apache.spark.sql.functions.col("source") === Quality.QsPosSource).count()
    assert(rows.map(_._3).sum === nPos, "positive-label mass lost")
    rows.foreach { case (_, n, p, rate, lo, hi) =>
      assert(p <= n && lo <= hi)
      assert(rate === graft.ops.Num.r6Double(p.toDouble / n))
    }
    // score ranges are disjoint and ordered across buckets (a one-bucket
    // table — all docs scoring equal — has nothing to compare)
    rows.sortBy(_._1).sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
      assert(a._6 < b._5, s"bucket ${a._1} overlaps ${b._1}")
    }
  }
}
