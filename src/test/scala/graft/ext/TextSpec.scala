package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextSpec extends SparkSpec {
  import spark.implicits._

  test("PII scrub redacts every seeded match and each doc seeds exactly one class") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = Text.piiScrubOn(docs)
      .as[(Long, Long, Long, Long, Long, String)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (docId, nEmails, nPhones, nIps, _, _) =>
      val expected = (docId % 3) match {
        case 0 => (1L, 0L, 0L); case 1 => (0L, 1L, 0L); case _ => (0L, 0L, 1L)
      }
      // >= : the raw text could in principle contain a match of its own;
      // the seeded class must be counted at least once
      assert(nEmails >= expected._1 && nPhones >= expected._2 && nIps >= expected._3,
        s"doc $docId seeded class missing: ($nEmails,$nPhones,$nIps)")
    }
    // completeness + idempotence: nothing PII-shaped survives a scrub, so
    // scrubbing the scrubbed text is the identity
    val clean = Text.piiSeeded(docs)
      .withColumn("clean", Text.piiClean(col("seeded_text")))
    val survivors = clean.filter(
      regexp_count(col("clean"), lit(Text.EmailRe)) > 0 ||
        regexp_count(col("clean"), lit(Text.PhoneRe)) > 0 ||
        regexp_count(col("clean"), lit(Text.IpRe)) > 0).count()
    assert(survivors === 0, s"$survivors docs still contain PII-shaped text after scrub")
  }

  test("tokens drops empty strings from consecutive whitespace") {
    val got = Seq("a  b\t c", "  ", "").toDF("t")
      .select(size(Text.tokens(col("t"))).as("n")).as[Int].collect().toSeq
    assert(got === Seq(3, 0, 0))
  }

  test("tokens treats NULL text as zero tokens, not legacy size -1") {
    // under the pinned ansi=false session, size(NULL array) = -1; an
    // unguarded tokenizer would let a NULL-text doc SUBTRACT from token
    // sums while the DuckDB oracle's len(NULL) is skipped by sum()
    val got = Seq(Some("a b"), None).toDF("t")
      .select(size(Text.tokens(col("t"))).as("n")).as[Int].collect().toSeq
    assert(got === Seq(2, 0))
  }

  test("langid confusion: doc mass conserved, shares sum to 1 per label, flags consistent") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = Text.langIdConfusionOn(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(rows.map(_._3).sum === docs.count(), "confusion matrix lost documents")
    rows.groupBy(_._1).foreach { case (lang, g) =>
      assert(math.abs(g.map(_._4).sum - 1.0) < 1e-5, s"$lang shares sum to ${g.map(_._4).sum}")
    }
    rows.foreach { case (l, p, _, _, ok) => assert(ok === (l == p)) }
    // the per-doc is_match flags must agree with the matrix diagonal
    val matched = Text.langIdOn(docs).agg(sum("is_match")).head().getLong(0)
    assert(rows.filter(_._5).map(_._3).sum === matched)
  }

  test("normalized collapses whitespace and lowercases") {
    val got = Seq("Hello   World\n\tFoo").toDF("t")
      .select(Text.normalized(col("t")).as("n")).as[String].head()
    assert(got === "hello world foo")
  }

  test("winnow fingerprints: shifted text shares most fingerprints") {
    // winnowing selects window-minima, which are position-independent for
    // shared regions — a shifted copy must overlap heavily in fingerprints
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val shifted = "prefix words added here " + base
    val df = Seq((1L, base, "en", "s", 0L), (2L, shifted, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    df.createOrReplaceTempView("winnow_docs")
    val toks = Text.tokens(col("text"))
    val th = transform(toks, t => Dedup.baseHash(t))
    val wh = transform(sequence(lit(0), size(toks) - lit(4)),
      i => (1 until 4).foldLeft(element_at(th, i + 1)) { (acc, k) =>
        (acc * lit(1000003L) + element_at(th, i + k + 1)) % lit(2147483647L) })
    val fps = df.withColumn("wh", wh)
      .withColumn("fps", array_distinct(transform(sequence(lit(0), size(col("wh")) - lit(5)),
        i => array_min(slice(col("wh"), i + 1, lit(5))))))
      .select("doc_id", "fps").as[(Long, Seq[Long])].collect().toMap
    val shared = fps(1L).toSet.intersect(fps(2L).toSet).size
    assert(shared >= (fps(1L).size * 2) / 3, s"only $shared of ${fps(1L).size} shared")
  }

  test("repetition stats: hand-computed metrics and gate decisions") {
    // "a a a a b": 5 tokens, 2 distinct, top token a×4; 2-grams
    // "a a"×3 (overlapping) + "a b"×1 → top_2gram share 2·3/5 capped at 1.0
    val unique = (1 to 20).map(i => s"u$i").mkString(" ")
    val docs = Seq((1L, "a a a a b", "en", "s", 0L), (2L, unique, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Text.repetitionStatsOn(docs)
      .as[(Long, Long, Long, Long, Long, Double, Double, Double, Boolean)]
      .collect().sortBy(_._1).toSeq
    assert(got(0) === ((1L, 5L, 2L, 4L, 3L, 0.6, 0.8, 1.0, false)))
    // 20 unique tokens: no repetition anywhere, every gate passes
    // (top_2gram_frac = 2·1/20 = 0.1 ≤ 0.18)
    assert(got(1) === ((2L, 20L, 20L, 1L, 1L, 0.0, 0.05, 0.1, true)))
  }

  test("tfidf keywords: integer-exact rank (tf desc, df asc, term asc) and smooth-idf value") {
    val docs = Seq((1L, "x x y", "en", "s", 0L), (2L, "y z", "en", "s", 0L),
      (3L, "z z z w", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Text.tfidfKeywordsOn(docs)
      .as[(Long, Long, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5, r._6)).toMap
    // doc 2: y and z tie on tf=1 and df=2 — term ASC breaks the tie
    assert(got((1L, 1L))._1 === "x" && got((1L, 2L))._1 === "y")
    assert(got((2L, 1L))._1 === "y" && got((2L, 2L))._1 === "z")
    assert(got((3L, 1L))._1 === "z" && got((3L, 2L))._1 === "w")
    // smooth idf: tfidf(doc1, x) = 2 · (ln((3+1)/(1+1)) + 1), r6-rounded
    val want = math.floor(2.0 * (math.log(4.0 / 2.0) + 1.0) * 1e6 + 0.5) / 1e6
    assert(got((1L, 1L))._4 === want)
    // rank never exceeds TopKeywords and doc 2 has only 2 distinct terms
    assert(!got.contains((2L, 3L)))
  }

  test("heavy hitters: CMS prune + exact verify equals the plain exact census") {
    // corpus where one gram clears the threshold and the long tail does not:
    // "hot pair" appears 35 times (≥ HeavyHitterMin=30), everything else once
    val docs = (Seq.fill(35)("hot pair") ++ (1 to 50).map(i => s"cold$i gram$i"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Text.heavyHittersOn(docs).as[(String, Long)].collect().toSeq
    assert(got === Seq(("hot pair", 35L)))
    // the exact census over the same frame agrees (the CMS is a prune, not
    // an estimator of the output)
    val exact = docs.select(explode(Text.ngrams(Text.tokens(col("text")), 2)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .filter(col("n") >= Text.HeavyHitterMin)
      .as[(String, Long)].collect().toSeq
    assert(got === exact)
  }

  test("lm fluency: common constructions score the census count, garble scores 1, short docs get a verdict") {
    // 35 copies push "the quick"/"quick brown"/"brown fox" over the
    // 30-count census floor; the garble doc's bigrams stay under it
    val docs = ((1L to 35L).map(i => (i, "the quick brown fox", "en", "s", 19L)) ++
      Seq((100L, "zx qv xq jj", "en", "s", 11L), (101L, "solo", "en", "s", 4L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Text.lmFluencyOn(docs)
      .as[(Long, String, Long, Option[Double], Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.size === 37)
    // each common doc: 3 bigrams, each with corpus count 35 → mean 35
    assert(got(1L)._3 === 3L && got(1L)._4.contains(35.0) && got(1L)._5)
    // garble: 3 bigrams, all below the floor → smoothing mass 1 each
    assert(got(100L)._3 === 3L && got(100L)._4.contains(1.0) && !got(100L)._5)
    // 1-token doc: no bigrams, NULL score, still a (non-fluent) verdict row
    assert(got(101L)._3 === 0L && got(101L)._4.isEmpty && !got(101L)._5)
  }

  test("fingerprint groups identical normalized text to one canonical id") {
    val docs = Seq((1L, "Hello  World", "en", "s", 11L), (2L, "hello world", "en", "s", 11L),
      (3L, "different", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.createOrReplaceTempView("t_fp_docs")
    val fp = docs.withColumn("fp", md5(Text.normalized(col("text"))))
      .select("doc_id", "fp").as[(Long, String)].collect().toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(3L))
  }

  test("bigram PMI: exact scores on a hand corpus, pair floor prunes rare pairs") {
    // "x y" x6 -> tokens N=12, bigrams M=11: "x y" 6, "y x" 5; both >= floor 5
    val d = Seq((1L, "x y x y x y x y x y x y", "en", "s"),
      (2L, "solo solo solo", "en", "s")) // "solo solo" bigram count 2 < 5 -> pruned
      .toDF("doc_id", "text", "lang", "source")
    val got = Text.bigramPmiOn(d).orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._2).toSeq === Seq("x y", "y x"), "only the floored pairs, PMI-ranked")
    assert(got.map(_._3).toSeq === Seq(6L, 5L))
    // N=15 tokens, M=13 bigrams corpus-wide; c_x=c_y=6
    def pmi(pair: Long) = math.log(pair.toDouble * 15 * 15 / (13.0 * 6 * 6)) / math.log(2.0)
    assert(math.abs(got(0)._4 - pmi(6)) < 1e-6)
    assert(math.abs(got(1)._4 - pmi(5)) < 1e-6)
    assert(got(0)._4 > got(1)._4)
  }

  test("vocab coverage: frequency-ranked tokens with exact cumulative shares") {
    val docs = Seq((1L, "a a a b", "en", "s"), (2L, "b c", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val got = Text.vocabCoverageOn(docs).orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // 6 tokens total: a x3, b x2, c x1
    assert(got.toSeq === Seq((1L, "a", 3L, 0.5), (2L, "b", 2L, 0.833333), (3L, "c", 1L, 1.0)))
  }

  test("token entropy: uniform tokens hit log2(n), repetition collapses to 0, tokenless docs emit 0") {
    val docs = Seq(
      (1L, "a b c d", "en", "s"),   // 4 distinct tokens, uniform
      (2L, "a a a a", "en", "s"),   // one token repeated
      (3L, "", "en", "s"),          // no tokens at all
      (4L, "a a b b", "en", "s"),   // two tokens, uniform -> 1 bit
    ).toDF("doc_id", "text", "lang", "source")
    val got = Text.tokenEntropyOn(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got(1L) === ((4L, 4L, 1.0, 2.0)), "uniform 4-token doc: H = log2(4) = 2 bits, TTR 1")
    assert(got(2L) === ((4L, 1L, 0.25, 0.0)), "single repeated token: H = 0, TTR 1/4")
    assert(got(3L) === ((0L, 0L, 0.0, 0.0)), "tokenless doc kept in the manifest with zeros")
    assert(got(4L) === ((4L, 2L, 0.5, 1.0)), "two uniform tokens: H = 1 bit")
  }

  test("token fertility: per-lang totals and exact interpolated p50/p95") {
    val en = Seq("ab cd", "a b c d", "one two three 4 5! x y z q w")
    val de = Seq("zz")
    val docs = (en.map(("en", _)) ++ de.map(("de", _))).zipWithIndex
      .map { case ((lang, text), i) => (i.toLong, text, lang, "s", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // independent recount with the same BPE-ish lexical classes
    def bpe(s: String): Long = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]".r.findAllIn(s).size.toLong
    val enCounts = en.map(bpe).sorted // [2, 4, 11]
    def quantile(xs: Seq[Long], p: Double): Double = {
      val rank = p * (xs.size - 1)
      val (lo, hi) = (xs(rank.toInt), xs(math.ceil(rank).toInt))
      lo + (hi - lo) * (rank - rank.toInt)
    }
    val out = Text.tokenFertilityOn(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    val (nDocs, chars, toks, cpt, p50, p95) = out("en")
    assert(nDocs === 3L && toks === enCounts.sum)
    assert(chars === en.map(_.length.toLong).sum)
    assert(cpt === graft.ops.Num.r6Double(chars.toDouble / toks))
    assert(p50 === quantile(enCounts, 0.5))
    assert(p95 === graft.ops.Num.r6Double(quantile(enCounts, 0.95)))
    // singleton language: both quantiles ARE the one value, fertility exact
    val (_, dChars, dToks, _, dp50, dp95) = out("de")
    assert(dp50 === dToks.toDouble && dp95 === dToks.toDouble && dChars === 2L)
  }

  test("wordpiece: greedy longest-match splits, whole-token pieces, char fallback") {
    val docs = Seq((1L, "data base datab database zzzzz data base"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = Text.wordpieceOn(docs, maxPiece = 4, topTokens = 16).orderBy("word")
      .as[(String, Long, Long, String)].collect().toSeq
    spark.catalog.clearCache()
    assert(got === Seq(
      ("base", 4L, 1L, "base"),          // frequent short token = whole piece
      ("data", 4L, 1L, "data"),
      ("datab", 5L, 2L, "data b"),       // greedy longest match + char tail
      ("database", 8L, 2L, "data base"), // two whole-token pieces
      ("zzzzz", 5L, 5L, "z z z z z")))   // >maxPiece and unknown: char fallback
  }

  test("bpe training: hand-checkable merges, greedy left-to-right application, tie-break order") {
    // lexicon: "abab" ×3, "ab" ×2, "cd" ×2, "aaa" ×2
    // pair counts r1: (a,b)=3*2+2=8, (b,a)=3, (c,d)=2, (a,a)=2*2=4 → merge (a,b)
    // r2 segs: <ab><ab>, <ab>, <c><d>, <a><a><a> → (ab,ab)=3, (a,a)=4, (c,d)=2 → (a,a)
    // r3: <ab><ab> ×3 → (ab,ab)=3; <aa><a> ×2 → (aa,a)=2; (c,d)=2 → (ab,ab) wins
    // r4: remaining pairs (aa,a)=2, (c,d)=2 — tie → (aa,a) by left-symbol order
    // r5: (c,d)=2 → merged; r6: no pair with count ≥ 2 → stop
    val docs = Seq((1L, "abab abab abab ab ab cd cd aaa aaa"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = Text.bpeTrainOn(docs, nMerges = 10)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(got === Seq(
      (1L, "a", "b", "ab", 8L),
      (2L, "a", "a", "aa", 4L),
      (3L, "ab", "ab", "abab", 3L),
      (4L, "aa", "a", "aaa", 2L),
      (5L, "c", "d", "cd", 2L)))
    // application: replaying the learned merges segments the lexicon; every
    // segmentation reassembles its word and matches the hand trace
    val seg = Text.bpeSegmentOn(docs, nMerges = 10)
      .as[(String, Long, Long, String)].collect().toSeq
    seg.foreach { case (w, nc, np, s) =>
      assert(s.split(" ").mkString === w, s"'$s' does not reassemble '$w'")
      assert(np === s.split(" ").length.toLong && nc === w.length.toLong)
    }
    assert(seg.map(r => r._1 -> r._4).toMap ===
      Map("abab" -> "abab", "ab" -> "ab", "cd" -> "cd", "aaa" -> "aaa"))
  }

  test("wordpiece property: every segmentation reassembles its word; fertility recomputes") {
    val dir = "/root/testdata/sf0.001"
    val lex = Text.wordpiece(spark, dir)
      .as[(String, Long, Long, String)].collect().toSeq
    spark.catalog.clearCache()
    assert(lex.nonEmpty)
    lex.foreach { case (word, nChars, nPieces, seg) =>
      assert(seg.replace(" ", "") === word, s"'$seg' does not reassemble '$word'")
      assert(seg.split(" ").length.toLong === nPieces)
      assert(word.length.toLong === nChars)
    }
    // fertility equals the lexicon applied to the token stream
    val byWord = lex.map(r => r._1 -> r._3).toMap
    val toks = graft.ops.Tables.documents(spark, dir)
      .select(col("lang"), explode(Text.tokens(col("text"))).as("w"))
      .as[(String, String)].collect().toSeq
    val want = toks.groupBy(_._1).map { case (lang, rs) =>
      val sub = rs.map(r => byWord(r._2)).sum
      (lang, rs.size.toLong, sub,
        graft.ops.Num.r6Double(sub.toDouble / rs.size))
    }.toSeq.sortBy(_._1)
    val got = Text.wordpieceFertility(spark, dir).orderBy("lang")
      .as[(String, Long, Long, Double)].collect().toSeq
    spark.catalog.clearCache()
    assert(got === want)
  }

  test("property: wordpiece reassembly and piece bounds hold on random corpora") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // random words over a small alphabet (incl. a multi-byte char) so
    // substring/length semantics get exercised beyond ASCII
    val word = Gen.chooseNum(1, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'ß')).map(_.mkString))
    val prop = Prop.forAll(Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, word))) { ws =>
      val docs = Seq((1L, ws.mkString(" "))).toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      val got = Text.wordpieceOn(docs, maxPiece = 3, topTokens = 4)
        .as[(String, Long, Long, String)].collect().toSeq
      spark.catalog.clearCache()
      // vocabulary is self-closed over the corpus chars, so every distinct
      // word gets a row, reassembles exactly, and uses 1..n_chars pieces
      got.map(_._1).toSet == ws.toSet &&
        got.forall { case (w, nc, np, seg) =>
          seg.replace(" ", "") == w && nc == w.length.toLong &&
            np >= 1L && np <= nc
        }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("wordpiece degrades to an empty result on an empty or tokenless corpus") {
    def docs(rows: (Long, String)*) =
      rows.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    assert(Text.wordpieceOn(docs()).count() === 0L)
    assert(Text.wordpieceOn(docs(1L -> "", 2L -> "   ")).count() === 0L)
    spark.catalog.clearCache()
  }

  test("BM25: tf raises the score, length penalizes it, and only hit docs rank") {
    def docs(rows: (Long, String)*) =
      rows.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    // query 0 is (hash, join); doc 30 never mentions either term
    val out = Text.bm25TopKOn(docs(
      10L -> "hash join hash other words here",   // 2×hash + join
      20L -> "hash join other words here pad pad", // 1×hash + join, longer
      30L -> "filter scan scan scan scan scan"))
      .select("query_id", "rank", "doc_id", "n_terms_hit").orderBy("query_id", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val q0 = out.filter(_._1 == 0L)
    assert(q0.map(r => (r._2, r._3)) === Seq((1L, 10L), (2L, 20L)),
      s"tf-dominant doc must outrank: $q0")
    assert(q0.forall(_._4 === 2L)) // both docs hit both q0 terms
    assert(!out.exists(r => r._3 == 30L && r._1 == 0L))
    // same tf, shorter doc wins (the b·dl/avgdl length normalization)
    val out2 = Text.bm25TopKOn(docs(
      1L -> "merge sort",
      2L -> "merge sort with many extra trailing words attached"))
      .filter(col("query_id") === 2L)
      .select("rank", "doc_id").orderBy("rank").as[(Long, Long)].collect().toSeq
    assert(out2 === Seq((1L, 1L), (2L, 2L)), s"shorter doc must outrank: $out2")
  }

  test("RRF fusion: a doc both systems rank outranks every single-system winner; absent ranks contribute zero") {
    // q=1: doc 100 is MEDIOCRE in both systems (rank 3 dense, rank 4
    // sparse); docs 101/102 top one system each and are absent from the
    // other. RRF must put the both-system doc first:
    // 1/63 + 1/64 ≈ 0.0315 > 1/61 ≈ 0.0164.
    val dense = Seq((1L, 101L, 1L), (1L, 100L, 3L), (1L, 103L, 2L))
      .toDF("q_id", "doc_id", "r_dense")
    val sparse = Seq((1L, 102L, 1L), (1L, 100L, 4L), (1L, 104L, 2L))
      .toDF("q_id", "doc_id", "r_sparse")
    val out = Text.rrfFuse(dense, sparse)
      .select("q_id", "doc_id", "rank")
      .as[(Long, Long, Long)].collect().sortBy(_._3)
    assert(out.head === ((1L, 100L, 1L)),
      s"the doc ranked by BOTH systems must fuse first: ${out.toSeq}")
    // single-system ties (1/61 each) break by doc_id: 101 before 102
    assert(out.slice(1, 3).map(_._2).toSeq === Seq(101L, 102L), out.toSeq.toString)
    // registered row: sentinel -1 marks the absent system, never null
    val real = Text.hybridRrf(spark, "/root/testdata/sf0.001")
    val rows = real.select("r_dense", "r_sparse")
      .as[(Long, Long)].collect()
    assert(rows.nonEmpty && rows.forall { case (a, b) => a >= -1L && b >= -1L })
    assert(rows.exists(_._1 == -1L) || rows.exists(_._2 == -1L),
      "no single-system row at sf0.001 — the outer-join path is vacuous")
    assert(rows.exists { case (a, b) => a > 0L && b > 0L },
      "no both-system row at sf0.001 — fusion is vacuous")
    spark.catalog.clearCache()
  }

  test("hybrid recall: hit counts bounded by possible, every system row present") {
    val out = Text.hybridRecall(spark, "/root/testdata/sf0.001")
      .select("system", "k", "n_queries", "n_hits", "n_possible", "recall")
      .as[(String, Long, Long, Long, Long, Double)].collect()
    assert(out.map(_._1).toSet === Set("dense", "sparse", "fused"))
    out.foreach { case (s, k, nq, h, p, r) =>
      assert(k === Text.HybridTopK.toLong)
      assert(nq > 0L && h >= 0L && h <= p, s"$s: hits $h outside [0, $p]")
      assert(r >= 0.0 && r <= 1.0, s"$s recall $r outside [0,1]")
    }
    spark.catalog.clearCache()
  }

  test("hybrid against: user-query path ranks the query's own-embedding doc dense-first") {
    val out = Text.hybridAgainst(spark, "/root/testdata/sf0.001")
      .select("query_id", "rank", "doc_id", "r_dense", "r_sparse", "rrf_score")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    val qids = Text.Bm25Queries.map(_._1).distinct.sorted
    // exactly topK fused rows per query, ranks 1..K
    qids.foreach { q =>
      val ranks = out.filter(_._1 == q).map(_._2).sorted.toSeq
      assert(ranks === (1L to Text.HybridTopK.toLong),
        s"query $q fused ranks: $ranks")
    }
    // sentinel convention inherited from the fixed-probe row
    assert(out.forall { r => r._4 >= -1L && r._5 >= -1L &&
      r._4 <= Text.HybridDepth.toLong && r._5 <= Text.HybridDepth.toLong })
    // score form: the query VECTOR is the embedding of vec_id == q_id, so
    // that pair's cosine is exactly 1.0 and maximal for its query (no
    // self exclusion on the user-supplied path: queries are external
    // objects, every corpus doc is a candidate)
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
      .join(graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
    val queries = Text.Bm25Queries.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (q, ts) => (q, ts.map(_._2).mkString(" ")) }
      .toDF("q_id", "q_text")
      .join(graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.001")
        .filter(col("vec_id") <= 2L)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")), Seq("q_id"))
    val (dft, stats) = Text.bm25StatsOn(docs)
    val scores = Text.hybridScoreAgainstOn(docs, queries, dft, stats)
      .select("query_id", "doc_id", "cos", "bm25", "n_terms_hit")
      .as[(Long, Long, Double, Double, Long)].collect()
    qids.foreach { q =>
      val mine = scores.filter(_._1 == q)
      assert(mine.nonEmpty)
      val self = mine.find(_._2 == q).get
      assert(self._3 === 1.0, s"query $q self-cosine ${self._3} != 1")
      assert(mine.forall(_._3 <= self._3 + 1e-9), s"query $q: a doc outscores self-cosine")
      assert(mine.exists(_._5 > 0L), s"query $q: no sparse term hit at sf0.001")
    }
    spark.catalog.clearCache()
  }

  test("production-scale tokenizer knobs: BPE-256 and unigram-1024 hold the property gates " +
      "beyond the oracle ceiling") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    // --- BPE at 25× the oracle ceiling (the oracle unrolls one CTE per
    // merge and stops being tractable; properties take over) ---
    val m10 = Text.bpeTrainOn(docs, Text.BpeMerges).collect().map(_.toSeq)
    val m256 = Text.bpeTrainOn(docs, 256).collect().map(_.toSeq)
    assert(m256.length <= 256 && m256.length > m10.length,
      s"sf0.001 lexicon exhausted merges at ${m256.length} — raise corpus or lower the knob")
    // sequential greedy is PREFIX-stable: the 10-merge table IS the first
    // 10 rows of the 256-merge table (what makes the oracle-scale gate
    // meaningful for the production table)
    assert(m256.take(m10.length).toSeq === m10.toSeq, "merge prefix diverged")
    m256.zipWithIndex.foreach { case (r, i) =>
      assert(r.head == (i + 1).toLong, s"rank gap at $i: $r")
      assert(r(3) == s"${r(1)}${r(2)}", s"merged != left+right: $r")
    }
    val pairs256 = m256.map(r => (r(1).asInstanceOf[String], r(2).asInstanceOf[String]))
    val s256 = Text.bpeSegmentFrom(docs, pairs256)
      .select("word", "n_pieces", "segmentation")
      .as[(String, Long, String)].collect()
    // well-formedness: every segmentation reassembles its word
    s256.foreach { case (w, n, seg) =>
      assert(seg.split(" ").mkString("") === w, s"$w segmented to $seg")
      assert(seg.split(" ").length.toLong === n)
    }
    // monotone: more merges can only merge further — per-word piece count
    // non-increasing from the 10-merge to the 256-merge segmentation
    val s10 = Text.bpeSegmentFrom(docs, pairs256.take(m10.length))
      .select("word", "n_pieces").as[(String, Long)].collect().toMap
    s256.foreach { case (w, n, _) =>
      assert(n <= s10(w), s"$w: 256-merge pieces $n > 10-merge ${s10(w)}")
    }
    spark.catalog.clearCache()
    // --- unigram LM at 42× the seed ceiling ---
    val v1k = Text.unigramTrainOn(docs, seedTop = 1024)
      .select("piece", "weight").as[(String, Long)].collect()
    val vocab1k = v1k.map(_._1).toSet
    // the single-char coverage floor survives EM pruning: every character
    // of the lexicon is segmentable
    val lexChars = Text.bpeSegmentFrom(docs, Nil).select("word").as[String]
      .collect().flatMap(_.toSeq).toSet
    lexChars.foreach(c => assert(vocab1k.contains(c.toString), s"char $c lost from vocab"))
    val seg1k = Text.unigramSegmentFrom(docs,
      v1k.toSeq.toDF("piece", "wgt"))
      .select("word", "n_pieces", "segmentation").as[(String, Long, String)].collect()
    seg1k.foreach { case (w, n, seg) =>
      assert(seg.split(" ").mkString("") === w, s"$w segmented to $seg")
      assert(seg.split(" ").length.toLong === n)
    }
    // aggregate fertility is non-increasing in seed size: a 1024-piece
    // vocabulary segments the same word multiset into no more pieces than
    // the 24-piece one (both carry the char floor, so coverage is equal)
    val segSmall = Text.unigramSegmentOn(docs).select("word", "n_pieces")
      .as[(String, Long)].collect()
    assert(seg1k.map(_._1).toSet === segSmall.map(_._1).toSet, "word coverage differs")
    val total1k = seg1k.map(_._2).sum
    val totalSmall = segSmall.map(_._2).sum
    assert(total1k <= totalSmall,
      s"aggregate fertility rose with vocab size: $total1k > $totalSmall")
    spark.catalog.clearCache()
  }

  test("unigram Viterbi: max-score path wins; score ties prefer the longer FINAL piece") {
    def docs(rows: (Long, String)*) =
      rows.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    // 'ab' at -15 beats two chars at -20: "abab" → "ab ab"
    val v1 = Seq(("a", -10L), ("b", -10L), ("ab", -15L)).toDF("piece", "wgt")
    val s1 = Text.unigramSegmentFrom(docs(1L -> "abab"), v1)
      .select("word", "segmentation").as[(String, String)].collect().toMap
    assert(s1("abab") === "ab ab", s1.toString)
    // all segmentations of "aaa" under {a:-10, aa:-20} score -30 — the
    // tie must resolve toward the longer final piece: "a aa"
    val v2 = Seq(("a", -10L), ("aa", -20L)).toDF("piece", "wgt")
    val s2 = Text.unigramSegmentFrom(docs(1L -> "aaa"), v2)
      .select("word", "segmentation").as[(String, String)].collect().toMap
    assert(s2("aaa") === "a aa", s2.toString)
    spark.catalog.clearCache()
  }

  test("unigram EM: coverage is total, unused multi-char pieces prune, chars survive") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val vocab = Text.unigramTrainOn(docs)
      .select("piece", "n_chars", "cnt").as[(String, Long, Long)].collect()
    assert(vocab.nonEmpty && vocab.exists(_._2 > 1L),
      "EM kept no multi-char piece — the trainer degenerated to chars")
    // pruning is real: the seed held UniSeedTop multi-char pieces, the
    // survivors are strictly fewer (some substrings lose every Viterbi path)
    assert(vocab.count(_._2 > 1L) < Text.UniSeedTop,
      s"no multi-char piece pruned: ${vocab.count(_._2 > 1L)}")
    assert(vocab.filter(_._2 > 1L).forall(_._3 > 0L), "a kept multi-char piece has zero usage")
    // segmentation under the trained vocab reconstructs every word exactly
    val seg = Text.unigramSegmentOn(docs)
      .select("word", "segmentation", "n_pieces").as[(String, String, Long)].collect()
    assert(seg.nonEmpty)
    seg.foreach { case (w, s, k) =>
      assert(s.split(" ").mkString === w, s"segmentation does not tile '$w': '$s'")
      assert(s.split(" ").length.toLong === k)
    }
    // every char of every word is in the vocab (the [UNK]-free closure)
    val pieces = vocab.map(_._1).toSet
    seg.foreach { case (w, _, _) =>
      w.foreach(c => assert(pieces.contains(c.toString), s"char '$c' missing from vocab")) }
    spark.catalog.clearCache()
  }

  test("tokenizer fertility: the three tokenizers see the identical word multiset per lang") {
    val out = Text.tokenizerFertility(spark, "/root/testdata/sf0.001")
      .select("tokenizer", "lang", "n_words", "n_subwords", "fertility")
      .as[(String, String, Long, Long, Double)].collect()
    assert(out.map(_._1).toSet === Set("bpe", "unigram", "wordpiece"))
    out.groupBy(_._2).foreach { case (lang, rows) =>
      assert(rows.map(_._3).distinct.length === 1,
        s"$lang: tokenizers disagree on the shared stream size: $rows")
    }
    out.foreach { case (t, l, nw, ns, f) =>
      assert(nw > 0 && ns >= nw, s"$t/$l: fewer subwords than words")
      assert(f >= 1.0, s"$t/$l fertility $f < 1")
    }
    spark.catalog.clearCache()
  }

  test("BM25 on real data: ranked scores are positive, non-increasing, and bounded to top-k") {
    val got = Text.bm25TopK(spark, "/root/testdata/sf0.001")
      .select("query_id", "rank", "score")
      .as[(Long, Long, Double)].collect().toSeq.groupBy(_._1)
    assert(got.nonEmpty)
    got.foreach { case (qid, rows) =>
      val byRank = rows.sortBy(_._2)
      assert(byRank.map(_._2) === (1L to byRank.size.toLong),
        s"q$qid ranks not contiguous")
      assert(byRank.size <= Text.Bm25TopK)
      assert(byRank.forall(_._3 > 0.0), s"q$qid non-positive score")
      assert(byRank.sliding(2).forall {
        case Seq(a, b) => a._3 >= b._3
        case _ => true
      }, s"q$qid scores not non-increasing")
    }
  }
}
