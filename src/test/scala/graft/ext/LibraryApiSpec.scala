package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The library surface proper: every training-data operator runs on a
  * caller-supplied DataFrame (the `*On` entry points) with no dependency on
  * the testdata readers — what "a user of the reference could switch to
  * this library" actually requires. */
class LibraryApiSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the cat sat on the mat", "en", "web"),
    (2L, "the cat sat on the mat", "en", "web"),     // exact dup of 1
    (3L, "der hund und die katze", "de", "web"),
    (4L, "one two three four five six seven", "en", "book"),
  ).toDF("doc_id", "text", "lang", "source")

  test("exact dedup finds the duplicate pair on a hand-built DataFrame") {
    val out = Dedup.exactOn(docs).collect()
    val dupGroup = out.find(_.getLong(1) == 2L)
    assert(dupGroup.exists(_.getLong(0) == 1L), "canonical of the dup group is min doc_id")
    assert(out.length === 3) // 3 distinct fingerprints
  }

  test("text stats + lang id + token count run on the same frame") {
    assert(Text.textStatsOn(docs).count() === 4)
    val langs = Text.langIdOn(docs).select("doc_id", "predicted_lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langs(1L) === "en" && langs(3L) === "de")
    val toks = Text.tokenCountOn(docs).filter(col("doc_id") === 4L)
      .select("n_ws_tokens").head().getLong(0)
    assert(toks === 7L)
  }

  test("minhash LSH surfaces the exact-duplicate pair as a candidate with jaccard 1") {
    val pairs = Dedup.minhashLshOn(docs).collect()
    val dup = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(dup.isDefined, s"expected (1,2) candidate, got ${pairs.mkString(",")}")
    assert(dup.get.getDouble(2) === 1.0)
  }

  test("property: exact dedup is idempotent (canonical docs are their own canonicals)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val word = Gen.oneOf("the", "cat", "dog", "sat", "auf", "und", "", "  ")
    val text = Gen.listOfN(6, word).map(_.mkString(" "))
    val prop = Prop.forAll(Gen.listOfN(12, text)) { texts =>
      val df = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "gen") }
        .toDF("doc_id", "text", "lang", "source")
      val canon = Text.fingerprintOn(df).filter(col("is_canonical") === 1L)
        .select("doc_id").as[Long].collect().toSet
      val survivors = df.filter(col("doc_id").isInCollection(canon))
      val again = Text.fingerprintOn(survivors).filter(col("is_canonical") === 1L)
        .select("doc_id").as[Long].collect().toSet
      again == canon // dedup of the deduped is the identity
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("knn and centroids run on a hand-built embeddings frame") {
    val emb = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(d => (((i % 3) + 1).toFloat * (d + 1))), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val knn = Similarity.knnBruteForceOn(emb)
    assert(knn.count() > 0)
    val cents = Similarity.labelCentroidsOn(emb) // dims inferred from the 8-wide data
    assert(cents.count() === 60)
    // all vectors within a label are parallel -> cosine to centroid is 1
    val minCos = cents.agg(min("cos_to_centroid")).head().getDouble(0)
    assert(math.abs(minCos - 1.0) < 1e-9, s"minCos=$minCos")
  }

  test("k-means quantizer trains on a hand-built embeddings frame (dims inferred)") {
    // three parallel-vector clusters -> at most 3 surviving cells, and every
    // vector's nearest trained centroid is its own cluster direction
    val emb = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(d => (((i % 3) + 1).toFloat * (d + 1) * (if (d % 2 == 0) 1 else i % 3 + 1))), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val cent = Similarity.kmeansCentroidsOn(emb)
    val k = cent.count()
    assert(k >= 1 && k <= Similarity.KmeansK)
    val knn = Similarity.knnIvfKmeansOn(emb)
    assert(knn.count() > 0)
  }

  test("corpus mixing and packing run on a hand-built documents frame") {
    val mixed = Corpus.mixOn(docs).orderBy("doc_id", "copy_idx").collect()
    // deterministic: same input -> same mix, copies contiguous per doc
    assert(mixed.nonEmpty)
    assert(Corpus.mixOn(docs).orderBy("doc_id", "copy_idx").collect().toSeq === mixed.toSeq)
    // copy_idx within each doc is 1..n with no gaps
    mixed.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(4)).sorted.toSeq === (1L to rows.length).toSeq)
    }
    val packed = Corpus.seqPackOn(docs).collect()
    // every doc starts in chunk 0 here (tiny corpus, one chunk per lang)
    assert(packed.nonEmpty)
    assert(packed.forall(_.getLong(1) === 0L))
  }

  test("decontamination flags benchmark-overlapping docs and keeps the rest") {
    // doc 17 lands in the benchmark slice (17 % 10 = 7); doc 20 copies its
    // text verbatim (a leaked eval answer), doc 21 shares nothing
    val d = Seq(
      (17L, "alpha beta gamma delta epsilon zeta", "en", "web"),
      (20L, "alpha beta gamma delta epsilon zeta", "en", "web"),
      (21L, "one two three four five six seven", "en", "book"),
      (22L, "hi", "en", "web"), // < 3 tokens: no shingles, conservatively kept
    ).toDF("doc_id", "text", "lang", "source")
    val out = Corpus.decontaminateOn(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(!out.contains(17L), "benchmark docs are not judged")
    assert(out(20L)._2 === 1.0 && !out(20L)._3, "verbatim copy of a benchmark doc must be dropped")
    assert(out(21L)._1 === 0L && out(21L)._3, "non-overlapping doc must be kept")
    assert(out(22L)._2 === 0.0 && out(22L)._3, "shingle-less doc is kept with contamination 0")
    // deterministic: same corpus -> same decisions
    assert(Corpus.decontaminateOn(d).orderBy("doc_id").collect().toSeq ===
      Corpus.decontaminateOn(d).orderBy("doc_id").collect().toSeq)
  }

  test("decontaminateAgainstOn takes a separate eval frame (the real-world entry point)") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en", "web"), // verbatim leak
      (2L, "one two three four five six seven", "en", "book"),  // clean
      (3L, "hi", "en", "web"),                                  // shingle-less
    ).toDF("doc_id", "text", "lang", "source")
    // any frame with a text column works as the eval suite — no doc_id needed
    val evalSuite = Seq("alpha beta gamma delta epsilon zeta").toDF("text")
    val out = Corpus.decontaminateAgainstOn(train, evalSuite).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3), r.getBoolean(4))).toMap
    assert(out(1L)._2 === 1.0 && !out(1L)._3, "verbatim copy of an eval doc must be dropped")
    assert(out(2L)._2 === 0.0 && out(2L)._3, "clean doc must be kept")
    assert(out(3L)._1 === 0L && out(3L)._3, "shingle-less doc is kept with contamination 0")
    // the registered slice query is the same computation with the doc_id
    // slice as the eval frame: spot-check on real testdata that delegation
    // preserved the original semantics
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val viaSlice = Corpus.decontaminateOn(docs)
    assert(viaSlice.filter(pmod(col("doc_id"), lit(10)) === lit(Corpus.BenchSlice)).count() === 0,
      "benchmark docs are never judged")
    assert(viaSlice.count() > 0)
  }

  test("train/val/test split is deterministic, exhaustive, and near the 90/5/5 target") {
    val bigDocs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.01")
    val out = Corpus.splitOn(bigDocs)
    val bylot = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = bylot.values.sum
    assert(n === bigDocs.count(), "split dropped or duplicated docs")
    assert(bylot.keySet === Set("train", "val", "test"))
    // hash-Bernoulli 90/5/5: binomial noise at n=500 stays well within ±5pp
    assert(math.abs(bylot("train").toDouble / n - 0.90) < 0.05, bylot.toString)
    // a doc's split never changes across runs or input orderings
    val a = out.orderBy("doc_id").collect().toSeq
    val b = Corpus.splitOn(bigDocs.orderBy(org.apache.spark.sql.functions.rand(7)))
      .orderBy("doc_id").collect().toSeq
    assert(a === b, "split depends on input ordering")
  }

  test("leakage-safe split: clusters are split-homogeneous, canonicals never move, singletons keep their own split") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val clusters = Dedup.dupClustersOn(docs)
    val safe = Corpus.splitSafeOn(docs, clusters)
    // exhaustive: one row per doc
    assert(safe.count() === docs.count())
    // the whole point: no cluster spans splits
    val mixed = safe.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("k")).filter(col("k") > 1).count()
    assert(mixed === 0L, "a near-dup cluster spans splits under the safe assignment")
    // a canonical inherits its own hash — it can never be the moved one
    val canonMoved = safe.filter(col("doc_id") === col("cluster_id") && col("moved")).count()
    assert(canonMoved === 0L, "a cluster canonical was marked moved")
    // singletons: safe split == the registered per-doc split
    val own = Corpus.splitOn(docs).select(col("doc_id"), col("split").as("own"))
    val single = clusters.filter(col("cluster_size") === 1).select("doc_id")
    val drift = safe.join(single, Seq("doc_id"), "left_semi")
      .join(own, Seq("doc_id")).filter(col("split") =!= col("own")).count()
    assert(drift === 0L, "a singleton's safe split differs from its own split")
    spark.catalog.clearCache()
  }

  test("source drift: shares sum to 1 per side, vanished and new cells zero-fill with signed drift") {
    val old = Seq((1L, "t", "en", "a"), (2L, "t", "en", "a"), (3L, "t", "en", "b"), (4L, "t", "en", "b"))
      .toDF("doc_id", "text", "lang", "source")
    val nw = Seq((1L, "t", "en", "a"), (2L, "t", "en", "a"), (5L, "t", "en", "c"), (6L, "t", "en", "c"))
      .toDF("doc_id", "text", "lang", "source")
    val out = Corpus.sourceDriftOn(old, nw).collect()
      .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(out.keySet === Set("a", "b", "c"))
    assert(out("a") === ((2L, 2L, 0.5, 0.5, 0.0)))
    assert(out("b") === ((2L, 0L, 0.5, 0.0, -0.5)), "vanished source must show negative drift")
    assert(out("c") === ((0L, 2L, 0.0, 0.5, 0.5)), "new source must zero-fill the old side")
    assert(math.abs(out.values.map(_._3).sum - 1.0) < 1e-9)
    assert(math.abs(out.values.map(_._4).sum - 1.0) < 1e-9)
  }

  test("scd2 history: current rows reproduce the SCD1 merge, versions tile per doc") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val old = Corpus.deltaOldSlice(docs)
    val nw = Corpus.deltaNewSlice(docs)
    val hist = Corpus.scd2HistoryOn(old, nw).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    // the open rows ARE the SCD1 result — the two MERGE flavors cross-check
    val cur = hist.filter(_._5).map(t => (t._1, t._2)).sorted.toSeq
    val scd1 = Corpus.applyDeltaOn(old, nw).select("doc_id", "fp").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(cur === scd1, "current SCD2 rows diverge from the SCD1 merge")
    hist.groupBy(_._1).foreach { case (id, vs) =>
      assert(vs.count(_._5) <= 1, s"doc $id has two open versions")
      // a closed version is always [1, 2); an open one starts at 1 or 2
      vs.foreach { case (_, _, from, to, open) =>
        assert(if (open) to === Corpus.Scd2Open else (from === 1L && to === 2L))
      }
      // two versions only for changed docs, and their intervals tile
      if (vs.length == 2)
        assert(vs.sortBy(_._3).map(v => (v._3, v._4)).toSeq === Seq((1L, 2L), (2L, Corpus.Scd2Open)),
          s"doc $id versions do not tile")
    }
  }

  test("pack efficiency: hand-computed fill and boundary-split ratios at ContextTokens=1024") {
    val t600 = Seq.fill(600)("w").mkString(" ")
    val docs = Seq((1L, t600, "en", "web"), (2L, t600, "en", "web"), (3L, t600, "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val r = Corpus.packEfficiencyOn(docs).collect()
    assert(r.length === 1)
    val row = r.head
    // cum = 600/1200/1800: doc 2 straddles the 1024 boundary (start chunk 0,
    // end chunk 1), doc 3 lives inside chunk 1; 1800 tokens → 2 chunks
    assert(row.getLong(1) === 3L && row.getLong(2) === 1L)
    assert(row.getLong(3) === 1800L && row.getLong(4) === 2L)
    assert(row.getDouble(5) === graft.ops.Num.r6Double(1800.0 / 2048.0))
    assert(row.getDouble(6) === graft.ops.Num.r6Double(1.0 / 3.0))
  }

  test("property: budget-parameterized packer matches the exact prefix-sum model at any chunk budget") {
    // the media manifest packs payload BYTES through the same chain with
    // its own budget (Multimodal.MediaPackChunkBytes); this pins the
    // parameterization itself — for ANY budget, within each (lang, shard)
    // the cumulative weights are the doc_id-ordered running sum and
    // chunk_id is the exact integral division of the pre-doc offset
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val rowGen = for {
      lang <- Gen.oneOf("en", "de")
      n <- Gen.choose(0L, 50L)
    } yield (lang, n)
    val input = for {
      rows <- Gen.listOfN(40, rowGen)
      budget <- Gen.choose(1L, 64L)
    } yield (rows, budget)
    val prop = Prop.forAll(input) { case (rows, budget) =>
      val inRows = rows.zipWithIndex.map { case ((l, n), i) => (l, i.toLong, n) }
      val toks = inRows.toDF("lang", "doc_id", "n_tok")
      val out = Corpus.seqPackDocRowsFromTokens(toks, chunkTokens = budget).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))) // (lang, shard, doc_id, n_tok, cum, chunk)
      // every input row appears exactly once, weight intact
      val okCover = out.length == rows.length &&
        out.map(r => (r._1, r._3, r._4)).sorted.toSeq ==
          inRows.map { case (l, i, n) => (l, i, n) }.sorted.toSeq
      // per (lang, shard): running sum in doc_id order, exact division
      val okMath = out.groupBy(r => (r._1, r._2)).forall { case (_, g) =>
        var cum = 0L
        g.sortBy(_._3).forall { r =>
          cum += r._4
          r._5 == cum && r._6 == (cum - r._4) / budget
        }
      }
      (Prop(okCover) :| "row coverage broke") && (Prop(okMath) :| "prefix-sum/chunk math broke")
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("split leakage report: six zero-filled combos, leak flag consistent, pair mass conserved") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val rep = Corpus.splitLeakageOn(docs).orderBy("split_a", "split_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    // always exactly the six alphabetical combos, even where n_pairs = 0
    assert(rep.map(t => (t._1, t._2)).toSeq === Seq(
      ("test", "test"), ("test", "train"), ("test", "val"),
      ("train", "train"), ("train", "val"), ("val", "val")))
    rep.foreach { case (a, b, _, leak) => assert(leak === (a != b)) }
    // every near-dup edge lands in exactly one combo (both endpoints are
    // corpus docs, so neither join drops rows)
    val edges = Dedup.dupEdgesOn(docs).count()
    assert(edges > 0, "testdata lost its planted near-duplicates")
    assert(rep.map(_._3).sum === edges, "pair mass not conserved")
  }

  test("epoch shuffle: each epoch is a full permutation, positions contiguous, epochs decorrelated") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.01")
    val n = docs.count()
    val out = Corpus.epochShuffleOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every epoch holds every doc exactly once
    val byEpoch = out.groupBy(_._1)
    assert(byEpoch.keySet === Set(1L, 2L))
    byEpoch.foreach { case (ep, rows) =>
      assert(rows.map(_._4).distinct.length.toLong === n, s"epoch $ep is not a permutation")
      // positions within each shard are contiguous 1..k
      rows.groupBy(_._2).foreach { case (sh, srows) =>
        val ps = srows.map(_._3).sorted
        assert(ps === (1L to ps.length.toLong), s"epoch $ep shard $sh positions not contiguous")
      }
    }
    // the two epochs order the corpus differently (salt decorrelates)
    def orderOf(ep: Long) = byEpoch(ep).sortBy(r => (r._2, r._3)).map(_._4).toSeq
    assert(orderOf(1L) !== orderOf(2L), "epochs produced the identical order")
    // deterministic across runs and input orderings
    val again = Corpus.epochShuffleOn(
      docs.orderBy(org.apache.spark.sql.functions.rand(11))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === again.toSeq, "manifest depends on input ordering")
  }

  test("psi drift: identical snapshots read stable, a forced length shift reads shifted") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val same = Corpus.psiDriftOn(docs, docs).collect()
    assert(same.nonEmpty)
    // identical distributions: every contribution is exactly 0 (p_new = p_old)
    same.foreach { r =>
      assert(r.getAs[Double]("psi_contrib") === 0.0)
      assert(r.getAs[String]("verdict") === "stable")
    }
    // truncate every doc to its first token: the length mass collapses
    // into bucket 0 — the textbook "shifted" regime (PSI >= 0.25)
    val truncated = docs.withColumn("text",
      element_at(graft.ext.Text.tokens(col("text")), 1))
    val shifted = Corpus.psiDriftOn(docs, truncated).collect()
    assert(shifted.head.getAs[String]("verdict") === "shifted",
      s"psi_total=${shifted.head.getAs[Double]("psi_total")}")
    // and the total actually cleared the published threshold
    assert(shifted.head.getAs[Double]("psi_total") >= Corpus.PsiModerate)
  }

  test("pipeline manifest: stage verdicts compose consistently and pack covers exactly the survivors") {
    val dir = "/root/testdata/sf0.001"
    val m = Corpus.pipelineManifest(spark, dir).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(3), r.getBoolean(4),
        r.getBoolean(6), r.getString(7), r.getBoolean(8), r.getLong(9), r.getLong(10)))
    // (doc_id, lang, n_copies, kept, is_survivor, split, packed, shard, chunk_id)
    val docs = graft.ops.Tables.documents(spark, dir)
    assert(m.length.toLong === docs.count(), "manifest must cover the whole corpus spine")
    // the packed bit IS the conjunction of the stage verdicts — recomputed here
    m.foreach { case (id, _, nc, kept, surv, split, packed, sh, ch) =>
      assert(packed === (nc > 0 && kept && surv && split == "train"), s"doc $id packed bit drifted")
      // sentinel discipline: pack position iff packed
      assert((sh >= 0 && ch >= 0) === packed, s"doc $id pack position vs packed bit")
    }
    // the packed rows' positions are exactly seqPackDocRowsOn over the
    // survivor stream (the composition seam, re-derived independently)
    val packedIds = m.filter(_._7).map(_._1).toSet
    assert(packedIds.nonEmpty, "degenerate corpus: nothing survived the pipeline")
    val expected = Corpus.seqPackDocRowsOn(
        docs.filter(col("doc_id").isin(packedIds.toSeq: _*)))
      .select("doc_id", "shard", "chunk_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    m.filter(_._7).foreach { case (id, _, _, _, _, _, _, sh, ch) =>
      assert(expected(id) === ((sh, ch)), s"doc $id pack position != survivor-stream packing")
    }
    spark.catalog.clearCache()
  }

  test("property: consecutive epochs are disjoint-salt permutations; shard skew bounded at 10x") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // 50k synthetic ids ≈ the 10× corpus (sf0.1 holds 5k docs); one Spark
    // pass over 4 epochs, then the properties run driver-side on the
    // manifest — ScalaCheck draws the (e, e+1) pairs
    val n = 50000L
    val epochs = 4
    val docs = spark.range(n).select(col("id").as("doc_id"))
    val out = Corpus.epochShuffleOn(docs, epochs = epochs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byEpoch = out.groupBy(_._1)
    def orderOf(ep: Long): Seq[Long] =
      byEpoch(ep).sortBy(r => (r._2, r._3)).map(_._4).toSeq
    val prop = Prop.forAll(Gen.choose(1, epochs - 1)) { e =>
      val (a, b) = (byEpoch(e.toLong), byEpoch(e.toLong + 1))
      // identical membership: every epoch is a permutation of the same set
      a.map(_._4).toSet == b.map(_._4).toSet &&
        a.length == b.length && a.length.toLong == n &&
        // disjoint salts actually decorrelate: the orders differ
        orderOf(e.toLong) != orderOf(e.toLong + 1)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
    // shard-size skew bound at this scale: hash sharding keeps every
    // (epoch, shard) within 10% of the mean (expected n/shards = 6250,
    // binomial 3σ ≈ 3.8% — 10% is the alarm line a loader provisions for)
    val mean = n.toDouble / Corpus.ShuffleShards
    out.groupBy(r => (r._1, r._2)).foreach { case ((ep, sh), rows) =>
      assert(math.abs(rows.length - mean) / mean <= 0.10,
        s"epoch $ep shard $sh size ${rows.length} breaks the 10% skew bound (mean $mean)")
    }
  }

  test("temperature mix upsamples low-resource langs at constant corpus size, exactly per quota") {
    val bigDocs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val in = bigDocs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val outDf = Corpus.tempMixOn(bigDocs)
    val out = outDf.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (nIn, nOut) = (in.values.sum, out.values.sum)
    // constant corpus size up to per-lang floor loss
    assert(nOut <= nIn && nOut >= nIn - in.size, s"total drifted: $nIn -> $nOut")
    // α=0.5 compresses shares toward uniform: every lang's output share
    // must sit between its input share and the uniform share
    val uni = 1.0 / in.size
    in.foreach { case (lang, n) =>
      val (si, so) = (n.toDouble / nIn, out(lang).toDouble / nOut)
      val (lo, hi) = (math.min(si, uni), math.max(si, uni))
      assert(so >= lo - 0.01 && so <= hi + 0.01, s"$lang share $si -> $so not toward uniform $uni")
    }
    // the quota is hit EXACTLY: per-lang emitted copies == the quota column
    val byQuota = outDf.groupBy("lang", "quota").count().collect()
    byQuota.foreach { r =>
      assert(r.getLong(2) === r.getLong(1), s"${r.getString(0)} emitted ${r.getLong(2)} != quota ${r.getLong(1)}")
    }
    // deterministic: same input -> same mix
    assert(outDf.orderBy("doc_id", "copy_idx").collect().toSeq ===
      Corpus.tempMixOn(bigDocs).orderBy("doc_id", "copy_idx").collect().toSeq)
  }

  test("bloom decontamination is row-identical to the exact form, even with a tiny saturated bloom") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = Corpus.decontaminateOn(docs).orderBy("doc_id").collect().toSeq
    val bloom = Corpus.decontaminateBloomOn(docs).orderBy("doc_id").collect().toSeq
    assert(bloom === exact, "bloom prune changed a decontamination result")
    // 1024-bit bloom over thousands of shingles ≈ every probe passes: the
    // prune degrades to a no-op and the exact verify join must still reject
    // every false positive — undersizing the knob can cost time, never
    // correctness
    val train = docs.filter(pmod(col("doc_id"), lit(10)) =!= lit(Corpus.BenchSlice))
    val evalDocs = docs.filter(pmod(col("doc_id"), lit(10)) === lit(Corpus.BenchSlice))
    val saturated = Corpus.decontaminateBloomAgainstOn(train, evalDocs, numBits = 1024L)
      .orderBy("doc_id").collect().toSeq
    assert(saturated === exact, "saturated bloom changed a decontamination result")
  }

  test("dsir selection excludes the target, ranks contiguously, favors target vocabulary") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta", "en", "src0", 27L), // target sample
      (2L, "alpha beta gamma delta", "en", "poolA", 22L), // shares target vocab
      (3L, "zeta eta theta iota kappa", "en", "poolB", 25L), // unrelated vocab
      (4L, "alpha alpha beta beta gamma", "en", "poolC", 27L) // most target-like
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Corpus.dsirSelectOn(docs, targetSource = "src0")
      .select("rank", "doc_id", "score").as[(Long, Long, Long)].collect()
    assert(got.map(_._2).toSet === Set(2L, 3L, 4L), "target doc leaked into the selection")
    assert(got.map(_._1).toSeq === Seq(1L, 2L, 3L), "ranks not contiguous from 1")
    val score = got.map(r => r._2 -> r._3).toMap
    assert(score(4L) > score(3L) && score(2L) > score(3L),
      s"target-vocabulary docs must outrank the unrelated one: $score")
    // deterministic: a second invocation emits the identical ranking
    val again = Corpus.dsirSelectOn(docs, targetSource = "src0")
      .select("rank", "doc_id", "score").as[(Long, Long, Long)].collect()
    assert(again.toSeq === got.toSeq)
    // a NULL-source doc counts in NEITHER distribution (matching the SQL
    // twin's CASE three-valued logic): adding one changes nothing
    val withNull = docs.unionByName(
      Seq((9L, "alpha beta noise", "en", null.asInstanceOf[String], 16L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val nulled = Corpus.dsirSelectOn(withNull, targetSource = "src0")
      .select("rank", "doc_id", "score").as[(Long, Long, Long)].collect()
    assert(nulled.toSeq === got.toSeq,
      "NULL-source doc leaked into a distribution or the selection")
  }

  test("curation funnel: verdicts agree with each gate, reasons follow pipeline order") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = Curation.curationFunnelOn(docs).collect().map { r =>
      (r.getLong(0), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5),
        r.getBoolean(6), r.getBoolean(7), r.getBoolean(8), r.getBoolean(9),
        if (r.isNullAt(10)) None else Some(r.getString(10)))
    }
    val train = docs.filter(pmod(col("doc_id"), lit(10L)) =!= lit(Corpus.BenchSlice))
    assert(rows.length === train.count(), "funnel must cover exactly the training pool")
    // independent recomputation of two gates: quality survivors + the
    // classifier's registered keep verdicts
    val qSurvivors = Text.qualityFilterOn(docs).select("doc_id")
      .as[Long].collect().toSet
    val gKeep = Quality.qualityScoreOn(docs).select("doc_id", "keep")
      .as[(Long, Boolean)].collect().toMap
    rows.foreach { case (id, pq, pr, pf, pg, pd, pc, kept, reason) =>
      assert(pq === qSurvivors.contains(id), s"doc $id: pass_quality disagrees with the operator")
      assert(pg === gKeep(id), s"doc $id: pass_classifier disagrees with t_quality_score")
      assert(kept === (pq && pr && pf && pg && pd && pc), s"doc $id: kept is not the gate conjunction")
      assert(kept === reason.isEmpty, s"doc $id: kept but has a drop reason (or vice versa)")
      // the reported reason is the FIRST failing gate in pipeline order
      val expected = Seq("quality" -> pq, "repetition" -> pr, "fluency" -> pf,
        "classifier" -> pg, "contamination" -> pd, "duplicate" -> pc).find(!_._2).map(_._1)
      assert(reason === expected, s"doc $id: reason $reason, expected $expected")
    }
    assert(rows.exists(_._8 === true) && rows.exists(_._9.nonEmpty),
      "degenerate corpus: funnel kept everything or dropped nothing")
  }

  test("sharded packing preserves totals and keeps per-shard chunk ids contiguous") {
    val bigDocs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val flat = Corpus.seqPackOn(bigDocs)
      .agg(sum("n_docs"), sum("tokens_started")).head()
    val sharded = Corpus.seqPackShardedOn(bigDocs, 4)
    val shardedTot = sharded.agg(sum("n_docs"), sum("tokens_started")).head()
    // sharding redistributes docs across independent streams; it must not
    // lose or duplicate any doc or token
    assert(shardedTot === flat, s"totals drifted: $shardedTot vs $flat")
    // per-(lang, shard) invariants that hold for ANY document lengths
    // (a doc longer than the context legitimately leaves gaps in chunk
    // ids, so contiguity is NOT asserted): streams start at chunk 0 and
    // the last chunk id is bounded by the stream's own token volume
    val bad = sharded.groupBy("lang", "shard")
      .agg(min("chunk_id").as("lo"), max("chunk_id").as("hi"),
        sum("tokens_started").as("tok"))
      .filter(col("lo") =!= 0L || col("hi") > col("tok") / Corpus.ContextTokens)
    assert(bad.count() === 0, "per-shard chunk ids out of bounds")
  }

  test("stratified sample: quotas sum to the budget, stay proportional, and the pick is deterministic") {
    val bigDocs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.01")
    val out = Corpus.stratifiedSampleOn(bigDocs, budget = 100L)
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang.values.sum === 100L, "largest-remainder quotas must sum to the budget exactly")
    // Hamilton rounding never misses the exact proportional share by >= 1
    val shares = bigDocs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = shares.values.sum.toDouble
    byLang.foreach { case (lang, got) =>
      val ideal = 100.0 * shares(lang) / n
      assert(math.abs(got - ideal) < 1.0, s"$lang: got $got for ideal $ideal")
    }
    // ranks are 1..quota within each lang, and the pick repeats exactly
    assert(out.groupBy("lang").agg(max("rk").as("mx"), count(lit(1)).as("c"))
      .filter(col("mx") =!= col("c")).count() === 0)
    assert(out.orderBy("doc_id").collect().toSeq ===
      Corpus.stratifiedSampleOn(bigDocs, budget = 100L).orderBy("doc_id").collect().toSeq)
  }

  test("chunk windows: overlapping extents, short tail, no chunks for tokenless docs") {
    val d = Seq(
      (1L, (1 to 40).map(i => s"t$i").mkString(" "), "en", "s"), // 40 tokens -> 2 chunks
      (2L, (1 to 10).map(i => s"u$i").mkString(" "), "en", "s"), // 10 tokens -> 1 chunk
      (3L, "", "en", "s"),                                       // no tokens -> no rows
    ).toDF("doc_id", "text", "lang", "source")
    val got = Corpus.chunkWindowsOn(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq(
      (1L, 0L, 0L, 32L, 32L),   // [0,32)
      (1L, 1L, 24L, 40L, 16L),  // [24,40): 8-token overlap, short tail
      (2L, 0L, 0L, 10L, 10L)))
    // chunk hashes are content hashes: the same token window hashes equally
    val h = Corpus.chunkWindowsOn(d).select("chunk_hash").collect().map(_.getString(0))
    assert(h.distinct.length === h.length, "distinct windows must hash distinctly here")
  }

  test("batch manifest: bucket-sized batches with exact padding waste, overflow starts a new batch") {
    def doc(id: Long, n: Int) = (id, (1 to n).map(i => s"w$i").mkString(" "), "en", "s")
    // nine 10-token docs: bucket 0, pad 16, batch_size = 128 div 16 = 8 -> 8 + 1
    // three 20-token docs: bucket 1, pad 32, batch_size 4 -> one batch
    val d = ((1L to 9L).map(i => doc(i, 10)) ++ (21L to 23L).map(i => doc(i, 20)))
      .toDF("doc_id", "text", "lang", "source")
    val got = Corpus.batchManifestOn(d).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(got.toSeq === Seq(
      (0L, 0L, 8L, 80L, 16L, 128L, 48L),  // full batch: exactly at capacity
      (0L, 1L, 1L, 10L, 16L, 16L, 6L),    // overflow doc starts batch 1
      (1L, 0L, 3L, 60L, 32L, 96L, 36L)))
    // no batch exceeds the token capacity
    assert(got.forall(_._6 <= Corpus.BatchTokens))
  }

  test("chunk dedup: repeated chunks collapse to one row with the smallest holder as canonical") {
    val longText = (1 to 40).map(i => s"t$i").mkString(" ")
    val d = Seq(
      (7L, longText, "en", "s"),
      (3L, longText, "en", "s"),                               // full copy: every chunk shared
      (9L, (1 to 10).map(i => s"u$i").mkString(" "), "en", "s"), // unique chunk
    ).toDF("doc_id", "text", "lang", "source")
    val got = Corpus.chunkDedupOn(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 40-token docs make 2 windows each, shared between docs 3 and 7
    assert(got.length === 3, s"2 shared windows + 1 unique, got ${got.length}")
    val shared = got.filter(_._2 === 2L)
    assert(shared.length === 2)
    assert(shared.forall(t => t._3 === 2L && t._4 === 3L),
      "shared chunks span both docs with the smaller doc_id canonical")
    assert(got.count(t => t._2 === 1L && t._4 === 9L) === 1)
  }

  test("corpus rollup: grand total row matches the corpus, lattice levels are consistent") {
    val bigDocs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    // gid (grouping_id) identifies the lattice level robustly — a caller
    // with genuine NULL lang/source values still gets unambiguous rows
    val out = Corpus.corpusRollupOn(bigDocs).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    val grand = out.filter(_._3 === 3L) // both dims rolled up
    assert(grand.length === 1)
    assert(grand.head._4 === bigDocs.count(), "grand-total doc count")
    val leaves = out.filter(_._3 === 0L)
    assert(leaves.forall(t => t._1.nonEmpty && t._2.nonEmpty))
    assert(leaves.map(_._4).sum === grand.head._4, "leaf doc counts sum to the total")
    assert(leaves.map(_._5).sum === grand.head._5, "leaf token counts sum to the total")
    val byLang = out.filter(_._3 === 1L) // source rolled up, lang kept
    assert(byLang.map(_._4).sum === grand.head._4, "lang-level counts sum to the total")
  }

  test("source stats: a mirror source of corpus-wide copies is dropped, short docs counted") {
    val longA = (1 to 24).map(i => s"alpha$i").mkString(" ") // 24 tokens: not short
    val longB = (1 to 24).map(i => s"beta$i").mkString(" ")
    val d = Seq(
      (1L, longA, "en", "clean"),
      (2L, longB, "en", "clean"),
      (3L, longA, "en", "mirror"),
      (4L, longA, "de", "mirror"),
      (5L, "tiny stub", "en", "clean"),
    ).toDF("doc_id", "text", "lang", "source")
    val got = Corpus.sourceStatsOn(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(4), r.getDouble(5), r.getBoolean(6))).toMap
    // mirror: both docs are copies (of clean's #1 and of each other) -> dup_rate 1, dropped
    assert(got("mirror") === ((2L, 2L, 1.0, 0.0, false)))
    // clean: #1 is duplicated corpus-wide by the mirror -> 1/3 dup rate; #5 is short
    assert(got("clean")._1 === 3L)
    assert(got("clean")._3 === 0.333333 && got("clean")._4 === 0.333333)
    assert(got("clean")._5, "a 1/3 dup rate stays under the blocklist threshold")
  }

  test("snapshot delta classifies added/removed/changed/unchanged on hand-built snapshots") {
    val old = Seq(
      (1L, "same text"), (2L, "will be edited"), (3L, "will be dropped"))
      .toDF("doc_id", "text")
    val nw = Seq(
      (1L, "same   TEXT"), // whitespace/case only → normalized fp unchanged
      (2L, "will be edited v2"), (4L, "brand new doc"))
      .toDF("doc_id", "text")
    val out = Corpus.snapshotDeltaOn(old, nw).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("apply-delta MERGE reproduces the new snapshot; unchanged rows carry the old side") {
    def docs(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "source").withColumn("lang", lit("en"))
    val old = docs((1L, "same text", "old-src"),
      (2L, "will be edited", "old-src"), (3L, "will be dropped", "old-src"))
    val nw = docs((1L, "same   TEXT", "new-src"), // fp-unchanged → carried from OLD
      (2L, "will be edited v2", "new-src"), (4L, "brand new doc", "new-src"))
    val got = Corpus.applyDeltaOn(old, nw).orderBy("doc_id")
      .select("doc_id", "fp", "source").as[(Long, String, String)].collect().toSeq
    // identity: exactly the new snapshot's doc set with its fingerprints
    val wantFp = Corpus.snapshotDeltaOn(old, nw) // reuse the classifier for ids
    assert(got.map(_._1) === Seq(1L, 2L, 4L))
    // SCD1-on-content: the unchanged doc is NOT rewritten (old attributes
    // survive); changed/added rows take the new side
    assert(got.find(_._1 == 1L).get._3 === "old-src")
    assert(got.find(_._1 == 2L).get._3 === "new-src")
    assert(got.find(_._1 == 4L).get._3 === "new-src")
    // fingerprints equal the refreshed snapshot's fingerprints
    val freshFp = nw.select(col("doc_id"),
        md5(graft.ext.Text.normalized(col("text"))).as("fp"))
      .as[(Long, String)].collect().toMap
    got.foreach { case (id, fp, _) => assert(fp === freshFp(id), s"doc $id fp") }
    assert(wantFp.filter(col("status") === "removed").as[(Long, String)]
      .collect().map(_._1).toSeq === Seq(3L))
  }

  test("IVM stats maintenance equals a rebuild, including cross-key migration of a changed doc") {
    def docs(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "source").withColumn("lang", lit("en"))
    val old = docs(
      (1L, "one two three", "srcA"),   // unchanged
      (2L, "a b", "srcA"),             // changed AND migrates srcA -> srcB
      (3L, "gone now", "srcB"))        // removed
    val nw = docs(
      (1L, "one two three", "srcA"),
      (2L, "a b c d", "srcB"),
      (4L, "fresh doc here", "srcB"))  // added
    val got = Corpus.ivmStatsOn(old, nw).orderBy("lang", "source")
      .as[(String, String, Long, Long)].collect().toSeq
    // rebuild over the new snapshot
    val want = Seq(("en", "srcA", 1L, 3L), ("en", "srcB", 2L, 7L))
    assert(got === want)
    // a fully-retired group must vanish (n_docs = 0 filtered)
    val allGone = Corpus.ivmStatsOn(old, docs((9L, "only survivor", "srcC")))
      .as[(String, String, Long, Long)].collect().toSeq
    assert(allGone === Seq(("en", "srcC", 1L, 2L)))
  }

  test("snapshot delta treats NULL text as presence, not absence") {
    // a NULL-text doc on one side must read as changed/unchanged, never
    // as added/removed (fp nullness is a presence signal only)
    val old = Seq(
      (1L, null: String), // stays null → unchanged
      (2L, null: String), // gains text → changed
      (3L, "had text"),   // loses text → changed
      (4L, null: String)) // really removed
      .toDF("doc_id", "text")
    val nw = Seq(
      (1L, null: String), (2L, "now has text"), (3L, null: String),
      (5L, null: String)) // really added, with null text
      .toDF("doc_id", "text")
    val out = Corpus.snapshotDeltaOn(old, nw).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "unchanged", 2L -> "changed", 3L -> "changed",
      4L -> "removed", 5L -> "added"))
  }

  test("property: snapshot delta matches driver-side recomputation and swaps symmetrically") {
    case class D(id: Long, inOld: Boolean, inNew: Boolean, changed: Boolean)
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val ds = (1L to 40L)
        .map(i => D(i, rnd.nextDouble() < 0.8, rnd.nextDouble() < 0.8, rnd.nextDouble() < 0.3))
        .filter(d => d.inOld || d.inNew)
      val oldDf = ds.filter(_.inOld).map(d => (d.id, s"text ${d.id} v1")).toDF("doc_id", "text")
      val newDf = ds.filter(_.inNew)
        .map(d => (d.id, s"text ${d.id} v${if (d.changed) 2 else 1}")).toDF("doc_id", "text")
      val expected = ds.map { d =>
        d.id -> ((d.inOld, d.inNew) match {
          case (true, false) => "removed"
          case (false, true) => "added"
          case _ => if (d.changed) "changed" else "unchanged"
        })
      }.toMap
      val got = Corpus.snapshotDeltaOn(oldDf, newDf).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === expected)
      // swapping the snapshots maps added↔removed and fixes changed/unchanged
      val swapped = Corpus.snapshotDeltaOn(newDf, oldDf).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(swapped === expected.view.mapValues {
        case "added" => "removed"
        case "removed" => "added"
        case s => s
      }.toMap)
    }
  }

  test("former unsorted-twin siblings return unsorted frames (no global Sort in the plan)") {
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    // planned, never run: the embedding width does not matter
    val emb = Seq((1L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val frames = Seq(
      "Text.textStatsOn" -> Text.textStatsOn(docs),
      "Quality.c4CleanOn" -> Quality.c4CleanOn(docs),
      "Corpus.snapshotDeltaOn" -> Corpus.snapshotDeltaOn(docs, docs.filter(col("doc_id") > 1L)),
      "Multimodal.alignFilterOn" -> graft.multimodal.Multimodal.alignFilterOn(docs, emb))
    val sorted = frames.collect {
      case (name, df) if df.queryExecution.optimizedPlan.exists {
        case s: Sort => s.global
        case _ => false
      } => name
    }
    assert(sorted.isEmpty, s"global sorts in: ${sorted.mkString(", ")}")
  }
}
