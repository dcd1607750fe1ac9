package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("shingles3: short docs yield empty array, no descending sequence") {
    val got = Seq("one two", "one two three four").toDF("t")
      .select(size(Dedup.shingles3(Text.tokens(col("t")))).as("n")).as[Int].collect().toSeq
    assert(got === Seq(0, 2)) // "one two three", "two three four"
  }

  test("shingles3 deduplicates repeated shingles") {
    val got = Seq("a b c a b c a b c").toDF("t")
      .select(size(Dedup.shingles3(Text.tokens(col("t")))).as("n")).as[Int].head()
    assert(got === 3) // "a b c", "b c a", "c a b"
  }

  test("baseHash is stable and within 28 bits") {
    val got = Seq("hello", "hello", "world").toDF("s")
      .select(Dedup.baseHash(col("s")).as("h")).as[Long].collect().toSeq
    assert(got(0) === got(1))
    assert(got(0) !== got(2))
    assert(got.forall(h => h >= 0 && h < (1L << 28)))
  }

  test("sorted_intersect_count equals size(array_intersect) on sorted distinct arrays") {
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(
      (Array(1L, 3L, 5L, 9L), Array(2L, 3L, 9L, 11L)),
      (Array.empty[Long], Array(1L, 2L)),
      (Array(4L), Array(4L)),
      (Array(1L, 2L, 3L), Array(7L, 8L))).toDF("a", "b")
    val mism = df.filter(
      call_function("sorted_intersect_count", col("a"), col("b"))
        =!= size(array_intersect(col("a"), col("b"))).cast("long"))
    assert(mism.count() === 0)
  }

  test("LSH banding knob: narrower aligned bands strictly widen the candidate set") {
    // band j of the 8-band config is half of band j/2 of the 4-band config:
    // a 4-row band signature can only match when both aligned 2-row halves
    // match, so candidates(4 bands of 4) ⊆ candidates(8 bands of 2) — the
    // recall direction of the LSH S-curve a production job tunes with
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    def pairs(bands: Int) =
      Dedup.minhashLshOn(docs, numHashes = 16, numBands = bands)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val coarse = pairs(4)
    val fine = pairs(8)
    spark.catalog.clearCache() // the knobbed variants persist() internally
    assert(coarse.subsetOf(fine),
      s"pairs lost when bands narrowed: ${(coarse -- fine).take(5)}")
    assert(fine.size > coarse.size, "narrower bands added no candidates (degenerate corpus)")
  }

  test("LSH-fed Jaccard verify matches an independent exact recomputation") {
    // The per-pair verify must be a pure function of the pair: recompute
    // each emitted pair's exact 2-gram Jaccard through array_intersect (a
    // different code path than sorted_intersect_count) and compare.
    // (The blocked twin shares no pairs with this one on the testdata —
    // equal-token-count blocking misses every real near-dup, which is
    // exactly why the LSH-fed form is the production path.)
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Dedup.ngramJaccardLshOn(docs)
      .as[(Long, Long, Long, Long, Double)].collect()
    spark.catalog.clearCache()
    assert(out.nonEmpty, "LSH candidates produced no verified pair")
    val ids = out.flatMap(r => Seq(r._1, r._2)).toSet.toSeq
    val grams = docs.filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id"), Dedup.shingles2ForTest(col("text")).as("g"))
      .as[(Long, Array[Long])].collect().toMap
    out.foreach { case (a, b, nInter, nUnion, jac) =>
      val inter = grams(a).toSet.intersect(grams(b).toSet).size.toLong
      val union = grams(a).length + grams(b).length - inter
      assert(inter === nInter && union === nUnion, s"pair ($a,$b) counts drifted")
      assert(math.abs(jac - inter.toDouble / union) < 1e-6)
    }
  }

  test("simhash banding: wider hamming cutoff only adds pairs; verify is exact") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    // NB: hammingMax beyond nBands-1 (here 6 > 3) is the documented
    // partial-recall regime — pairs within the cutoff among band-sharing
    // candidates — which is exactly what the containment property needs
    def pairs(hMax: Int) = Dedup.simhashPairsOn(docs, hammingMax = hMax)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val tight = pairs(2)
    val loose = pairs(6)
    spark.catalog.clearCache()
    assert(tight.subsetOf(loose))
    // every emitted hamming is within the cutoff and self-consistent
    val bad = Dedup.simhashPairsOn(docs).filter(col("hamming") > Dedup.HammingMax).count()
    spark.catalog.clearCache()
    assert(bad === 0)
  }

  test("embed near-dup knobs: more planes refine (subset), more bands recall (superset)") {
    val emb = graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def pairs(planes: Int, bands: Int) =
      Dedup.embedNearDupOn(emb, nPlanes = planes, nBands = bands)
        .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val base = pairs(4, 1)
    val finer = pairs(6, 1)   // prefix planes: finer buckets refine the base ones
    val banded = pairs(4, 2)  // band 0 identical + band 1's union
    spark.catalog.clearCache()
    assert(finer.subsetOf(base), s"refining planes invented pairs: ${(finer -- base).take(5)}")
    assert(base.subsetOf(banded), s"adding a band lost pairs: ${(base -- banded).take(5)}")
  }

  test("embed near-dup 100 TB knobs: registered scale config obeys the same band/plane laws") {
    val emb = graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.01")
    def pairs(planes: Int, bands: Int) =
      Dedup.embedNearDupOn(emb, nPlanes = planes, nBands = bands)
        .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val oneBand = pairs(Dedup.EmbedScalePlanes, 1)
    val scale = pairs(Dedup.EmbedScalePlanes, Dedup.EmbedScaleBands)
    val coarse = pairs(4, 1)
    spark.catalog.clearCache()
    // adding band 2 only adds pairs; 16-plane buckets refine the 4-plane ones
    assert(oneBand.subsetOf(scale), s"adding a band lost pairs: ${(oneBand -- scale).take(5)}")
    assert(oneBand.subsetOf(coarse), s"refining planes invented pairs: ${(oneBand -- coarse).take(5)}")
    assert(scale.nonEmpty, "scale knobs found nothing on sf0.01 (degenerate corpus)")
  }

  test("span coverage: planted shared substring covers the interval union, short docs pass") {
    // d1 and d2 share the 5-token run "p q r s t" → two shared 4-token
    // spans each; their [pos, pos+3] intervals union to exactly 5 tokens
    val docs = Seq(
      (1L, "p q r s t u v w", "en", "s", 0L), // dup spans at pos 0,1 → tokens 0..4
      (2L, "a b c p q r s t", "en", "s", 0L), // dup spans at pos 3,4 → tokens 3..7
      (3L, "k l m n o one two eight", "en", "s", 0L), // no span repeats anywhere
      (4L, "x y z", "en", "s", 0L)) // shorter than SpanK → zero spans
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Dedup.spanCoverageOn(docs)
      .as[(Long, Long, Long, Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    assert(got(0) === ((1L, 8L, 5L, 2L, 5L, 0.625, false)))
    assert(got(1) === ((2L, 8L, 5L, 2L, 5L, 0.625, false)))
    assert(got(2) === ((3L, 8L, 5L, 0L, 0L, 0.0, true)))
    assert(got(3) === ((4L, 3L, 0L, 0L, 0L, 0.0, true)))
  }

  test("span trim removes exactly the covered tokens and keeps the rest in order") {
    val docs = Seq(
      (1L, "p q r s t u v w", "en", "s", 0L), // covered 0..4 → retains "u v w"
      (2L, "a b c p q r s t", "en", "s", 0L), // covered 3..7 → retains "a b c"
      (3L, "k l m n o one two eight", "en", "s", 0L), // untouched
      (4L, "x y z", "en", "s", 0L), // shorter than SpanK → untouched
      (5L, "1 2 3 4 1 2 3 4", "en", "s", 0L)) // internal dup covers ALL positions
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Dedup.spanTrimOn(docs)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(0) === ((1L, 8L, 5L, h("u v w"))))
    assert(got(1) === ((2L, 8L, 5L, h("a b c"))))
    assert(got(2) === ((3L, 8L, 0L, h("k l m n o one two eight"))))
    assert(got(3) === ((4L, 3L, 0L, h("x y z"))))
    // fully-trimmed doc: retained = [] — the one spot the engines' empty
    // string handling diverges (DuckDB array_to_string([]) is NULL); the
    // Spark side must emit md5("")
    assert(got(4) === ((5L, 8L, 8L, h(""))))
  }

  test("dup clusters: pair endpoints share a component, canonical is the min member, sizes add up") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val edges = Dedup.minhashLshOn(docs)
      .filter(col("est_jaccard") >= Dedup.ClusterEstMin)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val rows = Dedup.dupClustersOn(docs)
      .as[(Long, Long, Long, Boolean)].collect()
    spark.catalog.clearCache()
    val cl = rows.map(r => r._1 -> r._2).toMap
    edges.foreach { case (a, b) =>
      assert(cl(a) === cl(b), s"edge ($a,$b) split across clusters ${cl(a)}/${cl(b)}")
    }
    rows.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).min === cid, s"cluster $cid not labeled by its min member")
      assert(members.forall(_._3 === members.length), s"cluster $cid sizes inconsistent")
      assert(members.count(_._4) === 1 && members.find(_._4).get._1 === cid,
        s"cluster $cid canonical flag wrong")
    }
    assert(rows.exists(_._3 > 1), "no multi-doc cluster found (degenerate corpus)")
  }

  test("incremental cluster update: split, merge, add, remove all match the from-scratch manifest") {
    // old snapshot: clique {1,2} (text X), clique {3,4} (text Y),
    // singletons 5/6, untouched clique {8,9} (text W)
    val x = "alpha beta gamma delta epsilon zeta"
    val y = "one two three four five six"
    val w = "red orange yellow green blue indigo"
    val old = Seq(
      (1L, x), (2L, x), (3L, y), (4L, y),
      (5L, "bridge unique words entirely here now"),
      (6L, "another totally unrelated document text"),
      (8L, w), (9L, w)).toDF("doc_id", "text")
    // new snapshot: 3 CHANGED Y→X (splits {3,4}, merges 3 into {1,2}),
    // 6 REMOVED, 7 ADDED with text Y (merges with orphaned 4), {8,9} untouched
    val nw = Seq(
      (1L, x), (2L, x), (3L, x), (4L, y),
      (5L, "bridge unique words entirely here now"),
      (7L, y), (8L, w), (9L, w)).toDF("doc_id", "text")
    val incr = Dedup.dupClustersIncrementalOn(old, nw,
        Dedup.dupClustersOn(old), Dedup.dupEdgesOn(old))
      .orderBy("doc_id").as[(Long, Long, Long, Boolean)].collect().toSeq
    spark.catalog.clearCache()
    val scratch = Dedup.dupClustersOn(nw)
      .orderBy("doc_id").as[(Long, Long, Long, Boolean)].collect().toSeq
    spark.catalog.clearCache()
    assert(incr === scratch)
    // the interesting shapes actually happened
    val cl = scratch.map(r => r._1 -> r._2).toMap
    assert(cl(3L) === cl(1L), "changed doc did not merge into its new clique")
    assert(cl(4L) === cl(7L) && cl(4L) != cl(3L), "split+add shape missing")
    assert(cl(8L) === cl(9L), "untouched clique broken")
  }

  test("warehouse updates CHAIN across snapshots: two deltas, rolled state, equals the from-scratch build") {
    // three daily snapshots with merges, splits, adds and removes in BOTH
    // steps — the production loop where each update's output warehouse
    // (manifest + edges + signatures) is the next update's input; nothing
    // is ever re-signed or re-clustered from scratch after the bootstrap
    val x = "alpha beta gamma delta epsilon zeta"
    val y = "one two three four five six"
    val w = "red orange yellow green blue indigo"
    val s0 = Seq(
      (1L, x), (2L, x), (3L, y), (4L, y),
      (5L, "bridge unique words entirely here now"),
      (8L, w), (9L, w)).toDF("doc_id", "text")
    // step 1: 3 changes y→x (splits {3,4}, merges 3 into {1,2}),
    // 9 removed ({8,9} loses a member), 6 added (unrelated singleton)
    val s1 = Seq(
      (1L, x), (2L, x), (3L, x), (4L, y),
      (5L, "bridge unique words entirely here now"),
      (6L, "another totally unrelated document text"),
      (8L, w)).toDF("doc_id", "text")
    // step 2: 1 removed ({1,2,3} shrinks), 4 changes y→w (merges with 8),
    // 7 added with text y (new singleton of the vacated y-content)
    val s2 = Seq(
      (2L, x), (3L, x), (4L, w),
      (5L, "bridge unique words entirely here now"),
      (6L, "another totally unrelated document text"),
      (7L, y), (8L, w)).toDF("doc_id", "text")
    def ckpt(s: Dedup.DupWarehouse) = Dedup.DupWarehouse(
      s.manifest.localCheckpoint(), s.edges.localCheckpoint(), s.sigs.localCheckpoint())
    // bootstrap warehouse of s0, then roll state through both deltas
    val st0 = ckpt(Dedup.DupWarehouse(
      Dedup.dupClustersOn(s0), Dedup.dupEdgesOn(s0), Dedup.minhashSigsOn(s0)))
    val st1raw = Dedup.dupWarehouseUpdateOn(s0, s1, st0.manifest, st0.edges,
      oldSigs = Some(st0.sigs))
    val st1 = ckpt(st1raw)
    // the consumed old state releases its cached blocks once the next
    // update's outputs are materialized — the chained-loop contract
    st0.release(); st1raw.release()
    val st2raw = Dedup.dupWarehouseUpdateOn(s1, s2, st1.manifest, st1.edges,
      oldSigs = Some(st1.sigs))
    val st2 = ckpt(st2raw)
    st1.release(); st2raw.release()
    spark.catalog.clearCache()
    // the chained manifest equals the from-scratch build of the FINAL snapshot
    val chained = st2.manifest.as[(Long, Long, Long, Boolean)].collect().toSeq.sorted
    val scratch = Dedup.dupClustersOn(s2).as[(Long, Long, Long, Boolean)].collect().toSeq.sorted
    assert(chained === scratch)
    // ... and the ROLLED warehouse tables equal their from-scratch twins,
    // so a third delta would start from exact state
    val edgesChained = st2.edges.as[(Long, Long)].collect().toSet
    val edgesScratch = Dedup.dupEdgesOn(s2).as[(Long, Long)].collect().toSet
    assert(edgesChained === edgesScratch)
    val sigsChained = st2.sigs.collect().map(_.toSeq).toSet
    val sigsScratch = Dedup.minhashSigsOn(s2).collect().map(_.toSeq).toSet
    assert(sigsChained === sigsScratch)
    spark.catalog.clearCache()
    // the interesting shapes happened: 4 merged into the w clique, the x
    // clique survived 1's removal, 7 is a singleton
    val cl = scratch.map(r => r._1 -> r._2).toMap
    assert(cl(4L) === cl(8L), "step-2 change did not merge into the w clique")
    assert(cl(2L) === cl(3L), "x clique broken by the step-2 removal")
    assert(scratch.find(_._1 == 7L).get._3 === 1L, "added doc not a singleton")
  }

  test("incremental cluster update on the registered snapshot slices matches a full rebuild") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val old = graft.ext.Corpus.deltaOldSlice(docs)
    val nw = graft.ext.Corpus.deltaNewSlice(docs)
    val incr = Dedup.dupClustersIncrementalOn(old, nw,
        Dedup.dupClustersOn(old), Dedup.dupEdgesOn(old))
      .orderBy("doc_id").as[(Long, Long, Long, Boolean)].collect().toSeq
    spark.catalog.clearCache()
    // warehouse-signature path (the registered query's shape): unchanged
    // docs reuse stored signatures, only fresh docs get signed — must be
    // row-identical to the sign-everything path
    val incrSigs = Dedup.dupClustersIncrementalOn(old, nw,
        Dedup.dupClustersOn(old), Dedup.dupEdgesOn(old),
        oldSigs = Some(Dedup.minhashSigsOn(old)))
      .orderBy("doc_id").as[(Long, Long, Long, Boolean)].collect().toSeq
    spark.catalog.clearCache()
    val scratch = Dedup.dupClustersOn(nw)
      .orderBy("doc_id").as[(Long, Long, Long, Boolean)].collect().toSeq
    spark.catalog.clearCache()
    assert(incr.nonEmpty && incr === scratch)
    assert(incrSigs === scratch, "warehouse-sigs path diverged from sign-everything path")
  }

  test("semdedup: verdicts are complete, keep-first, cluster-local, and monotone in the threshold") {
    val emb = graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = Dedup.semDedupOn(emb)
      .as[(Long, Long, Option[Long], Boolean)].collect()
    val tight = Dedup.semDedupOn(emb, cosMin = Dedup.SemDedupMin + 0.15)
      .as[(Long, Long, Option[Long], Boolean)].collect()
    spark.catalog.clearCache()
    assert(rows.length === emb.count(), "verdict table must cover every vector")
    val cell = rows.map(r => r._1 -> r._2).toMap
    rows.foreach { case (id, c, dupOf, kept) =>
      assert(kept === dupOf.isEmpty, s"vec $id: is_kept disagrees with dup_of")
      dupOf.foreach { d =>
        assert(d < id, s"vec $id shadowed by a LARGER id $d — keep-first violated")
        assert(cell(d) === c, s"vec $id's shadow $d sits in another cluster")
      }
    }
    // raising the threshold can only rescue vectors, never drop new ones
    val dropped = rows.filter(!_._4).map(_._1).toSet
    val droppedTight = tight.filter(!_._4).map(_._1).toSet
    assert(droppedTight.subsetOf(dropped),
      s"tighter threshold dropped new vectors: ${(droppedTight -- dropped).take(5)}")
  }

  test("semdedup: a planted exact-duplicate vector is dropped in favor of its smaller twin") {
    // ids 0 and 61 seed the quantizer (vec_id % 61 == 0); 5 and 99 are the
    // planted twins — identical embeddings must land in one cell, and the
    // larger id must lose
    val base = (0L to 99L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat), (i % 3).toInt)
    }
    val planted = base.map { case (id, e, l) =>
      if (id == 99L) (id, base(5)._2.clone(), l) else (id, e, l)
    }
    val df = planted.toDF("vec_id", "embedding", "label")
    val rows = Dedup.semDedupOn(df, cfg = Similarity.KmeansCfg(k = 4, dims = 8))
      .as[(Long, Long, Option[Long], Boolean)].collect()
    spark.catalog.clearCache()
    val m = rows.map(r => r._1 -> r).toMap
    assert(m(99L)._2 === m(5L)._2, "identical vectors assigned to different cells")
    // 5 is a cos=1 partner of 99, so 99 must be dropped and its shadow —
    // the SMALLEST qualifying partner — can be at most 5
    assert(!m(99L)._4 && m(99L)._3.exists(_ <= 5L),
      s"planted duplicate 99 not shadowed by an id <= 5: ${m(99L)}")
  }

  test("property: N random snapshot deltas chained through the warehouse update equal the from-scratch build") {
    // The induction step behind the production ingestion loop: the
    // hand-built two-delta chain above pins one trajectory; this property
    // chains THREE random deltas (random add/remove/change mixes over a
    // clique-forming text pool, empty deltas and drained snapshots
    // included) and requires the rolled warehouse — manifest AND edge AND
    // signature tables — to equal the from-scratch build of the final
    // snapshot, so any trajectory of the unbounded loop starts each day
    // from exact state.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val pool = Vector(
      "alpha beta gamma delta epsilon zeta",
      "one two three four five six",
      "red orange yellow green blue indigo",
      "north south east west up down")
    def seqGen[A](gs: List[Gen[A]]): Gen[List[A]] =
      gs.foldRight(Gen.const(List.empty[A]))((g, acc) => for { h <- g; t <- acc } yield h :: t)
    // next snapshot from the current one: per-id remove/change/keep/add
    def stepGen(cur: Map[Long, String]): Gen[Map[Long, String]] =
      seqGen((1L to 9L).toList.map { id =>
        cur.get(id) match {
          case Some(t) => Gen.frequency(
            2 -> Gen.const(id -> Option.empty[String]),
            3 -> Gen.oneOf(pool.filterNot(_ == t)).map(nt => id -> Option(nt)),
            5 -> Gen.const(id -> Option(t)))
          case None => Gen.frequency(
            3 -> Gen.oneOf(pool).map(nt => id -> Option(nt)),
            7 -> Gen.const(id -> Option.empty[String]))
        }
      }).map(_.collect { case (id, Some(t)) => id -> t }.toMap)
    val chainGen = for {
      s0 <- stepGen((1L to 9L).map(_ -> pool.head).toMap)
      s1 <- stepGen(s0)
      s2 <- stepGen(s1)
      s3 <- stepGen(s2)
    } yield List(s0, s1, s2, s3)
    def df(m: Map[Long, String]) =
      m.toSeq.sortBy(_._1).toDF("doc_id", "text")
    def ckpt(s: Dedup.DupWarehouse) = Dedup.DupWarehouse(
      s.manifest.localCheckpoint(), s.edges.localCheckpoint(), s.sigs.localCheckpoint())
    val prop = Prop.forAll(chainGen) { chain =>
      val snaps = chain.map(df)
      var st = ckpt(Dedup.DupWarehouse(
        Dedup.dupClustersOn(snaps.head), Dedup.dupEdgesOn(snaps.head),
        Dedup.minhashSigsOn(snaps.head)))
      for ((prev, next) <- snaps.zip(snaps.tail)) {
        val raw = Dedup.dupWarehouseUpdateOn(prev, next, st.manifest, st.edges,
          oldSigs = Some(st.sigs))
        val rolled = ckpt(raw)
        st.release(); raw.release()
        st = rolled
      }
      val chainedM = st.manifest.as[(Long, Long, Long, Boolean)].collect().toSeq.sorted
      val chainedE = st.edges.as[(Long, Long)].collect().toSet
      val chainedS = st.sigs.collect().map(_.toSeq).toSet
      st.release()
      val last = snaps.last
      val scratchM = Dedup.dupClustersOn(last).as[(Long, Long, Long, Boolean)].collect().toSeq.sorted
      val scratchE = Dedup.dupEdgesOn(last).as[(Long, Long)].collect().toSet
      val scratchS = Dedup.minhashSigsOn(last).collect().map(_.toSeq).toSet
      spark.catalog.clearCache()
      Prop(chainedM == scratchM) :| s"manifest drifted: $chainedM vs $scratchM" &&
        Prop(chainedE == scratchE) :| "edge table drifted" &&
        Prop(chainedS == scratchS) :| "signature table drifted"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(4), prop)
    assert(res.passed, res.status.toString)
  }

  test("day-zero bootstrap: K chunked ingest hops from EMPTY equal the one-shot build") {
    // how 100 TB actually arrives (VERDICT r13 #5): the backfill is not a
    // special code path — it is K all-'added' updates from an empty
    // warehouse, one per corpus slice, landing exactly on the one-shot
    // build of the full corpus (manifest AND edges AND signatures)
    val pool = Vector(
      "alpha beta gamma delta epsilon zeta",
      "one two three four five six",
      "red orange yellow green blue indigo",
      "north south east west up down")
    val full = (1L to 12L).map(id => id -> pool((id % 4).toInt)).toMap
    def df(m: Map[Long, String]) = m.toSeq.sortBy(_._1).toDF("doc_id", "text")
    def ckpt(s: Dedup.DupWarehouse) = Dedup.DupWarehouse(
      s.manifest.localCheckpoint(), s.edges.localCheckpoint(), s.sigs.localCheckpoint())
    val emptyDocs = df(Map.empty)
    var st = ckpt(Dedup.DupWarehouse(
      Dedup.dupClustersOn(emptyDocs), Dedup.dupEdgesOn(emptyDocs),
      Dedup.minhashSigsOn(emptyDocs)))
    var seen = Map.empty[Long, String]
    for (chunk <- full.keys.toSeq.sorted.grouped(4)) { // 3 chunk-deltas
      val nextSeen = seen ++ chunk.map(id => id -> full(id))
      val raw = Dedup.dupWarehouseUpdateOn(df(seen), df(nextSeen),
        st.manifest, st.edges, oldSigs = Some(st.sigs))
      val rolled = ckpt(raw)
      st.release(); raw.release()
      st = rolled
      seen = nextSeen
    }
    val chainedM = st.manifest.as[(Long, Long, Long, Boolean)].collect().toSeq.sorted
    val chainedE = st.edges.as[(Long, Long)].collect().toSet
    val chainedS = st.sigs.collect().map(_.toSeq).toSet
    st.release()
    val last = df(full)
    assert(chainedM === Dedup.dupClustersOn(last).as[(Long, Long, Long, Boolean)].collect().toSeq.sorted,
      "chunked bootstrap manifest diverged from the one-shot build")
    assert(chainedE === Dedup.dupEdgesOn(last).as[(Long, Long)].collect().toSet,
      "chunked bootstrap edge table diverged")
    assert(chainedS === Dedup.minhashSigsOn(last).collect().map(_.toSeq).toSet,
      "chunked bootstrap signature table diverged")
    assert(chainedE.nonEmpty, "toy corpus formed no edges — the equality was vacuous")
    spark.catalog.clearCache()
  }

  test("rolled series: hop 2 churns every delta class and the chained manifest equals the from-scratch closure") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.ops.Tables.documents(spark, dir)
    val s1 = Corpus.deltaNewSlice(docs)
    val s2 = Dedup.rolledFinalSlice(docs)
    // hop 2 genuinely exercises every class from ROLLED state: re-added
    // (hop 1's removed class), removed (RolledRemoved2), changed
    // (RolledChanged2's [rev3]) and carried-unchanged (incl. the class
    // whose [rev2] both snapshots share)
    val statuses = Corpus.snapshotDeltaOn(s1, s2)
      .select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses === Set("added", "removed", "changed", "unchanged"))
    // the registered chained output equals a from-scratch cluster build of
    // the final snapshot (the same equality the DuckDB oracle re-proves)
    val got = Dedup.dupClustersRolled(spark, dir).orderBy("doc_id").collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    val want = Dedup.dupClustersOn(s2).orderBy("doc_id").collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    assert(got.nonEmpty && got === want)
  }

  test("minhash universal-hash constants stay positive under the prime") {
    assert(Dedup.hashA.forall(a => a > 0 && a < Dedup.P))
    assert(Dedup.hashB.forall(b => b >= 0 && b < Dedup.P))
    // (a*h+b) with h < 2^28 must not overflow Long
    val maxH = (1L << 28) - 1
    assert(Dedup.hashA.forall(a => a <= Long.MaxValue / maxH))
  }

  test("ngram novelty: copies score 0, unique docs score 1, tokenless docs default to 1") {
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val d = Seq(
      (1L, shared, "en", "s"),
      (2L, shared, "en", "s"),                          // exact copy: zero unique shingles
      (3L, (1 to 10).map(i => s"u$i").mkString(" "), "en", "s"), // all-unique shingles
      (4L, "hi", "en", "s"),                            // no shingles at all
    ).toDF("doc_id", "text", "lang", "source")
    val got = Dedup.ngramNoveltyOn(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) === ((8L, 0L, 0.0)), "copied doc shares every shingle")
    assert(got(2L) === ((8L, 0L, 0.0)))
    assert(got(3L) === ((8L, 8L, 1.0)), "singleton doc is fully novel")
    assert(got(4L) === ((0L, 0L, 1.0)), "shingle-less doc defaults to novelty 1")
  }

  test("cluster stats report is exactly the manifest's size histogram") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val manifest = Dedup.dupClustersOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    spark.catalog.clearCache()
    val stats = Dedup.clusterStatsOn(docs).orderBy("cluster_size").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    spark.catalog.clearCache()
    val expected = manifest.filter(_._4).groupBy(_._3).toSeq.sortBy(_._1)
      .map { case (size, rows) =>
        (size, rows.length.toLong, size * rows.length, (size - 1) * rows.length) }
    assert(stats.toSeq === expected)
    assert(stats.map(_._3).sum === docs.count(), "histogram covers every document")
  }

  test("keep-best dedup keeps the max-quality member of every cluster, one row per cluster") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.ops.Tables.documents(spark, dir)
    val manifest = Dedup.dupClustersOn(docs)
    val scores = Text.textStatsOn(docs)
      .select(col("doc_id"), col("quality_score")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val members = manifest.select("cluster_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    spark.catalog.clearCache()
    val kept = Dedup.keepBestOn(docs, Dedup.dupClustersOn(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
    spark.catalog.clearCache()
    assert(kept.length === members.size, "one survivor per cluster")
    kept.foreach { case (cid, keep, score, size, removed) =>
      val cluster = members(cid)
      assert(cluster.contains(keep), s"survivor $keep not in cluster $cid")
      // survivor = max score, min doc_id on ties — recomputed independently
      val best = cluster.map(d => (scores(d), -d)).max
      assert((scores(keep), -keep) === best, s"cluster $cid kept $keep, expected ${-best._2}")
      assert(score === scores(keep))
      assert(size === cluster.length.toLong && removed === size - 1)
    }
  }

  test("fuzzy decontamination flags verbatim and lightly edited eval copies, keeps clean docs") {
    val longText = (1 to 30).map(i => s"w$i").mkString(" ")
    val edited = ((1 to 29).map(i => s"w$i") :+ "CHANGED").mkString(" ")
    val train = Seq(
      (1L, longText, "en", "web"),  // verbatim leak
      (2L, edited, "en", "web"),    // lightly edited leak (1 of 30 tokens changed)
      (3L, "one two three four five six seven", "en", "book"), // clean
    ).toDF("doc_id", "text", "lang", "source")
    val evalSuite = Seq((100L, longText, "en", "eval")).toDF("doc_id", "text", "lang", "source")
    val out = Dedup.fuzzyDecontaminateAgainstOn(train, evalSuite).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    spark.catalog.clearCache()
    assert(out(1L) === ((1L, 1.0, false)), "verbatim copy must flag with est_jaccard 1.0")
    assert(out(2L)._2 >= Dedup.FuzzyContamMin && !out(2L)._3,
      s"edited copy (true J = 25/31) must still flag: ${out(2L)}")
    assert(out(2L)._2 < 1.0, "edited copy is not a full signature match")
    assert(out(3L) === ((0L, 0.0, true)), "clean doc must be kept")
  }

  test("fuzzy decontamination slice form never judges benchmark docs; manifest covers all train docs") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Dedup.fuzzyDecontaminateOn(docs)
    spark.catalog.clearCache()
    assert(out.filter(pmod(col("doc_id"), lit(10)) === lit(Corpus.BenchSlice)).count() === 0)
    assert(out.count() ===
      docs.filter(pmod(col("doc_id"), lit(10)) =!= lit(Corpus.BenchSlice)).count(),
      "every non-benchmark doc gets a manifest row")
  }

  test("threshold curve partitions the candidate set and cumulates monotonically") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val curve = Dedup.thresholdCurveOn(docs).orderBy(col("est_jaccard").desc)
      .as[(Double, Long, Long)].collect().toSeq
    val cand = Dedup.minhashLshOn(docs)
      .as[(Long, Long, Double)].collect().toSeq
    spark.catalog.clearCache()
    assert(curve.nonEmpty)
    // per-level counts recompute from the candidate set; total preserved
    val byLevel = cand.groupBy(r => graft.ops.Num.r6Double(r._3)).view.mapValues(_.size.toLong)
    curve.foreach { case (est, n, _) => assert(byLevel(est) === n, s"level $est") }
    assert(curve.map(_._2).sum === cand.size.toLong)
    // descending est order, cumulative = running sum, last = total
    assert(curve.map(_._1) === curve.map(_._1).sorted.reverse)
    assert(curve.map(_._2).scanLeft(0L)(_ + _).tail === curve.map(_._3))
  }

  test("gate patterns sum to the funnel universe and kept matches the conjunction") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val pats = graft.ext.Curation.gatePatternsOn(docs)
      .as[(Boolean, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean, Long, Double)]
      .collect().toSeq
    val funnelRows = graft.ext.Curation.curationFunnel(spark, "/root/testdata/sf0.001").count()
    spark.catalog.clearCache()
    assert(pats.nonEmpty && pats.size <= 64)
    assert(pats.map(_._8).sum === funnelRows)
    pats.foreach { case (q, r, f, g, d, c, kept, _, _) =>
      assert(kept === (q && r && f && g && d && c), s"kept bit wrong for ($q,$r,$f,$g,$d,$c)")
    }
    assert(math.abs(pats.map(_._9).sum - 1.0) < 1e-4, "shares must sum to ~1")
  }

  test("LSH recall monitor recomputes exactly from its two source queries") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val (nTrue, nCand, nHit, recall) = Dedup.lshRecallOn(docs)
      .as[(Long, Long, Long, Double)].head()
    val truth = Dedup.ngramJaccardOn(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val cand = Dedup.minhashCandidates(
        Dedup.minhashSigsOn(docs, Dedup.NumHashes), Dedup.NumHashes, Dedup.NumBands)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(nTrue === truth.size.toLong)
    assert(nCand === cand.size.toLong)
    assert(nHit === (truth intersect cand).size.toLong)
    assert(nHit <= math.min(nTrue, nCand))
    val want = if (truth.isEmpty) 0.0
      else graft.ops.Num.r6Double(nHit.toDouble / nTrue)
    assert(recall === want)
    assert(recall >= 0.0 && recall <= 1.0)
  }

  test("cc property: a diameter-n chain converges in O(log n) rounds to the exact min-label result") {
    // the chain i—(i+1) is the worst case for label propagation (one
    // component, diameter n); pointer jumping must close it in ~log₂(n)
    // rounds, not n — the property behind the loop's no-iteration-cap
    // exactness claim
    for (n <- Seq(64L, 512L)) {
      val ids = spark.range(n).select(col("id").as("doc_id"))
      val pairs = spark.range(n - 1)
        .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
      val out = Dedup.propagateComponents(ids, pairs)
        .select("doc_id", "cluster_id", "cluster_size", "is_canonical").collect()
      assert(out.length == n)
      assert(out.forall(r => r.getLong(1) == 0L && r.getLong(2) == n),
        s"n=$n: not one min-labeled component")
      assert(out.count(_.getBoolean(3)) == 1)
      val rounds = Dedup.lastPropagationRounds.get()
      val log2n = 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
      assert(rounds <= 2 * log2n + 2,
        s"n=$n: $rounds rounds exceeds the O(log n) bound ${2 * log2n + 2}")
    }
    spark.catalog.clearCache()
  }
}
