package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.map { case (id, text, src) => (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("fromDocuments builds binary payloads with a deterministic media type") {
    val m = Multimodal.fromDocuments(docs((1L, "héllo", "web"), (2L, "héllo", "web")))
      .collect().sortBy(_.doc_id)
    assert(m(0).payload.toSeq === "héllo".getBytes("UTF-8").toSeq)
    assert(m(0).media_type === m(1).media_type) // same source → same type
    assert(Set("image", "audio", "video").contains(m(0).media_type))
  }

  test("stub decode is deterministic and batch-shaped") {
    val payload = Array.tabulate(10000)(i => (i % 251).toByte)
    val a = Multimodal.StubCodec.decode(payload, "video")
    val b = Multimodal.StubCodec.decode(payload, "video")
    assert(a._1 === b._1 && a._4.toSeq === b._4.toSeq)
    assert(a._3 === 1 + 10000 / Multimodal.ChunkBytes) // video frame count
    assert(Multimodal.StubCodec.decode(payload, "image")._3 === 1)
    assert(a._4.length === 8)
  }

  test("decodeFeatures runs distributed and preserves every record") {
    val media = Multimodal.fromDocuments(docs(
      (1L, "short", "a"), (2L, "x" * 5000, "b"), (3L, "", "c")))
    val feats = Multimodal.decodeFeatures(media).collect().sortBy(_.doc_id)
    assert(feats.map(_.doc_id).toSeq === Seq(1L, 2L, 3L))
    assert(feats.forall(_.feature.length === 8))
    assert(feats(2).feature.toSeq === Seq.fill(8)(0f)) // empty payload
  }

  test("sampleFrames keeps every FrameStride-th chunk with exact byte counts") {
    val text = "y" * (Multimodal.ChunkBytes * 9 + 100) // 10 chunks → frames 0,4,8
    val media = Multimodal.fromDocuments(docs((7L, text, "s")))
    val frames = Multimodal.sampleFrames(media).collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq === Seq(0, 4, 8))
    assert(frames.map(_.n_bytes).toSeq === Seq(Multimodal.ChunkBytes, Multimodal.ChunkBytes, Multimodal.ChunkBytes))
    assert(frames.map(_.checksum).distinct.length === 1) // identical bytes → same hash
  }

  test("resize mean-pools features to the target dim") {
    val media = Multimodal.fromDocuments(docs((1L, "some text payload here", "a")))
    val feats = Multimodal.decodeFeatures(media)
    val resized = Multimodal.resize(feats, 4).head()
    val orig = feats.head().feature
    assert(resized.feature.length === 4)
    assert(math.abs(resized.feature(0) - (orig(0) + orig(1)) / 2) < 1e-5)
  }

  test("mediaMeta chunk counts match the frame chunking") {
    val df = Multimodal.mediaMeta(spark, "/root/testdata/sf0.001")
    val bad = df.filter(col("n_chunks") =!= ceil(col("n_bytes") / lit(Multimodal.ChunkBytes.toDouble)).cast("long"))
    assert(bad.count() === 0)
    assert(df.count() > 0)
  }

  test("property: phash is invariant under uniform brightness shift (no overflow)") {
    // winSum·n > total·winCnt is unchanged by payload[j] += c for all j:
    // both sides gain c·winCnt·n — the aHash property that makes the hash
    // perceptual (global exposure changes don't move images across groups)
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = for {
      bytes <- Gen.nonEmptyListOf(Gen.choose(0, 127))
      shift <- Gen.choose(0, 100)
    } yield (bytes, shift)
    val prop = Prop.forAll(gen) { case (bytes, shift) =>
      val a = bytes.map(_.toByte).toArray
      val b = bytes.map(v => (v + shift).toByte).toArray
      Multimodal.phash(a) == Multimodal.phash(b)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("dct basis: AC rows sum to exactly zero in Q14 (the brightness-invariance precondition)") {
    // a nonzero rounded row sum would leak brightness shifts into AC
    // coefficients; this pins the constants both engines splice
    (1 until 8).foreach(k => assert(Multimodal.DctBasis(k).sum === 0L, s"row $k"))
    assert(Multimodal.DctBasis(0).forall(_ === 16384L))
    assert(Multimodal.DctBasis(1)(0) === 16069L && Multimodal.DctBasis(4)(0) === 11585L)
  }

  test("property: dct hash moves at most the DC bit under uniform brightness shift") {
    // pixels shift by exactly c (floor((s + c·cnt)/cnt) = floor(s/cnt) + c),
    // AC basis rows sum to 0, so only coefficient (0,0) — bit 0 — can move.
    // Needs n ≥ 64 so every pixel window is non-empty (a real decoder
    // always emits a full grid; shorter payloads leave zero pixels that a
    // brightness shift cannot reach)
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = for {
      n <- Gen.choose(64, 512)
      bytes <- Gen.listOfN(n, Gen.choose(0, 127))
      shift <- Gen.choose(0, 100)
    } yield (bytes, shift)
    val prop = Prop.forAll(gen) { case (bytes, shift) =>
      val a = bytes.map(_.toByte).toArray
      val b = bytes.map(v => (v + shift).toByte).toArray
      ((Multimodal.dctHash(a) ^ Multimodal.dctHash(b)) & ~1L) == 0L
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: dct hash is exactly invariant under contrast scaling of the pixel grid") {
    // pix → k·pix scales every coefficient and the AC sum by k > 0, so
    // every cross-multiplied compare is preserved bit for bit
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = for {
      pix <- Gen.listOfN(64, Gen.choose(0L, 255L))
      k <- Gen.choose(2L, 16L)
    } yield (pix, k)
    val prop = Prop.forAll(gen) { case (pix, k) =>
      Multimodal.dctHash64(pix.toArray) == Multimodal.dctHash64(pix.map(_ * k).toArray)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: dct hash is exactly invariant under byte-duplication resizes (aligned lengths)") {
    // payload of length 64·m with each byte repeated d times: windows map
    // d-for-1, floor-means are unchanged, the pixel grid is identical
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = for {
      m <- Gen.choose(1, 4)
      bytes <- Gen.listOfN(64 * m, Gen.choose(0, 255))
      d <- Gen.choose(2, 4)
    } yield (bytes, d)
    val prop = Prop.forAll(gen) { case (bytes, d) =>
      val a = bytes.map(_.toByte).toArray
      val b = bytes.flatMap(v => List.fill(d)(v.toByte)).toArray
      Multimodal.dctHash(a) == Multimodal.dctHash(b)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, res.status.toString)
  }

  test("dct hash: identical payloads collide, a local edit diverges, empty is 0") {
    val a = "the quick brown fox jumps over the lazy dog repeatedly and often".getBytes("UTF-8")
    assert(Multimodal.dctHash(a) === Multimodal.dctHash(a.clone()))
    val b = a.clone()
    (0 until 8).foreach(i => b(i) = 'z'.toByte)
    assert(Multimodal.dctHash(a) !== Multimodal.dctHash(b))
    assert(Multimodal.dctHash(Array.emptyByteArray) === 0L)
  }

  test("media decontamination: an eval-payload copy in the train slice is flagged, clean docs keep") {
    val bs = graft.ext.Corpus.BenchSlice
    val evalId = bs.toLong            // doc_id % 10 == BenchSlice → eval slice
    val evalId2 = bs.toLong + 10L
    val benchText = "benchmark item: translate the following sentence into french please"
    val d = docs(
      (1L, benchText, "web"),                                     // train: EXACT eval copy
      (2L, "an ordinary training document about spark shuffles", "web"),
      (3L, "another clean training document about partitions", "web"),
      (evalId, benchText, "bench"),
      (evalId2, "a second benchmark item nothing in train matches", "bench"))
    val out = Multimodal.mediaDecontaminateOn(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // manifest covers EXACTLY the train slice
    assert(out.keySet === Set(1L, 2L, 3L), s"manifest rows: ${out.keySet}")
    // the payload copy is contaminated at hamming 0 (identical DCT hash)
    assert(out(1L) === ((1L, 0L, false)), s"copy not flagged: ${out(1L)}")
    // clean docs keep with the no-candidate sentinel
    assert(out(2L) === ((0L, 64L, true)) && out(3L) === ((0L, 64L, true)),
      s"clean docs flagged: ${out(2L)} ${out(3L)}")
  }

  test("mm split safe: a brightness-shifted near-dup is pulled into its canonical's split") {
    import graft.ext.Corpus
    // +1 on every payload byte is a constant brightness shift: the DCT
    // hash is invariant (AC rows sum to zero in Q14) so the pair is a
    // hamming-0 near-dup — but the CONTENT hash changes, so the per-doc
    // split rule can put the twins on opposite sides of the boundary.
    // That is exactly the leak mm_split_leakage counts and this repairs.
    def shift(s: String): String = s.map(c => (c + 1).toChar)
    val cands = (0 until 60).map(i => s"spark media near dup payload variant word$i tail tokens")
    val shifted = cands.map(shift)
    val sp = (cands ++ shifted).toDF("text")
      .select(Corpus.splitAssign.as("s")).as[String].collect()
    val pick = (0 until 60).find { i =>
      sp(i) != sp(60 + i) &&
        Multimodal.dctHash(cands(i).getBytes("UTF-8")) ==
          Multimodal.dctHash(shifted(i).getBytes("UTF-8"))
    }
    assert(pick.isDefined, "vacuous: no shifted twin crossed the split boundary in 60 tries")
    val i = pick.get
    val d = docs((1L, cands(i), "s1"), (2L, shifted(i), "s1"),
      (3L, "an unrelated clean media document entirely", "s3"))
    val out = Multimodal.mmSplitSafeOn(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getBoolean(3)))).toMap
    // the twins form one cluster under canonical 1 and share ITS split
    assert(out(1L)._1 === 1L && out(2L)._1 === 1L, s"twins did not cluster: $out")
    assert(out(1L)._2 === sp(i) && out(2L)._2 === sp(i), s"cluster split is not the canonical's: $out")
    // only the non-canonical twin moved; the clean singleton kept its own
    assert(!out(1L)._3 && out(2L)._3, s"moved flags wrong: $out")
    assert(!out(3L)._3)
  }

  test("phash: identical payloads collide, a shifted-brightness payload diverges, empty is 0") {
    // all-ASCII text whose byte windows have distinct means
    val a = "aaaa bbbb cccc dddd eeee ffff gggg zzzz".getBytes("UTF-8")
    assert(Multimodal.phash(a) === Multimodal.phash(a.clone()))
    // brightening ONE window (raising its bytes) must flip at least its bit
    val b = a.clone()
    (0 until 5).foreach(i => b(i) = 'z'.toByte)
    assert(Multimodal.phash(a) !== Multimodal.phash(b))
    assert(Multimodal.phash(Array.emptyByteArray) === 0)
    // hash is within 8 bits
    assert((Multimodal.phash(a) & ~0xff) === 0)
  }

  test("align filter: aligned pair scores cosine 1 and keeps, anti-aligned scores -1 and drops") {
    val d = docs((1L, "spark window merge table column", "web"),
      (2L, "spark window merge table column", "web"),
      (3L, "", "web")) // tokenless caption → zero vector → cos 0.0
    // build the media-side embeddings FROM the caption tower itself:
    // doc 1 gets its own caption vector (perfect alignment), doc 2 gets
    // the negated vector (perfect anti-alignment), doc 3 anything
    val caps = Multimodal.captionEmbeddings(d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](2).map(_.toFloat).toArray).toMap
    val emb = Seq(
      (1L, caps(1L), "l0"),
      (2L, caps(2L).map(-_), "l0"),
      (3L, Array.fill(Multimodal.AlignDim)(1.0f), "l0"))
      .toDF("vec_id", "embedding", "label")
    val out = Multimodal.alignFilterOn(d, emb)
      .select("doc_id", "align_cos", "keep")
      .as[(Long, Double, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) === ((1.0, true)), s"aligned pair: ${out(1L)}")
    assert(out(2L) === ((-1.0, false)), s"anti-aligned pair: ${out(2L)}")
    assert(out(3L) === ((0.0, false)), s"degenerate caption: ${out(3L)}")
  }

  test("hamming curve: cumulative mass is monotone and the DctHamMax cut equals the dedup row count") {
    val dir = "/root/testdata/sf0.001"
    val rows = Multimodal.hammingCurve(spark, dir).orderBy("hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.map(_._1).toSeq === (0L to Multimodal.HcLevels.toLong))
    rows.foreach { case (h, _, _, comp) => assert(comp === (h < Multimodal.DctBands)) }
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 === a._3 + b._2, "cumulative column broke")
    }
    // reading the curve at the registered cut reproduces the dedup count
    val atCut = rows.find(_._1 == Multimodal.DctHamMax.toLong).get._3
    assert(atCut === Multimodal.dctDedup(spark, dir).count(),
      "curve at DctHamMax diverges from mm_dct_dedup")
  }

  // ------------------------------------- media dedup warehouse maintenance
  // Texts chosen so the toy corpus genuinely forms near-dup pairs:
  // identical payloads hash identically (hamming 0), and a few distinct
  // payloads sit at various distances.
  private val mediaPool = Vector(
    "alpha beta gamma delta epsilon zeta eta theta",
    "one two three four five six seven eight nine ten",
    "red orange yellow green blue indigo violet",
    "north south east west up down left right")

  private def snapDf(m: Map[Long, String]) =
    m.toSeq.sortBy(_._1).map { case (id, t) => (id, t, s"s$id") }
      .toDF("doc_id", "text", "source")

  private def scratchHashes(d: org.apache.spark.sql.DataFrame) =
    Multimodal.dctHashOn(Multimodal.fromDocuments(d)).toDF()

  private def scratchPairs(d: org.apache.spark.sql.DataFrame) =
    Multimodal.dctBandPairsOn(d)
      .filter(col("hamming") <= lit(Multimodal.DctHamMax.toLong))

  private def collectWh(w: Multimodal.MediaWarehouse) = (
    w.hashes.as[(Long, String, Long)].collect().toSet,
    w.pairs.as[(Long, Long, Long)].collect().toSet)

  test("media warehouse: one update hop over every delta class equals the from-scratch build") {
    val old = snapDf(Map(
      1L -> mediaPool(0), 2L -> mediaPool(0), 3L -> mediaPool(1),
      4L -> mediaPool(2), 5L -> mediaPool(3)))
    // 2 changed (joins 3's group), 4 removed, 6+7 added as a fresh pair
    val nw = snapDf(Map(
      1L -> mediaPool(0), 2L -> mediaPool(1), 3L -> mediaPool(1),
      5L -> mediaPool(3), 6L -> mediaPool(2), 7L -> mediaPool(2)))
    val st = Multimodal.mediaWarehouseUpdateOn(old, nw,
      scratchHashes(old), scratchPairs(old))
    val (h, p) = collectWh(st)
    assert(h === scratchHashes(nw).as[(Long, String, Long)].collect().toSet,
      "hash index drifted from the from-scratch build")
    assert(p === scratchPairs(nw).as[(Long, Long, Long)].collect().toSet,
      "pair table drifted from the from-scratch build")
    assert(p.exists { case (a, b, _) => a == 6L && b == 7L }, "added pair missing")
    assert(!p.exists { case (a, b, _) => a == 4L || b == 4L }, "removed doc still paired")
  }

  test("media warehouse: no-churn update is a fixpoint and decodes nothing") {
    val s = snapDf(Map(1L -> mediaPool(0), 2L -> mediaPool(0), 3L -> mediaPool(1)))
    val hashes = scratchHashes(s).localCheckpoint()
    val pairs = scratchPairs(s).localCheckpoint()
    val st = Multimodal.mediaWarehouseUpdateOn(s, s, hashes, pairs)
    assert(collectWh(st) === ((
      hashes.as[(Long, String, Long)].collect().toSet,
      pairs.as[(Long, Long, Long)].collect().toSet)))
    // the fresh slice of a no-churn delta is empty — nothing re-decoded
    assert(Multimodal.mediaDeltaOn(s, s)
      .filter(col("status") =!= lit("unchanged")).count() === 0)
  }

  test("property: N random media deltas chained through the warehouse update equal the from-scratch build") {
    // the multimodal rung of the ladder's induction step (VERDICT r14 #2):
    // random add/remove/change mixes, empty deltas and drained snapshots
    // included — the rolled warehouse (hash index AND pair table AND
    // cluster manifest) must land on the from-scratch build of the final
    // snapshot
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def seqGen[A](gs: List[Gen[A]]): Gen[List[A]] =
      gs.foldRight(Gen.const(List.empty[A]))((g, acc) => for { h <- g; t <- acc } yield h :: t)
    def stepGen(cur: Map[Long, String]): Gen[Map[Long, String]] =
      seqGen((1L to 9L).toList.map { id =>
        cur.get(id) match {
          case Some(t) => Gen.frequency(
            2 -> Gen.const(id -> Option.empty[String]),
            3 -> Gen.oneOf(mediaPool.filterNot(_ == t)).map(nt => id -> Option(nt)),
            5 -> Gen.const(id -> Option(t)))
          case None => Gen.frequency(
            3 -> Gen.oneOf(mediaPool).map(nt => id -> Option(nt)),
            7 -> Gen.const(id -> Option.empty[String]))
        }
      }).map(_.collect { case (id, Some(t)) => id -> t }.toMap)
    val chainGen = for {
      s0 <- stepGen((1L to 9L).map(_ -> mediaPool.head).toMap)
      s1 <- stepGen(s0)
      s2 <- stepGen(s1)
      s3 <- stepGen(s2)
    } yield List(s0, s1, s2, s3)
    def ckpt(w: Multimodal.MediaWarehouse) = Multimodal.MediaWarehouse(
      w.hashes.localCheckpoint(), w.pairs.localCheckpoint())
    val prop = Prop.forAll(chainGen) { chain =>
      val snaps = chain.map(snapDf)
      var st = ckpt(Multimodal.MediaWarehouse(
        scratchHashes(snaps.head), scratchPairs(snaps.head)))
      var manifest = Multimodal.mediaDupClustersOn(snaps.head).localCheckpoint()
      for ((prev, next) <- snaps.zip(snaps.tail)) {
        val (raw, m) = Multimodal.mediaClustersUpdateOn(
          prev, next, st.hashes, st.pairs, manifest)
        val rolled = ckpt(raw)
        val mRolled = m.localCheckpoint()
        st.release(); raw.release(); manifest.unpersist()
        st = rolled
        manifest = mRolled
      }
      val (h, p) = collectWh(st)
      val m = manifest.as[(Long, Long, Long, Boolean)].collect().toSeq.sorted
      st.release()
      val last = snaps.last
      val okH = h == scratchHashes(last).as[(Long, String, Long)].collect().toSet
      val okP = p == scratchPairs(last).as[(Long, Long, Long)].collect().toSet
      val okM = m == Multimodal.mediaDupClustersOn(last)
        .as[(Long, Long, Long, Boolean)].collect().toSeq.sorted
      spark.catalog.clearCache()
      Prop(okH) :| "hash index drifted" && Prop(okP) :| "pair table drifted" &&
        Prop(okM) :| "cluster manifest drifted"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(4), prop)
    assert(res.passed, res.status.toString)
  }

  test("day-zero bootstrap: K chunked ingest hops from EMPTY equal the one-shot build") {
    // how 100 TB actually arrives (VERDICT r13 #5): the day-zero backfill
    // is not a special bootstrap code path — it is K updates from an empty
    // warehouse, one per corpus slice, landing exactly on the one-shot
    // build of the full corpus
    val full = (1L to 12L).map(id => id -> mediaPool((id % 4).toInt)).toMap
    val chunks = full.keys.toSeq.sorted.grouped(4).toSeq // 3 chunk-deltas
    val emptyDocs = snapDf(Map.empty)
    var st = Multimodal.MediaWarehouse(
      scratchHashes(emptyDocs).localCheckpoint(),
      scratchPairs(emptyDocs).localCheckpoint())
    var seen = Map.empty[Long, String]
    for (chunk <- chunks) {
      val nextSeen = seen ++ chunk.map(id => id -> full(id))
      val raw = Multimodal.mediaWarehouseUpdateOn(
        snapDf(seen), snapDf(nextSeen), st.hashes, st.pairs)
      val rolled = Multimodal.MediaWarehouse(
        raw.hashes.localCheckpoint(), raw.pairs.localCheckpoint())
      st.release(); raw.release()
      st = rolled
      seen = nextSeen
    }
    val (h, p) = collectWh(st)
    st.release()
    assert(h === scratchHashes(snapDf(full)).as[(Long, String, Long)].collect().toSet,
      "chunked bootstrap hash index diverged from the one-shot build")
    assert(p === scratchPairs(snapDf(full)).as[(Long, Long, Long)].collect().toSet,
      "chunked bootstrap pair table diverged from the one-shot build")
    assert(p.nonEmpty, "toy corpus formed no pairs — the equality was vacuous")
  }

  test("streamed-ingest seam: precomputedFreshHashes is honored and coverage-checked") {
    val old = snapDf(Map(1L -> mediaPool(0), 2L -> mediaPool(1)))
    val nw = snapDf(Map(1L -> mediaPool(0), 2L -> mediaPool(2), 3L -> mediaPool(1)))
    val freshDocs = snapDf(Map(2L -> mediaPool(2), 3L -> mediaPool(1)))
    // stream-time hashes spliced in: result identical to self-derivation
    val viaSeam = collectWh(Multimodal.mediaWarehouseUpdateOn(old, nw,
      scratchHashes(old), scratchPairs(old),
      precomputedFreshHashes = Some(scratchHashes(freshDocs))))
    val selfDerived = collectWh(Multimodal.mediaWarehouseUpdateOn(old, nw,
      scratchHashes(old), scratchPairs(old)))
    assert(viaSeam === selfDerived)
    // under-coverage (missing doc 3) and over-coverage (stray doc 9)
    // both fail fast instead of silently corrupting the index
    intercept[IllegalArgumentException] {
      Multimodal.mediaWarehouseUpdateOn(old, nw,
        scratchHashes(old), scratchPairs(old),
        precomputedFreshHashes =
          Some(scratchHashes(snapDf(Map(2L -> mediaPool(2)))))).pairs.count()
    }
    intercept[IllegalArgumentException] {
      Multimodal.mediaWarehouseUpdateOn(old, nw,
        scratchHashes(old), scratchPairs(old),
        precomputedFreshHashes = Some(scratchHashes(
          snapDf(Map(2L -> mediaPool(2), 3L -> mediaPool(1), 9L -> mediaPool(3)))))).pairs.count()
    }
  }

  test("media clusters: CC over the pair relation partitions docs; keep-best elects the largest payload") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.ops.Tables.documents(spark, dir)
    val clusters = Multimodal.mediaDupClusters(spark, dir)
      .as[(Long, Long, Long, Boolean)].collect()
    val byDoc = clusters.map(c => c._1 -> c._2).toMap
    // every doc appears exactly once
    assert(clusters.length === docs.count())
    assert(clusters.map(_._1).distinct.length === clusters.length)
    // every qualifying pair's endpoints share a cluster (CC soundness)
    val pairs = Multimodal.dctDedup(spark, dir).as[(Long, Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, _) =>
      assert(byDoc(a) === byDoc(b), s"paired docs $a,$b in different clusters") }
    // cluster_id is the member minimum; sizes count members
    clusters.groupBy(_._2).foreach { case (cid, ms) =>
      assert(cid === ms.map(_._1).min, s"cluster $cid is not its min member")
      assert(ms.forall(_._3 === ms.length.toLong), s"cluster $cid size drifted")
    }
    // keep-best: one row per multi-cluster, electing max payload bytes
    // (min doc_id on ties), n_removed = size - 1
    val bytes = Multimodal.mediaMetaOn(docs).select("doc_id", "n_bytes")
      .as[(Long, Long)].collect().toMap
    val kb = Multimodal.mediaKeepBest(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect()
    val multi = clusters.groupBy(_._2).filter(_._2.length > 1)
    assert(kb.length === multi.size && kb.nonEmpty)
    kb.foreach { case (cid, keep, kBytes, size, removed) =>
      val members = multi(cid).map(_._1)
      val best = members.maxBy(d => (bytes(d), -d))
      assert(keep === best, s"cluster $cid elected $keep, expected $best")
      assert(kBytes === bytes(best) && size === members.length.toLong && removed === size - 1)
    }
  }

  test("media manifest update: fresh captions re-score, carried verdicts survive, composition equals from-scratch") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.ops.Tables.documents(spark, dir)
    val emb = graft.ops.Tables.embeddings(spark, dir)
    val old = graft.ext.Corpus.deltaOldSlice(docs)
    val nw = graft.ext.Corpus.deltaNewSlice(docs)
    val afOld = Multimodal.alignFilterOn(old, emb).localCheckpoint()
    val w = Multimodal.mediaManifestUpdateOn(old, nw,
      scratchHashes(old).localCheckpoint(),
      scratchPairs(old).localCheckpoint(),
      Multimodal.mediaDupClustersOn(old).localCheckpoint(),
      afOld,
      Multimodal.mmDocLocalOn(old).localCheckpoint(),
      emb)
    val got = w.manifest.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val want = Multimodal.mmPipelineManifestOn(nw, emb).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got === want,
      "updated composed manifest drifted from the from-scratch composition")
    // the changed class genuinely re-scored: its caption text moved, so at
    // least one changed doc's alignment cosine differs from its old value
    val changed = Multimodal.mediaDeltaOn(old, nw)
      .filter(col("status") === "changed").select("doc_id")
      .as[Long].collect().toSet
    assert(changed.nonEmpty)
    val oldCos = afOld.select("doc_id", "align_cos").as[(Long, Double)].collect().toMap
    val newCos = w.af.select("doc_id", "align_cos").as[(Long, Double)].collect().toMap
    assert(changed.exists(id => oldCos.get(id) != newCos.get(id)),
      "no changed doc moved its alignment cosine — the re-score was vacuous")
    // carried (unchanged, still-present) docs kept their verdicts
    // bit-identically; removed docs' rows are gone from the state
    val removed = Multimodal.mediaDeltaOn(old, nw)
      .filter(col("status") === "removed").select("doc_id")
      .as[Long].collect().toSet
    val carried = oldCos.keySet -- changed -- removed
    assert(carried.nonEmpty && carried.forall(id =>
      newCos.get(id).contains(oldCos(id))), "a carried verdict drifted")
    assert(removed.forall(id => !newCos.contains(id)), "a removed doc's verdict survived")
    w.release()
    spark.catalog.clearCache()
  }

  test("property: N random deltas chained through the MANIFEST warehouse equal the from-scratch composition") {
    // the composed-manifest completion of the media induction: the other
    // chain property rolls (hashes, pairs, clusters); this one rolls the
    // full MediaManifestWarehouse — verdicts, byte counts and split
    // assignments carried doc-locally, membership reconciled — and
    // requires the ASSEMBLED training manifest (survivorship + split +
    // pack position) to land on the from-scratch composition of the
    // final snapshot. Embeddings are static across snapshots (the image
    // tower's output table), as in the registered rows.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val rnd = new scala.util.Random(7)
    val emb = (1L to 9L).map { id =>
      (id, Array.fill(Multimodal.AlignDim)(rnd.nextFloat() * 2f - 1f), 0)
    }.toDF("vec_id", "embedding", "label").localCheckpoint()
    def seqGen[A](gs: List[Gen[A]]): Gen[List[A]] =
      gs.foldRight(Gen.const(List.empty[A]))((g, acc) => for { h <- g; t <- acc } yield h :: t)
    def stepGen(cur: Map[Long, String]): Gen[Map[Long, String]] =
      seqGen((1L to 9L).toList.map { id =>
        cur.get(id) match {
          case Some(t) => Gen.frequency(
            2 -> Gen.const(id -> Option.empty[String]),
            3 -> Gen.oneOf(mediaPool.filterNot(_ == t)).map(nt => id -> Option(nt)),
            5 -> Gen.const(id -> Option(t)))
          case None => Gen.frequency(
            3 -> Gen.oneOf(mediaPool).map(nt => id -> Option(nt)),
            7 -> Gen.const(id -> Option.empty[String]))
        }
      }).map(_.collect { case (id, Some(t)) => id -> t }.toMap)
    val chainGen = for {
      s0 <- stepGen((1L to 9L).map(_ -> mediaPool.head).toMap)
      s1 <- stepGen(s0)
      s2 <- stepGen(s1)
    } yield List(s0, s1, s2)
    def fromScratch(d: org.apache.spark.sql.DataFrame) = Multimodal.MediaManifestWarehouse(
      Multimodal.MediaWarehouse(scratchHashes(d), scratchPairs(d)),
      Multimodal.mediaDupClustersOn(d),
      Multimodal.alignFilterOn(d, emb),
      Multimodal.mmDocLocalOn(d))
    def ckpt(w: Multimodal.MediaManifestWarehouse) = Multimodal.MediaManifestWarehouse(
      Multimodal.MediaWarehouse(w.wh.hashes.localCheckpoint(), w.wh.pairs.localCheckpoint()),
      w.clusters.localCheckpoint(), w.af.localCheckpoint(), w.docLocal.localCheckpoint())
    val prop = Prop.forAll(chainGen) { chain =>
      val snaps = chain.map(snapDf)
      var st = ckpt(fromScratch(snaps.head))
      for ((prev, next) <- snaps.zip(snaps.tail)) {
        val raw = Multimodal.mediaManifestUpdateOn(prev, next,
          st.wh.hashes, st.wh.pairs, st.clusters, st.af, st.docLocal, emb)
        val rolled = ckpt(raw)
        st.release(); raw.release()
        st = rolled
      }
      val got = st.manifest.orderBy("doc_id").collect().map(_.toSeq).toSeq
      st.release()
      val want = Multimodal.mmPipelineManifestOn(snapDf(chain.last), emb)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      spark.catalog.clearCache()
      Prop(got == want) :| s"composed manifest drifted: got ${got.take(2)} want ${want.take(2)}"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(3), prop)
    assert(res.passed, res.status.toString)
  }

  test("steady-state media update plan reads FROZEN rolled warehouse state, not a rebuild") {
    val dir = "/root/testdata/sf0.001"
    val p = Multimodal.mediaDedupRolled(spark, dir).queryExecution.executedPlan.toString
    // the registered rolled row starts from the persisted rolled warehouse
    // (hash index + pairs produced by hop 1), never the bootstrap
    assert(p.contains("graft_mm_rolled"),
      "rolled row does not read the frozen rolled warehouse:\n" + p.take(3000))
    assert(!p.contains("graft_mm_incr_base"),
      "rolled row fell back to the BASE warehouse (bootstrap leak):\n" + p.take(3000))
    // the composed-manifest rolled row: assembled from rolled state. The
    // frozen-warehouse evidence lives on the STATE TABLES' own plans
    // (round 19 — the assembly lazily checkpoints af/docLocal/clusters,
    // so the composed plan is truncated to ExistingRDD leaves; before,
    // keeping the evidence in the composed plan forced the af/docLocal
    // subtrees to re-execute per consumer branch): each state frame must
    // read the frozen rolled warehouse, never bootstrap state and never
    // the corpus — the corpus-text reads (delta classify, fresh-slice
    // captions/hashes) ran as delta-bounded checkpoints at construction.
    val w = Multimodal.mediaManifestRolledParts(spark, dir)
    for ((name, df) <- Seq("af" -> w.af, "docLocal" -> w.docLocal)) {
      val ps = df.queryExecution.executedPlan.toString
      assert(ps.contains("graft_mm_rolled"),
        s"manifest rolled $name state does not read the frozen rolled warehouse:\n" + ps.take(3000))
      assert(!ps.contains("graft_mm_manifest_base") && !ps.contains("graft_mm_incr_base"),
        s"manifest rolled $name state fell back to bootstrap state:\n" + ps.take(3000))
      assert(!ps.contains("documents.parquet"),
        s"steady-state $name state plan rescans the corpus:\n" + ps.take(3000))
    }
    // and the composed plan must still never re-scan the corpus or reach
    // around the warehouse to bootstrap state
    val pm = Multimodal.mediaManifestRolled(spark, dir).queryExecution.executedPlan.toString
    assert(!pm.contains("graft_mm_manifest_base") && !pm.contains("graft_mm_incr_base"),
      "manifest rolled row fell back to bootstrap state:\n" + pm.take(3000))
    assert(!pm.contains("documents.parquet"),
      "steady-state manifest plan rescans the corpus:\n" + pm.take(3000))
    spark.catalog.clearCache()
  }

  test("mm_pipeline_manifest: composed verdicts agree with the registered gates") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.ops.Tables.documents(spark, dir)
    val emb = graft.ops.Tables.embeddings(spark, dir)
    val m = Multimodal.mmPipelineManifestOn(docs, emb)
      .select("doc_id", "pass_align", "has_neardup", "is_survivor", "mm_kept")
      .as[(Long, Boolean, Boolean, Boolean, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // pass_align must equal the registered gate verbatim
    val af = Multimodal.alignFilterOn(docs, emb)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(m.keySet === af.keySet)
    assert(m.forall { case (id, r) => r._2 === af(id) }, "pass_align drifted from mm_align_filter")
    // survivorship must equal the registered cluster manifest + the
    // registered ALIGNED election (mm_keep_best_aligned)
    val clusters = Multimodal.mediaDupClusters(spark, dir)
      .as[(Long, Long, Long, Boolean)].collect()
    val sizeOf = clusters.map(c => c._1 -> c._3).toMap
    val keepOf = Multimodal.mediaKeepBestAligned(spark, dir)
      .as[(Long, Long, Double, Long, Long)].collect()
      .flatMap { case (cid, keep, _, _, _) =>
        clusters.filter(_._2 == cid).map(c => c._1 -> keep) }.toMap
    m.foreach { case (id, r) =>
      assert(r._3 === (sizeOf(id) > 1L), s"has_neardup drifted for $id")
      val surv = sizeOf(id) == 1L || keepOf.get(id).contains(id)
      assert(r._4 === surv, s"is_survivor drifted for $id")
      assert(r._5 === (r._2 && r._4), s"mm_kept is not the gate conjunction for $id")
    }
    assert(m.values.exists(_._3), "no multi-doc cluster at sf0.001 — survivorship was vacuous")
    assert(m.values.exists(r => r._3 && !r._4), "no cluster loser — the election was vacuous")
  }

  test("aligned keep-best elects the best-captioned member; training columns compose mm_split_safe + the sharded packer") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.ops.Tables.documents(spark, dir)
    val emb = graft.ops.Tables.embeddings(spark, dir)
    // the election keeps max align_cos (min doc_id on ties) per multi-cluster
    val cos = Multimodal.alignFilterOn(docs, emb)
      .select("doc_id", "align_cos").as[(Long, Double)].collect().toMap
    val clusters = Multimodal.mediaDupClusters(spark, dir)
      .as[(Long, Long, Long, Boolean)].collect()
    val multi = clusters.groupBy(_._2).filter(_._2.length > 1)
    val ka = Multimodal.mediaKeepBestAligned(spark, dir)
      .as[(Long, Long, Double, Long, Long)].collect()
    assert(ka.length === multi.size && ka.nonEmpty)
    ka.foreach { case (cid, keep, kCos, size, removed) =>
      val members = multi(cid).map(_._1)
      val best = members.maxBy(d => (cos(d), -d))
      assert(keep === best, s"cluster $cid elected $keep, expected $best")
      assert(kCos === cos(best) && size === members.length.toLong && removed === size - 1)
    }
    // the manifest's training columns: split is the LEAKAGE-SAFE
    // registered mm_split_safe rule verbatim (cluster-inherited; VERDICT
    // r16 task 1) — with singletons still on their own t_split hash; pack
    // position exists iff packed (mm_kept ∧ train) and reproduces the
    // registered sharded packer over payload bytes
    val mrows = Multimodal.mmPipelineManifestOn(docs, emb).collect()
    val splitOf = Multimodal.mmSplitSafeOn(docs)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val ownOf = graft.ext.Corpus.splitOn(docs)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val singletons = clusters.filter(_._3 == 1L).map(_._1).toSet
    val m = mrows.map(r => (r.getLong(0), r.getString(1), r.getBoolean(6),
      r.getString(7), r.getBoolean(8), r.getLong(9), r.getLong(10))).toSeq
    m.foreach { case (id, _, _, split, _, _, _) =>
      assert(split === splitOf(id), s"split drifted from mm_split_safe for $id")
      if (singletons(id))
        assert(split === ownOf(id), s"a singleton's manifest split left its own t_split hash: $id")
    }
    assert(m.exists { case (id, _, _, split, _, _, _) => split != ownOf(id) },
      "no manifest member inherited a different split — the leakage repair was vacuous here")
    m.foreach { case (id, _, kept, split, packed, shard, chunk) =>
      assert(packed === (kept && split == "train"), s"packed gate drifted for $id")
      assert(packed === (shard >= 0L && chunk >= 0L), s"pack position vs packed for $id")
    }
    val packedIds = m.filter(_._5).map(x => (x._1, x._6, x._7)).toSet
    assert(packedIds.nonEmpty, "no packed survivor at sf0.001 — pack columns vacuous")
    val nb = Multimodal.mmDocLocalOn(docs).select("doc_id", "n_bytes")
      .as[(Long, Long)].collect().toMap
    val want = graft.ext.Corpus.seqPackDocRowsFromTokens(
        m.filter(_._5).map(x => (x._2, x._1, nb(x._1)))
          .toDF("lang", "doc_id", "n_tok"),
        chunkTokens = Multimodal.MediaPackChunkBytes)
      .select("doc_id", "shard", "chunk_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(packedIds === want, "pack positions drifted from the registered packer")
  }

  test("curation funnel: every drop reason attributes to its FIRST failing gate; kept rows pass all four") {
    // toy corpus engineering one doc per failure class:
    //  1 — healthy (kept); 2 — exact dup of 1 losing the aligned election
    //      (near_dup); 3 — anti-aligned caption (alignment); 4 — no
    //      embedding row (no_embedding); 5 — tiny payload (decode), which
    //      must ALSO mask its missing embedding (first gate wins)
    val base = "spark window merge table column join filter"
    val d = docs((1L, base, "s"), (2L, base, "s"), (3L, base + " extra", "s"),
      (4L, base + " other words", "s"), (5L, "abc", "s"))
    val caps = Multimodal.captionEmbeddings(d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](2).map(_.toFloat).toArray).toMap
    val emb = Seq(
      (1L, caps(1L), "l0"),
      (2L, caps(2L).map(v => v * 0.5f), "l0"), // aligned but weaker cosine? same direction → same cos; doc 1 wins the tie by id
      (3L, caps(3L).map(-_), "l0"))            // anti-aligned
      .toDF("vec_id", "embedding", "label")    // 4 and 5 have no row
    val out = Multimodal.mmCurationFunnelOn(d, emb).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(6), Option(r.getString(7))))).toMap
    assert(out(1L) === ((true, None)), s"doc 1: ${out(1L)}")
    assert(out(2L) === ((false, Some("near_dup"))), s"doc 2: ${out(2L)}")
    assert(out(3L) === ((false, Some("alignment"))), s"doc 3: ${out(3L)}")
    assert(out(4L) === ((false, Some("no_embedding"))), s"doc 4: ${out(4L)}")
    assert(out(5L) === ((false, Some("decode"))), s"doc 5: ${out(5L)}")
  }

  test("retrieval recall: aligned towers score recall 1.0; anti-aligned probes rank last") {
    // embeddings built FROM the caption tower itself: every probe's own
    // media object is its exact nearest neighbor → recall@1 = 1.0
    // 8 docs ≤ Similarity.ProbeBudget → the fixed-budget pick samples all
    val ids = (0L to 7L).map(_ * 25L)
    val d = docs(ids.map(id => (id, s"spark window merge token$id count$id", s"s$id")): _*)
    val caps = Multimodal.captionEmbeddings(d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](2).map(_.toFloat).toArray).toMap
    val aligned = ids.map(id => (id, caps(id), "l0")).toDF("vec_id", "embedding", "label")
    val r1 = Multimodal.mmRetrievalRecallOn(d, aligned).head()
    assert(r1.getLong(0) === ids.length.toLong)
    assert(r1.getDouble(1) === 1.0 && r1.getDouble(4) === 1.0,
      s"aligned towers must retrieve their own object first: $r1")
    // the image→text direction on the same aligned corpus: recall 1.0 too
    val ri1 = Multimodal.mmRetrievalRecallI2tOn(d, aligned).head()
    assert(ri1.getLong(0) === ids.length.toLong)
    assert(ri1.getDouble(1) === 1.0 && ri1.getDouble(4) === 1.0,
      s"aligned embeddings must retrieve their own caption first (i2t): $ri1")
    // one probe's embedding negated: its own object becomes the WORST
    // match, recall@1 drops by exactly one query, its rank is |corpus|
    val spoiled = ids.map(id =>
      (id, if (id == ids.head) caps(id).map(-_) else caps(id), "l0"))
      .toDF("vec_id", "embedding", "label")
    val r2 = Multimodal.mmRetrievalRecallOn(d, spoiled).head()
    val n = ids.length
    assert(r2.getDouble(1) === graft.ops.Num.r6Double((n - 1).toDouble / n),
      s"spoiled probe still retrieves itself: $r2")
    assert(r2.getDouble(4) === graft.ops.Num.r6Double(((n - 1).toDouble + n) / n),
      s"spoiled probe's rank is not last: $r2")
    // the spoiled probe ranks last in the i2t direction too (its caption is
    // unchanged, so every OTHER probe's own caption still ranks first)
    val ri2 = Multimodal.mmRetrievalRecallI2tOn(d, spoiled).head()
    assert(ri2.getDouble(1) === graft.ops.Num.r6Double((n - 1).toDouble / n),
      s"spoiled probe still retrieves its caption (i2t): $ri2")
    assert(ri2.getDouble(4) === graft.ops.Num.r6Double(((n - 1).toDouble + n) / n),
      s"spoiled probe's caption rank is not last (i2t): $ri2")
  }

  test("mm gate patterns: counts partition the corpus, shares sum to 1, kept bit consistent") {
    val dir = "/root/testdata/sf0.001"
    val fun = Multimodal.mmCurationFunnel(spark, dir)
    val pats = Multimodal.mmGatePatternsFrom(fun).collect()
    assert(pats.length > 1, "degenerate: a single gate pattern")
    assert(pats.map(_.getLong(6)).sum === fun.count(), "pattern counts do not partition the corpus")
    assert(math.abs(pats.map(_.getDouble(7)).sum - 1.0) < 1e-4, "shares do not sum to 1")
    pats.foreach { r =>
      assert(r.getBoolean(5) === (r.getBoolean(1) && r.getBoolean(2)
        && r.getBoolean(3) && r.getBoolean(4)), s"kept bit inconsistent: $r")
    }
    spark.catalog.clearCache()
  }

  test("retrieval recall: a corpus-of-one probe ranks 1 instead of dropping out of n_queries") {
    // the self-excluding rank join yields no group for a probe whose own
    // embedding is the only corpus row; the rank left-join coalesces it to 1
    val d = docs((1L, "spark window merge tokens", "s1"))
    val cap = Multimodal.captionEmbeddings(d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](2).map(_.toFloat).toArray).toMap
    val emb = Seq((1L, cap(1L), "l0")).toDF("vec_id", "embedding", "label")
    val r = Multimodal.mmRetrievalRecallOn(d, emb).head()
    assert(r.getLong(0) === 1L, s"probe dropped from n_queries: $r")
    assert(r.getDouble(1) === 1.0 && r.getDouble(4) === 1.0, s"solitary probe must rank 1: $r")
    val ri = Multimodal.mmRetrievalRecallI2tOn(d, emb).head()
    assert(ri.getLong(0) === 1L && ri.getDouble(1) === 1.0,
      s"solitary probe must rank 1 in the i2t direction too: $ri")
  }

  test("media epoch shuffle: each epoch permutes every packed chunk once, positions contiguous, epochs decorrelated") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.ops.Tables.documents(spark, dir)
    val emb = graft.ops.Tables.embeddings(spark, dir)
    val units = Multimodal.mmPipelineManifestOn(docs, emb)
      .filter(col("packed"))
      .select("media_type", "shard", "chunk_id").distinct().count()
    assert(units > 1, "fewer than two packed chunks — the shuffle is untestable")
    val out = Multimodal.mmEpochShuffleOn(docs, emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        (r.getString(3), r.getLong(4), r.getLong(5))))
    val byEpoch = out.groupBy(_._1)
    assert(byEpoch.keySet === Set(1L, 2L))
    byEpoch.foreach { case (ep, rows) =>
      assert(rows.map(_._4).distinct.length.toLong === units, s"epoch $ep is not a permutation")
      rows.groupBy(_._2).foreach { case (sh, srows) =>
        val ps = srows.map(_._3).sorted
        assert(ps === (1L to ps.length.toLong), s"epoch $ep shard $sh positions not contiguous")
      }
    }
    def orderOf(ep: Long) = byEpoch(ep).sortBy(r => (r._2, r._3)).map(_._4).toSeq
    assert(orderOf(1L) !== orderOf(2L), "epochs produced the identical chunk order")
  }

  test("day-zero bootstrap: K chunked ingest hops roll the COMPOSED manifest state from EMPTY to the one-shot composition") {
    // the manifest twin of the dedup-warehouse day-zero spec: K updates of
    // the FULL 5-table MediaManifestWarehouse from empty state, landing on
    // the from-scratch composed training manifest of the full corpus
    val full = (1L to 12L).map(id => id -> mediaPool((id % 4).toInt)).toMap
    val chunks = full.keys.toSeq.sorted.grouped(4).toSeq // 3 chunk-deltas
    val rnd = new scala.util.Random(11)
    val emb = (1L to 12L).map { id =>
      (id, Array.fill(Multimodal.AlignDim)(rnd.nextFloat() * 2f - 1f), 0)
    }.toDF("vec_id", "embedding", "label").localCheckpoint()
    val emptyDocs = snapDf(Map.empty)
    def ckpt(w: Multimodal.MediaManifestWarehouse) = Multimodal.MediaManifestWarehouse(
      Multimodal.MediaWarehouse(w.wh.hashes.localCheckpoint(), w.wh.pairs.localCheckpoint()),
      w.clusters.localCheckpoint(), w.af.localCheckpoint(), w.docLocal.localCheckpoint())
    var st = ckpt(Multimodal.MediaManifestWarehouse(
      Multimodal.MediaWarehouse(scratchHashes(emptyDocs), scratchPairs(emptyDocs)),
      Multimodal.mediaDupClustersOn(emptyDocs),
      Multimodal.alignFilterOn(emptyDocs, emb),
      Multimodal.mmDocLocalOn(emptyDocs)))
    var seen = Map.empty[Long, String]
    for (chunk <- chunks) {
      val nextSeen = seen ++ chunk.map(id => id -> full(id))
      val raw = Multimodal.mediaManifestUpdateOn(snapDf(seen), snapDf(nextSeen),
        st.wh.hashes, st.wh.pairs, st.clusters, st.af, st.docLocal, emb)
      val rolled = ckpt(raw)
      st.release(); raw.release()
      st = rolled
      seen = nextSeen
    }
    val got = st.manifest.orderBy("doc_id").collect().map(_.toSeq).toSeq
    st.release()
    val want = Multimodal.mmPipelineManifestOn(snapDf(full), emb)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got === want,
      "chunked manifest bootstrap diverged from the one-shot composition")
    // the equality exercised real survivorship: some cluster loser exists
    assert(want.exists(r => r(4) == true && r(5) == false),
      "no cluster loser in the toy corpus — the election path was vacuous")
    spark.catalog.clearCache()
  }
}

