package graft.ext

import graft.SparkSpec
import graft.ops.Tables
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

/** The incremental pipeline-manifest update (`t_manifest_incremental`):
  * carried warehouse rows must be indistinguishable from a from-scratch
  * rebuild of the new snapshot under the frozen base-time models. The
  * DuckDB oracle independently re-proves the same equality in SQL; these
  * specs pin the Spark-side carry/recompute seams, including the no-churn
  * fixpoint a pure-SQL oracle can't exercise. */
class ManifestIncrSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** Rows in `key` order: the update and rebuild frames are unsorted. */
  private def rows(df: DataFrame, key: String = "doc_id"): Seq[Seq[Any]] =
    df.orderBy(key).collect().toSeq.map(_.toSeq)

  test("incremental manifest on the registered churn slices matches the from-scratch rebuild") {
    val docs = Tables.documents(spark, dir)
    val old = Corpus.deltaOldSlice(docs)
    val nw = Corpus.deltaNewSlice(docs)
    // the registered update (frozen warehouse + delta reconciliation)
    val got = rows(Corpus.manifestIncremental(spark, dir))
    spark.catalog.clearCache()
    // ground truth: full rebuild of the NEW snapshot under the SAME
    // frozen models (trained here independently — deterministic training
    // on the same old snapshot), through the one-shot stage entry points
    val census = Text.fluencyCensusOn(old).persist()
    val weights = Quality.qsWeightsOn(old).persist()
    val (thrTot, thrN) = Quality.qsThresholdOn(old, weights)
    val evalh = Corpus.evalShingleHashes(
      old.filter(pmod(col("doc_id"), lit(10)) === lit(Corpus.BenchSlice))).persist()
    val want = rows(Corpus.manifestRebuildOn(nw, census, weights, thrTot, thrN, evalh))
    spark.catalog.clearCache()
    assert(got.nonEmpty && got === want)
    // the churn slices actually exercised every delta class
    val statuses = Corpus.snapshotDeltaOn(old, nw)
      .select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses === Set("added", "removed", "changed", "unchanged"))
  }

  test("canonical churn MOVES members' inherited splits; the delta audit tracks them as split_moved") {
    // VERDICT r16 task 1, the subtle half of the incremental contract:
    // the manifest's split is CLUSTER-INHERITED, so churn that re-elects
    // a canonical moves UNTOUCHED members' splits — rows whose own text
    // never changed. The registered 6% churn happens not to flip any
    // canonical at sf0.001, so the flip is ENGINEERED: find a multi-doc
    // cluster holding a member whose own split differs from its
    // canonical's, remove EXACTLY the canonical, and require (a) the
    // warehouse update to land every survivor on the from-scratch value,
    // (b) at least one untouched member's split to MOVE, and (c) the
    // delta classifier to report the pure movers as split_moved.
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val (base, thrTot, thrN) = Corpus.frozenManifestBase(spark, dir)
    val census = spark.read.parquet(s"$base/census.parquet")
    val weights = spark.read.parquet(s"$base/weights.parquet")
    val evalh = spark.read.parquet(s"$base/evalh.parquet")
    // from-scratch warehouse of the FULL corpus under the frozen models
    val canon = Text.fingerprintOn(docs)
      .select(col("doc_id"), (col("is_canonical") === lit(1L)).as("is_canonical"))
    val feat0 = Corpus.manifestDocFeatures(docs, census, weights, thrTot, thrN, evalh)
      .join(canon, Seq("doc_id")).localCheckpoint()
    val sigs0 = Dedup.minhashSigsOn(docs).localCheckpoint()
    val edges0 = Dedup.dupEdgesOn(docs).localCheckpoint()
    val dm0 = Dedup.dupClustersOn(docs).localCheckpoint()
    val kb0 = Dedup.keepBestFrom(dm0, feat0.select("doc_id", "quality_score"))
      .localCheckpoint()
    // the engineered pick: smallest cluster id with a split-discordant member
    val own = feat0.select(col("doc_id"), col("split")).as[(Long, String)].collect().toMap
    val members = dm0.select("doc_id", "cluster_id").as[(Long, Long)].collect()
      .groupBy(_._2).map { case (c, ms) => c -> ms.map(_._1).sorted }
    val pick = members.toSeq.sortBy(_._1).collectFirst {
      case (cid, ms) if ms.length > 1 && ms.exists(m => own(m) != own(cid)) => (cid, ms)
    }
    assert(pick.nonEmpty,
      "no split-discordant multi-doc cluster at sf0.001 — the flip cannot be engineered")
    val (cid, ms) = pick.get
    val s1 = docs.filter(col("doc_id") =!= lit(cid))
    val m0 = Corpus.manifestRebuildOn(docs, census, weights, thrTot, thrN, evalh)
      .localCheckpoint()
    val raw = Corpus.manifestWarehouseUpdateOn(spark, docs, s1,
      featOld = feat0, kbOld = kb0, dupManifestOld = dm0, dupEdgesOld = edges0,
      dupSigsOld = sigs0, census = census, weights = weights,
      thrTot = thrTot, thrN = thrN, evalh = evalh)
    val m1 = raw.manifest.localCheckpoint()
    raw.release()
    // (a) exactness under the engineered churn
    val want = rows(Corpus.manifestRebuildOn(s1, census, weights, thrTot, thrN, evalh))
    assert(rows(m1) === want, "update drifted from the rebuild under a canonical removal")
    spark.catalog.clearCache()
    // (b) an untouched member moved, and only cluster members moved
    val movedIds = m1.select(col("doc_id"), col("split"))
      .join(m0.select(col("doc_id"), col("split").as("old_split")), Seq("doc_id"))
      .filter(col("split") =!= col("old_split"))
      .select("doc_id").as[Long].collect().toSet
    assert(movedIds.nonEmpty, "removing the canonical moved no member's inherited split")
    assert(movedIds.subsetOf(ms.toSet - cid),
      s"split moves leaked outside the engineered cluster: $movedIds vs ${ms.toSet - cid}")
    // (c) the pure movers (same verdict, same reason) classify split_moved
    val stable = m1.select(col("doc_id"), col("kept"), col("drop_reason"), col("n_copies"))
      .join(m0.select(col("doc_id"), col("kept").as("k0"),
        col("drop_reason").as("r0"), col("n_copies").as("c0")), Seq("doc_id"))
      .filter(col("kept") <=> col("k0") && col("drop_reason") <=> col("r0")
        && col("n_copies") <=> col("c0"))
      .select("doc_id").as[Long].collect().toSet
    val pure = movedIds.intersect(stable)
    assert(pure.nonEmpty, "every mover also flipped its verdict — split_moved untestable here")
    val report = Corpus.manifestDeltaFrom(m0, m1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(report.getOrElse("split_moved", 0L) === pure.size.toLong,
      s"delta audit mis-counted the engineered migration: $report, expected ${pure.size}")
    spark.catalog.clearCache()
  }

  test("manifest split hygiene: zero near-dup pairs span splits in the shipped manifests") {
    // what t_split_leakage audits, re-run over the artifacts' OWN split
    // columns: both endpoints of every near-dup edge share a cluster, so
    // the inherited split makes every edge split-homogeneous BY
    // CONSTRUCTION — the round's point, proven on the shipped outputs.
    val docs = Tables.documents(spark, dir)
    val sp = Corpus.pipelineManifest(spark, dir).select(col("doc_id"), col("split"))
      .localCheckpoint()
    val edges = Dedup.dupEdgesOn(docs).localCheckpoint()
    assert(edges.count() > 0, "no near-dup edges at sf0.001 — hygiene check vacuous")
    val leaks = edges
      .join(sp.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
      .join(sp.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
      .filter(col("sa") =!= col("sb")).count()
    assert(leaks === 0L, s"$leaks near-dup pairs span splits in t_pipeline_manifest")
    spark.catalog.clearCache()
    // media twin over the banded-DCT pair relation; endpoints missing an
    // embedding row sit outside the manifest spine (inner joins drop them)
    val M = graft.multimodal.Multimodal
    val msp = M.mmPipelineManifest(spark, dir).select(col("doc_id"), col("split"))
      .localCheckpoint()
    val mpairs = M.dctBandPairsOn(docs)
      .filter(col("hamming") <= lit(M.DctHamMax.toLong)).localCheckpoint()
    assert(mpairs.count() > 0, "no DCT near-dup pairs at sf0.001 — media hygiene check vacuous")
    val mleaks = mpairs
      .join(msp.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
      .join(msp.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
      .filter(col("sa") =!= col("sb")).count()
    assert(mleaks === 0L, s"$mleaks DCT near-dup pairs span splits in mm_pipeline_manifest")
    spark.catalog.clearCache()
  }

  test("text epoch shuffle (chunk form): each epoch permutes every packed chunk once, positions contiguous, epochs decorrelated") {
    // the day-zero compositional form over the from-scratch composed
    // manifest — the text twin of MultimodalSpec's media shuffle spec
    // (VERDICT r16 task 6: the registered row rides the frozen rolled
    // manifest; this pins the permutation semantics both forms share)
    val manifest = Corpus.pipelineManifest(spark, dir).localCheckpoint()
    val units = Corpus.packedChunkUnitsOf(manifest).count()
    assert(units > 1, "fewer than two packed chunks — the shuffle is untestable")
    val out = Corpus.epochShuffleManifestOn(manifest).collect()
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
    spark.catalog.clearCache()
  }

  test("gate drift: an engineered quality-rate flip reads shifted; untouched gates read stable") {
    import spark.implicits._
    def feats(rows: Seq[(Long, Boolean)]): DataFrame =
      rows.toDF("doc_id", "pass_quality")
        .withColumn("pass_repetition", lit(true))
        .withColumn("is_fluent", lit(true))
        .withColumn("pass_classifier", lit(true))
        .withColumn("pass_decontam", lit(true))
        .withColumn("is_canonical", lit(true))
    val ids = (0L until 20L).map(i => i * 10L + 1L) // never the bench slice
    val old = feats(ids.map(_ -> true))
    // churn class: half the corpus fails the quality gate in the new snapshot
    val nw = feats(ids.zipWithIndex.map { case (id, i) => id -> (i % 2 == 1) })
    val out = Corpus.gateDriftFrom(old, nw).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getBoolean(6)))).toMap
    assert(out.keySet === Set("classifier", "contamination", "duplicate",
      "fluency", "kept", "quality", "repetition"), "zero-fill lost a gate row")
    assert(out("quality") === ((20L, 20L, 0.0, 0.5, 0.5, true)), out("quality").toString)
    assert(out("kept") === ((20L, 20L, 1.0, 0.5, -0.5, true)), out("kept").toString)
    Seq("classifier", "contamination", "duplicate", "fluency", "repetition").foreach { g =>
      assert(out(g) === ((20L, 20L, 0.0, 0.0, 0.0, false)), s"$g drifted: ${out(g)}")
    }
    // the bench slice never enters the rates
    val withBench = feats(Seq(7L -> false) ++ ids.map(_ -> true))
    val n = Corpus.gateDriftFrom(withBench, withBench).head().getLong(1)
    assert(n === 20L, "a bench-slice doc leaked into the judged pool")
  }

  test("no-churn update is a fixpoint: every manifest row carries through unchanged") {
    val docs = Tables.documents(spark, dir)
    val old = Corpus.deltaOldSlice(docs)
    val (base, thrTot, thrN) = Corpus.frozenManifestBase(spark, dir)
    val (mPath, ePath, sPath, _) = Dedup.frozenIncrementalBase(spark, dir, old)
    val noop = Corpus.manifestIncrementalOn(spark, old, old,
      featOld = spark.read.parquet(s"$base/features.parquet"),
      kbOld = spark.read.parquet(s"$base/kb.parquet"),
      dupManifestOld = spark.read.parquet(mPath),
      dupEdgesOld = spark.read.parquet(ePath),
      dupSigsOld = spark.read.parquet(sPath),
      census = spark.read.parquet(s"$base/census.parquet"),
      weights = spark.read.parquet(s"$base/weights.parquet"),
      thrTot = thrTot, thrN = thrN,
      evalh = spark.read.parquet(s"$base/evalh.parquet"))
    val got = rows(noop)
    val want = rows(spark.read.parquet(s"$base/manifest.parquet").orderBy("doc_id"))
    spark.catalog.clearCache()
    assert(got.nonEmpty && got === want)
  }

  test("manifest warehouse updates CHAIN across snapshots under frozen models") {
    // production ingestion loop: snapshot s0 bootstraps the warehouse,
    // then TWO successive deltas roll state → state → state; the chained
    // final manifest must equal a from-scratch rebuild of s2 under the
    // same frozen base-time models. Step 1 is the registered churn
    // (adds %50==3, removes %50==4, changes %50==2); step 2 re-adds the
    // %50==4 slice, removes %50==7, and revs %50==8 — every delta class
    // in both steps.
    val docs = Tables.documents(spark, dir)
    val s0 = Corpus.deltaOldSlice(docs)
    val s1 = Corpus.deltaNewSlice(docs)
    val s2 = docs
      .withColumn("text",
        when(pmod(col("doc_id"), lit(Corpus.DeltaMod)) === lit(Corpus.DeltaChanged),
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
      .withColumn("text",
        when(pmod(col("doc_id"), lit(Corpus.DeltaMod)) === lit(8),
          concat(col("text"), lit(" [rev3]"))).otherwise(col("text")))
      .filter(pmod(col("doc_id"), lit(Corpus.DeltaMod)) =!= lit(7))
    val (base, thrTot, thrN) = Corpus.frozenManifestBase(spark, dir)
    val (mPath, ePath, sPath, _) = Dedup.frozenIncrementalBase(spark, dir, s0)
    val census = spark.read.parquet(s"$base/census.parquet")
    val weights = spark.read.parquet(s"$base/weights.parquet")
    val evalh = spark.read.parquet(s"$base/evalh.parquet")
    def ckpt(w: Corpus.ManifestWarehouse) = Corpus.ManifestWarehouse(
      w.features.localCheckpoint(), w.kb.localCheckpoint(),
      Dedup.DupWarehouse(w.dup.manifest.localCheckpoint(),
        w.dup.edges.localCheckpoint(), w.dup.sigs.localCheckpoint()),
      w.manifest)
    val st1 = ckpt(Corpus.manifestWarehouseUpdateOn(spark, s0, s1,
      featOld = spark.read.parquet(s"$base/features.parquet"),
      kbOld = spark.read.parquet(s"$base/kb.parquet"),
      dupManifestOld = spark.read.parquet(mPath),
      dupEdgesOld = spark.read.parquet(ePath),
      dupSigsOld = spark.read.parquet(sPath),
      census = census, weights = weights, thrTot = thrTot, thrN = thrN, evalh = evalh))
    val st2 = Corpus.manifestWarehouseUpdateOn(spark, s1, s2,
      featOld = st1.features, kbOld = st1.kb,
      dupManifestOld = st1.dup.manifest, dupEdgesOld = st1.dup.edges,
      dupSigsOld = st1.dup.sigs,
      census = census, weights = weights, thrTot = thrTot, thrN = thrN, evalh = evalh)
    val chained = rows(st2.manifest)
    spark.catalog.clearCache()
    val scratch = rows(Corpus.manifestRebuildOn(s2, census, weights, thrTot, thrN, evalh))
    spark.catalog.clearCache()
    assert(chained.nonEmpty && chained === scratch)
    // both steps genuinely churned
    val d2 = Corpus.snapshotDeltaOn(s1, s2).select("status").distinct()
      .collect().map(_.getString(0)).toSet
    assert(d2 === Set("added", "removed", "changed", "unchanged"))
  }

  test("property: N random deltas chained through the manifest warehouse update equal the rebuild") {
    // The induction step for the manifest family (the dedup twin lives in
    // DedupSpec): starting from the frozen s0 warehouse, chain THREE
    // random deltas — per-doc random remove / revise (cumulative " [pK]"
    // markers) / re-add-with-original-text mixes, empty deltas included —
    // and require the rolled warehouse's final manifest to equal a
    // from-scratch rebuild of the final snapshot under the same frozen
    // base-time models. The hand-built two-delta chain above pins one
    // trajectory; this pins the loop.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val s0df = Corpus.deltaOldSlice(docs)
    val baseRows = s0df.select("doc_id", "text", "lang", "source", "n_chars")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), r.getString(2), r.getString(3), r.getLong(4)))).toMap
    val ids = baseRows.keySet.toList.sorted
    def seqGen[A](gs: List[Gen[A]]): Gen[List[A]] =
      gs.foldRight(Gen.const(List.empty[A]))((g, acc) => for { h <- g; t <- acc } yield h :: t)
    // a step maps each base id to its next state: absent, or a revision
    // count (0 = original text, k = k cumulative " [pk]" markers)
    def stepGen(cur: Map[Long, Int], step: Int): Gen[Map[Long, Int]] =
      seqGen(ids.map { id =>
        cur.get(id) match {
          case Some(rev) => Gen.frequency(
            1 -> Gen.const(id -> Option.empty[Int]),  // removed
            2 -> Gen.const(id -> Option(step)),       // revised this step
            7 -> Gen.const(id -> Option(rev)))        // carried
          case None => Gen.frequency(
            3 -> Gen.const(id -> Option(0)),          // re-added, original text
            7 -> Gen.const(id -> Option.empty[Int]))
        }
      }).map(_.collect { case (id, Some(rev)) => id -> rev }.toMap)
    val s0state = ids.map(_ -> 0).toMap
    val chainGen = for {
      s1 <- stepGen(s0state, 1)
      s2 <- stepGen(s1, 2)
      s3 <- stepGen(s2, 3)
    } yield List(s1, s2, s3)
    def snap(state: Map[Long, Int]): org.apache.spark.sql.DataFrame =
      state.toSeq.sortBy(_._1).map { case (id, rev) =>
        val (t, lang, source, nch) = baseRows(id)
        val txt = t.map(_ + (1 to rev).map(k => s" [p$k]").mkString).orNull
        (id, txt, lang, source, nch)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val (base, thrTot, thrN) = Corpus.frozenManifestBase(spark, dir)
    val (mPath, ePath, sPath, _) = Dedup.frozenIncrementalBase(spark, dir, s0df)
    val census = spark.read.parquet(s"$base/census.parquet")
    val weights = spark.read.parquet(s"$base/weights.parquet")
    val evalh = spark.read.parquet(s"$base/evalh.parquet")
    def ckpt(w: Corpus.ManifestWarehouse) = Corpus.ManifestWarehouse(
      w.features.localCheckpoint(), w.kb.localCheckpoint(),
      Dedup.DupWarehouse(w.dup.manifest.localCheckpoint(),
        w.dup.edges.localCheckpoint(), w.dup.sigs.localCheckpoint()),
      w.manifest.localCheckpoint())
    val prop = Prop.forAll(chainGen) { chain =>
      var prev = s0df
      var st = Corpus.ManifestWarehouse(
        spark.read.parquet(s"$base/features.parquet"),
        spark.read.parquet(s"$base/kb.parquet"),
        Dedup.DupWarehouse(spark.read.parquet(mPath),
          spark.read.parquet(ePath), spark.read.parquet(sPath)),
        spark.read.parquet(s"$base/manifest.parquet"))
      for (state <- chain) {
        val next = snap(state)
        val raw = Corpus.manifestWarehouseUpdateOn(spark, prev, next,
          featOld = st.features, kbOld = st.kb,
          dupManifestOld = st.dup.manifest, dupEdgesOld = st.dup.edges,
          dupSigsOld = st.dup.sigs,
          census = census, weights = weights, thrTot = thrTot, thrN = thrN,
          evalh = evalh)
        val rolled = ckpt(raw)
        st.release(); raw.release()
        st = rolled
        prev = next
      }
      val chained = rows(st.manifest)
      st.release()
      val want = rows(Corpus.manifestRebuildOn(snap(chain.last), census, weights,
        thrTot, thrN, evalh))
      spark.catalog.clearCache()
      Prop(chained == want) :| s"chained manifest drifted after ${chain.length} deltas"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(2), prop)
    assert(res.passed, res.status.toString)
  }

  test("churn-impact series composes with the state-rolling update across consecutive snapshots") {
    // t_manifest_delta audits ONE hop (base → first update). This pins the
    // between-consecutive-snapshots form over a rolled 3-snapshot series:
    // each hop's report computed from the ROLLED manifests equals the
    // report over independent from-scratch rebuilds of the same snapshots,
    // and each hop's classes partition that hop's doc universe — so the
    // audit composes with the production loop instead of living only on
    // the bootstrap pair.
    val docs = Tables.documents(spark, dir)
    val s0 = Corpus.deltaOldSlice(docs)
    val s1 = Corpus.deltaNewSlice(docs)
    val s2 = docs
      .withColumn("text",
        when(pmod(col("doc_id"), lit(Corpus.DeltaMod)) === lit(Corpus.DeltaChanged),
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
      .withColumn("text",
        when(pmod(col("doc_id"), lit(Corpus.DeltaMod)) === lit(8),
          concat(col("text"), lit(" [rev3]"))).otherwise(col("text")))
      .filter(pmod(col("doc_id"), lit(Corpus.DeltaMod)) =!= lit(7))
    val (base, thrTot, thrN) = Corpus.frozenManifestBase(spark, dir)
    val (mPath, ePath, sPath, _) = Dedup.frozenIncrementalBase(spark, dir, s0)
    val census = spark.read.parquet(s"$base/census.parquet")
    val weights = spark.read.parquet(s"$base/weights.parquet")
    val evalh = spark.read.parquet(s"$base/evalh.parquet")
    val st1 = Corpus.manifestWarehouseUpdateOn(spark, s0, s1,
      featOld = spark.read.parquet(s"$base/features.parquet"),
      kbOld = spark.read.parquet(s"$base/kb.parquet"),
      dupManifestOld = spark.read.parquet(mPath),
      dupEdgesOld = spark.read.parquet(ePath),
      dupSigsOld = spark.read.parquet(sPath),
      census = census, weights = weights, thrTot = thrTot, thrN = thrN, evalh = evalh)
    val m1 = st1.manifest.localCheckpoint()
    val f1 = st1.features.localCheckpoint(); val k1 = st1.kb.localCheckpoint()
    val d1 = Dedup.DupWarehouse(st1.dup.manifest.localCheckpoint(),
      st1.dup.edges.localCheckpoint(), st1.dup.sigs.localCheckpoint())
    st1.release()
    val st2 = Corpus.manifestWarehouseUpdateOn(spark, s1, s2,
      featOld = f1, kbOld = k1,
      dupManifestOld = d1.manifest, dupEdgesOld = d1.edges, dupSigsOld = d1.sigs,
      census = census, weights = weights, thrTot = thrTot, thrN = thrN, evalh = evalh)
    val m2 = st2.manifest.localCheckpoint()
    st2.release()
    val m0 = spark.read.parquet(s"$base/manifest.parquet")
    // hop reports from the ROLLED series
    def report(o: org.apache.spark.sql.DataFrame, n: org.apache.spark.sql.DataFrame) =
      Corpus.manifestDeltaFrom(o, n).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val hop1 = report(m0, m1)
    val hop2 = report(m1, m2)
    // independent rebuilds of s1 and s2 under the same frozen models
    val r1 = Corpus.manifestRebuildOn(s1, census, weights, thrTot, thrN, evalh)
      .localCheckpoint()
    val r2 = Corpus.manifestRebuildOn(s2, census, weights, thrTot, thrN, evalh)
      .localCheckpoint()
    assert(hop1 === report(m0, r1), "hop 1 report drifted from the rebuild-based report")
    assert(hop2 === report(r1, r2), "hop 2 report drifted from the rebuild-based report")
    // each hop's classes partition that hop's doc universe
    val u1 = s0.select("doc_id").unionByName(s1.select("doc_id")).distinct().count()
    val u2 = s1.select("doc_id").unionByName(s2.select("doc_id")).distinct().count()
    spark.catalog.clearCache()
    assert(hop1.values.map(_._1).sum === u1)
    assert(hop2.values.map(_._1).sum === u2)
    // both hops genuinely churned in every class direction
    assert(hop1.contains("added") && hop1.contains("removed"))
    assert(hop2.contains("added") && hop2.contains("removed"))
  }

  test("production loop end-to-end: streamed feature ingest feeds the reconcile, equals the batch update and the rebuild") {
    // The two proven halves joined at their seam: fresh documents arrive
    // as a STREAM through Streams.eachBatch + manifestDocFeatures (frozen base
    // models — stream-time feature rows are final because every column is
    // doc-local), land in a feature warehouse table, and the periodic
    // manifestWarehouseUpdateOn reconciliation consumes THAT table via
    // precomputedFeatFresh instead of re-reading the fresh text. The
    // resulting manifest must equal both the all-batch incremental update
    // and the from-scratch rebuild.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val docs = Tables.documents(spark, dir)
    val old = Corpus.deltaOldSlice(docs)
    val nw = Corpus.deltaNewSlice(docs)
    val (base, thrTot, thrN) = Corpus.frozenManifestBase(spark, dir)
    val (mPath, ePath, sPath, _) = Dedup.frozenIncrementalBase(spark, dir, old)
    val census = spark.read.parquet(s"$base/census.parquet")
    val weights = spark.read.parquet(s"$base/weights.parquet")
    val evalh = spark.read.parquet(s"$base/evalh.parquet")
    // the fresh slice (added ∪ changed) is what a production changelog
    // delivers to the ingest stream — two micro-batches by parity
    val fresh = nw.join(
        Corpus.snapshotDeltaOn(old, nw)
          .filter(col("status").isin("added", "changed")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val root = Files.createTempDirectory("graft_loop_stream").toString
    Files.createDirectories(Paths.get(s"$root/in"))
    Seq(0, 1).foreach { p =>
      val tmp = s"$root/tmp$p"
      fresh.filter(pmod(col("doc_id"), lit(2)) === lit(p)).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$root/in/b$p.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20) // distinct mtimes → deterministic file-source order
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
    val featDir = s"$root/features"
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
    val q = graft.streaming.Streams.eachBatch(stream) { (b, _) =>
      val feats = Corpus.manifestDocFeatures(b, census, weights, thrTot, thrN, evalh)
      feats.write.mode("append").parquet(featDir) // the stream-built warehouse
    }
    q.awaitTermination()
    // the stream genuinely built the whole fresh slice, exactly once each
    val freshIds = fresh.select("doc_id").collect().map(_.getLong(0)).toSet
    val fedIds = spark.read.parquet(featDir).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(freshIds.nonEmpty && fedIds.toSet === freshIds && fedIds.size === freshIds.size)
    def update(pre: Option[DataFrame]) = Corpus.manifestWarehouseUpdateOn(spark, old, nw,
      featOld = spark.read.parquet(s"$base/features.parquet"),
      kbOld = spark.read.parquet(s"$base/kb.parquet"),
      dupManifestOld = spark.read.parquet(mPath),
      dupEdgesOld = spark.read.parquet(ePath),
      dupSigsOld = spark.read.parquet(sPath),
      census = census, weights = weights, thrTot = thrTot, thrN = thrN,
      evalh = evalh, precomputedFeatFresh = pre)
    val streamFed = update(Some(spark.read.parquet(featDir)))
    val got = rows(streamFed.manifest)
    streamFed.release()
    val batchUpd = update(None)
    val batchRows = rows(batchUpd.manifest)
    batchUpd.release()
    val rebuilt = rows(Corpus.manifestRebuildOn(nw, census, weights, thrTot, thrN, evalh))
    spark.catalog.clearCache()
    assert(got.nonEmpty && got === batchRows, "stream-fed reconcile drifted from the batch update")
    assert(got === rebuilt, "stream-fed reconcile drifted from the from-scratch rebuild")
    // coverage fail-fast (ADVICE r13): a feature warehouse missing a fresh
    // doc_id must raise, not silently drop the doc from the manifest
    intercept[IllegalArgumentException] {
      update(Some(spark.read.parquet(featDir)
        .filter(col("doc_id") =!= lit(freshIds.head)))).manifest.count()
    }
  }

  test("degenerate deltas: drain-to-empty and bootstrap-from-empty both match the rebuild") {
    val docs = Tables.documents(spark, dir)
    val s0 = Corpus.deltaOldSlice(docs)
    val empty = s0.limit(0)
    val (base, thrTot, thrN) = Corpus.frozenManifestBase(spark, dir)
    val (mPath, ePath, sPath, _) = Dedup.frozenIncrementalBase(spark, dir, s0)
    val census = spark.read.parquet(s"$base/census.parquet")
    val weights = spark.read.parquet(s"$base/weights.parquet")
    val evalh = spark.read.parquet(s"$base/evalh.parquet")
    val featOld = spark.read.parquet(s"$base/features.parquet")
    val kbOld = spark.read.parquet(s"$base/kb.parquet")
    val dupM = spark.read.parquet(mPath)
    val dupE = spark.read.parquet(ePath)
    val dupS = spark.read.parquet(sPath)
    // drain: every document removed — the update must produce an empty
    // manifest, not choke on all-gone components/elections
    val drained = Corpus.manifestWarehouseUpdateOn(spark, s0, empty,
      featOld, kbOld, dupM, dupE, dupS, census, weights, thrTot, thrN, evalh)
    assert(rows(drained.manifest).isEmpty)
    assert(rows(drained.kb, "cluster_id").isEmpty && rows(drained.dup.manifest).isEmpty)
    spark.catalog.clearCache()
    // bootstrap-by-update: an EMPTY warehouse plus an all-'added' delta
    // must equal the frozen bootstrap's manifest (under the same models)
    val boot = Corpus.manifestWarehouseUpdateOn(spark, empty, s0,
      featOld.limit(0), kbOld.limit(0), dupM.limit(0), dupE.limit(0), dupS.limit(0),
      census, weights, thrTot, thrN, evalh)
    val got = rows(boot.manifest)
    val want = rows(spark.read.parquet(s"$base/manifest.parquet").orderBy("doc_id"))
    spark.catalog.clearCache()
    assert(got.nonEmpty && got === want)
  }

  test("day-zero bootstrap: K chunked ingest hops from EMPTY equal the one-shot bootstrap") {
    // the production backfill plan made explicit (VERDICT r13 #5): the old
    // snapshot arrives as THREE all-'added' chunk-deltas chained from an
    // empty warehouse under the frozen base-time models, and the final
    // manifest must equal the frozen one-shot bootstrap's
    val docs = Tables.documents(spark, dir)
    val s0 = Corpus.deltaOldSlice(docs)
    val (base, thrTot, thrN) = Corpus.frozenManifestBase(spark, dir)
    val census = spark.read.parquet(s"$base/census.parquet")
    val weights = spark.read.parquet(s"$base/weights.parquet")
    val evalh = spark.read.parquet(s"$base/evalh.parquet")
    val featOld = spark.read.parquet(s"$base/features.parquet")
    val kbOld = spark.read.parquet(s"$base/kb.parquet")
    val (mPath, ePath, sPath, _) = Dedup.frozenIncrementalBase(spark, dir, s0)
    def cum(k: Int) = s0.filter(pmod(col("doc_id"), lit(3)) <= lit(k))
    def ckpt(w: Corpus.ManifestWarehouse) = Corpus.ManifestWarehouse(
      w.features.localCheckpoint(), w.kb.localCheckpoint(),
      Dedup.DupWarehouse(w.dup.manifest.localCheckpoint(),
        w.dup.edges.localCheckpoint(), w.dup.sigs.localCheckpoint()),
      w.manifest.localCheckpoint())
    var st = Corpus.ManifestWarehouse(
      featOld.limit(0), kbOld.limit(0),
      Dedup.DupWarehouse(spark.read.parquet(mPath).limit(0),
        spark.read.parquet(ePath).limit(0), spark.read.parquet(sPath).limit(0)),
      featOld.limit(0))
    var prev = s0.limit(0)
    for (k <- 0 to 2) {
      val next = cum(k)
      val raw = Corpus.manifestWarehouseUpdateOn(spark, prev, next,
        st.features, st.kb, st.dup.manifest, st.dup.edges, st.dup.sigs,
        census, weights, thrTot, thrN, evalh)
      val rolled = ckpt(raw)
      st.release(); raw.release()
      st = rolled
      prev = next
    }
    val got = rows(st.manifest.orderBy("doc_id"))
    st.release()
    val want = rows(spark.read.parquet(s"$base/manifest.parquet").orderBy("doc_id"))
    spark.catalog.clearCache()
    assert(got.nonEmpty && got === want,
      "chunked day-zero bootstrap diverged from the one-shot bootstrap")
  }

  test("manifest delta classifier: every change class fires, first-match priority respected") {
    import spark.implicits._
    // manifest schema: doc_id, lang, source, n_copies, kept, drop_reason,
    // is_survivor, split, packed, shard, chunk_id
    def row(id: Long, kept: Boolean = true, reason: String = null, split: String = "train",
            packed: Boolean = true, shard: Long = 0L, chunk: Long = 0L)
        : (Long, String, String, Long, Boolean, String, Boolean, String, Boolean, Long, Long) =
      (id, "en", "src0", 1L, kept, reason, true, split, packed, shard, chunk)
    val cols = Seq("doc_id", "lang", "source", "n_copies", "kept", "drop_reason",
      "is_survivor", "split", "packed", "shard", "chunk_id")
    val o = Seq(
      row(1L),                               // removed (absent from new)
      row(2L),                               // verdict_flipped (kept flips)
      row(3L, kept = false, reason = "quality"), // reason_moved (reason changes, kept stays false)
      row(4L),                               // split_moved (same verdict, split changes)
      row(5L),                               // pack_flipped (same verdict+split, packed flips)
      row(6L),                               // pack_moved (packed both, shard moves)
      row(7L),                               // unchanged
      // priority: kept flip AND split change AND pack move → verdict_flipped only
      row(8L, packed = true, shard = 1L)
    ).toDF(cols: _*)
    val n = Seq(
      row(9L),                               // added
      row(2L, kept = false, reason = "fluency", packed = false),
      row(3L, kept = false, reason = "repetition"),
      row(4L, split = "val"),                // split moved, everything else equal
      row(5L, packed = false),
      row(6L, shard = 3L, chunk = 2L),
      row(7L),
      row(8L, kept = false, reason = "quality", split = "test", packed = false)
    ).toDF(cols: _*)
    val got = Corpus.manifestDeltaFrom(o, n)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map(
      "added" -> 1L, "removed" -> 1L, "verdict_flipped" -> 2L, // docs 2 and 8
      "reason_moved" -> 1L, "split_moved" -> 1L, "pack_flipped" -> 1L,
      "pack_moved" -> 1L, "unchanged" -> 1L), s"got $got")
  }

  test("manifest delta report partitions the doc universe; registered churn leaves unchanged dominant") {
    val report = Corpus.manifestDelta(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = Tables.documents(spark, dir)
    val universe = Corpus.deltaOldSlice(docs).select("doc_id")
      .unionByName(Corpus.deltaNewSlice(docs).select("doc_id")).distinct().count()
    spark.catalog.clearCache()
    // every doc of old ∪ new lands in exactly one class
    assert(report.values.map(_._1).sum === universe)
    // the 6% churn: added/removed present, unchanged dominant (an
    // over-invalidating update or a drifted model shows up as mass here)
    assert(report.contains("added") && report.contains("removed"))
    assert(report("unchanged")._1 * 10 > universe * 8, s"unchanged not dominant: $report")
    // removed docs cannot be kept after the refresh
    assert(report.get("removed").forall(_._2 === 0L))
  }

  test("steady-state update plan reads warehouse state, never the untouched corpus text") {
    // the registered base row IS a warehouse read-back (the
    // dd_clusters_base discipline): its plan is a parquet scan of the
    // frozen state, not a rebuild
    val pb = Corpus.manifestBase(spark, dir).queryExecution.executedPlan.toString
    assert(pb.contains("graft_manifest_base"),
      "base row does not read the frozen manifest warehouse:\n" + pb.take(3000))
    // the assembled update's lineage holds NO corpus scan and NO text
    // column anywhere: the only text reads (delta classify + fresh-slice
    // features) ran as delta-bounded checkpoints at construction;
    // untouched documents' text is never re-read, and packing runs over
    // carried token counts instead of re-tokenizing
    val p = Corpus.manifestIncremental(spark, dir).queryExecution.executedPlan.toString
    assert(!p.contains("documents.parquet"),
      "steady-state plan rescans the corpus:\n" + p.take(3000))
    assert(!p.contains("text#"),
      "steady-state plan references a text column:\n" + p.take(3000))
    spark.catalog.clearCache()
  }

  test("fused gate pass equals the three standalone gate operators, edge docs included") {
    // round 18: manifestDocFeatures computes fluency/classifier/decontam
    // in ONE union + ONE doc_id aggregation (gateVerdictsOn). This pins
    // the fused verdicts doc-for-doc against the standalone operators —
    // including the engineered edge docs each gate NULL-handles
    // differently: <2 tokens (no bigrams → not fluent), empty text (no
    // features → score 0; no shingles → clean), one-word text.
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val edge = Seq(
      (900001L, "solo", "de", "web"),              // 1 token: no bigram, no shingle
      (900002L, "", "en", "web"),                  // empty: no tokens at all
      (900003L, "two words", "en", "web"),         // 1 bigram, no 3-shingle
      (900004L, "three word text", "en", "web"))   // exactly one 3-shingle
      .toDF("doc_id", "text", "lang", "source")
    val snap = docs.select("doc_id", "text", "lang", "source").unionByName(edge)
      .localCheckpoint()
    val train = snap.filter(pmod(col("doc_id"), lit(10L)) =!= lit(Corpus.BenchSlice))
    val (base, thrTot, thrN) = Corpus.frozenManifestBase(spark, dir)
    val census = spark.read.parquet(s"$base/census.parquet")
    val weights = spark.read.parquet(s"$base/weights.parquet")
    val evalh = spark.read.parquet(s"$base/evalh.parquet")
    val fused = Corpus.manifestDocFeatures(snap, census, weights, thrTot, thrN, evalh)
      .select("doc_id", "is_fluent", "pass_classifier", "pass_decontam")
      .collect().map(r => r.getLong(0) -> (r.get(1), r.get(2), r.get(3))).toMap
    val f = Text.lmFluencyAgainstOn(train, census)
      .select("doc_id", "is_fluent").collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    val g = Quality.qsKeepWithThreshold(train, weights, thrTot, thrN)
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    val d = Corpus.decontaminateAgainstHashesOn(train, evalh)
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    val trainIds = train.select("doc_id").as[Long].collect().toSet
    assert(fused.keySet === snap.select("doc_id").as[Long].collect().toSet)
    assert(Seq(900001L, 900002L, 900003L, 900004L).forall(trainIds.contains))
    trainIds.foreach { id =>
      assert(fused(id) === ((f(id), g(id), d(id))),
        s"fused gate verdicts drifted for doc $id")
    }
    // bench-slice docs are never judged: all three verdicts NULL
    (fused.keySet -- trainIds).foreach { id =>
      assert(fused(id) === ((null, null, null)), s"bench doc $id got judged")
    }
    spark.catalog.clearCache()
  }

  test("manifest update: a foreground failure cancels the overlapped feature job and rethrows") {
    val docs = Tables.documents(spark, dir)
    val old = Corpus.deltaOldSlice(docs)
    val nw = Corpus.deltaNewSlice(docs)
    val (base, thrTot, thrN) = Corpus.frozenManifestBase(spark, dir)
    val (mPath, ePath, sPath, _) = Dedup.frozenIncrementalBase(spark, dir, old)
    val census = spark.read.parquet(s"$base/census.parquet")
    val weights = spark.read.parquet(s"$base/weights.parquet")
    val evalh = spark.read.parquet(s"$base/evalh.parquet")
    // streamed-ingest features that stall a minute inside the background
    // featFresh job (matched by its job label; repartitioned first, so the
    // stalling column is computed after the semi-join's shuffle, in that
    // job): the job is still running when the foreground fails on a
    // feature table that lost a column
    ManifestIncrSpec.stalled.set(false)
    val stallInFeatFresh = udf { (n: Long) =>
      val job = org.apache.spark.TaskContext.get().getLocalProperty("spark.job.description")
      if (job == "mwu: featFresh ckpt" && ManifestIncrSpec.stalled.compareAndSet(false, true))
        Thread.sleep(60000)
      n
    }
    val pre = Corpus.manifestDocFeatures(nw, census, weights, thrTot, thrN, evalh)
      .localCheckpoint()
      .repartition(col("doc_id"))
      .withColumn("n_tok", stallInFeatFresh(col("n_tok")))
    val e = intercept[AnalysisException] {
      Corpus.manifestWarehouseUpdateOn(spark, old, nw,
        featOld = spark.read.parquet(s"$base/features.parquet").drop("quality_score"),
        kbOld = spark.read.parquet(s"$base/kb.parquet"),
        dupManifestOld = spark.read.parquet(mPath),
        dupEdgesOld = spark.read.parquet(ePath),
        dupSigsOld = spark.read.parquet(sPath),
        census = census, weights = weights, thrTot = thrTot, thrN = thrN, evalh = evalh,
        precomputedFeatFresh = Some(pre))
    }
    assert(e.getMessage.contains("quality_score"), e.getMessage)
    // the status tracker is listener-fed: poll until no job is active
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 15000000000L
    while (sc.statusTracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(sc.statusTracker.getActiveJobIds.isEmpty,
      "the overlapped feature job outlived the failed update")
    spark.catalog.clearCache()
  }
}

object ManifestIncrSpec {
  /** JVM-wide one-shot latch for the stalling UDF (its closure is copied
    * per task; an object field is not). */
  val stalled = new java.util.concurrent.atomic.AtomicBoolean(false)
}
