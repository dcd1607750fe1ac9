package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("dot and norm compute exact double folds over float arrays") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val (d, n) = df.select(
      Similarity.dot(col("a"), col("b")).as("d"),
      Similarity.norm(col("a")).as("n")).as[(Double, Double)].head()
    assert(d === 32.0)
    assert(n === math.sqrt(14.0))
  }

  test("signBucket encodes the sign pattern of the leading dims") {
    val df = Seq(
      Array(1.0f, -1.0f, 1.0f, -1.0f, 9.0f),
      Array(-1.0f, -1.0f, -1.0f, -1.0f, 9.0f)).toDF("embedding")
    val got = df.select(Similarity.signBucket(col("embedding")).as("b")).as[Long].collect().toSeq
    assert(got === Seq(1L + 4L, 0L))
  }

  test("native float_dot is bit-identical to the fold dot on real embeddings") {
    graft.functions.GraftFunctions.register(spark)
    val e = graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val mism = e.select(
      Similarity.dot(col("embedding"), col("embedding")).as("fold"),
      Similarity.fastDot(col("embedding"), col("embedding")).as("fast"))
      .filter(col("fold") =!= col("fast"))
    assert(mism.count() === 0)
  }

  test("float_dot codegen path evaluates (non-interpreted plan)") {
    graft.functions.GraftFunctions.register(spark)
    val got = Seq((Array(1.5f, 2.0f), Array(2.0f, 4.0f))).toDF("a", "b")
      .select(Similarity.fastDot(col("a"), col("b")).as("d")).as[Double].head()
    assert(got === 11.0)
  }

  test("IVF probes a strict candidate subset yet keeps high recall vs brute force") {
    val dir = "/root/testdata/sf0.001"
    val bf = Similarity.knnBruteForce(spark, dir)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.knnIvf(spark, dir)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf.nonEmpty)
    // recall@5 of the nprobe=2 search against the exhaustive baseline: the
    // synthetic labels only weakly cluster the space, so the honest claims
    // are (a) a floor and (b) centroid cells beat coordinate-sign LSH cells
    // floor only: cross-algorithm ordering (IVF vs sign-LSH recall) is a
    // data property, not a code invariant — measured 0.36 vs 0.11 at sf0.01,
    // recorded in BASELINE.md rather than asserted here
    val recall = (bf intersect ivf).size.toDouble / bf.size
    assert(recall >= 0.2, s"IVF recall collapsed: $recall")
    // every IVF neighbor must come from one of the probe's top-NProbe cells —
    // i.e. the candidate set is genuinely bounded, not a rescan of everything
    val labels = graft.ops.Tables.embeddings(spark, dir)
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    val cellsPerQ = ivf.groupBy(_._1).map { case (_, ns) => ns.map(p => labels(p._2)).size }
    assert(cellsPerQ.forall(_ <= 2), "neighbors drawn from more distinct cells than nprobe=2")
  }

  test("k-means quantizer: trained cells partition the corpus and keep recall vs brute force") {
    val dir = "/root/testdata/sf0.001"
    val cent = Similarity.kmeansCentroidsOn(graft.ops.Tables.embeddings(spark, dir))
    val k = cent.count()
    assert(k >= 2 && k <= Similarity.KmeansK, s"quantizer produced $k cells")
    val bf = Similarity.knnBruteForce(spark, dir)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val km = Similarity.knnIvfKmeans(spark, dir)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(km.nonEmpty)
    // floor only, as with label-IVF above: the trained-vs-label recall
    // ordering is a data property, measured and recorded in BASELINE.md
    val recall = (bf intersect km).size.toDouble / bf.size
    assert(recall >= 0.2, s"k-means IVF recall collapsed: $recall")
  }

  test("Lloyd iterations improve the spherical k-means objective") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.ops.Tables.embeddings(spark, dir)
    val e = Similarity.withNorm(emb)
    def objective(iters: Int): Double = {
      val cent = Similarity.kmeansCentroidsOn(emb, Similarity.KmeansCfg(iters = iters))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("ccos").desc, col("cent_id"))
      e.crossJoin(broadcast(cent))
        .withColumn("ccos", Similarity.dot(col("embedding"), col("centroid")) / (col("nrm") * col("c_nrm")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .agg(avg("ccos")).head().getDouble(0)
    }
    val o1 = objective(1)
    val o2 = objective(2)
    // assignment-by-cosine + mean update = spherical k-means: each step
    // cannot worsen the mean assigned cosine (measured 0.245 → 0.261 →
    // 0.268 over iters 1..3 at this SF). Epsilon 1e-6 = the r6 quantum:
    // kmeansCentroidsOn assigns by r6-ROUNDED cosine while this objective
    // uses unrounded cosines, so rounding-induced assignment ties can
    // legitimately cost up to ~the quantum per vector
    assert(o2 >= o1 - 1e-6, s"objective worsened: it1=$o1 it2=$o2")
  }

  test("VecSum and static per-dim centroid paths agree") {
    val emb = graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def cents(dims: Int) = Similarity.kmeansCentroidsOn(emb, Similarity.KmeansCfg(dims = dims))
      .orderBy("cent_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq, r.getDouble(2)))
    val dynamic = cents(-1)
    val static64 = cents(64)
    assert(dynamic.length === static64.length)
    dynamic.zip(static64).foreach { case ((ca, va, na), (cb, vb, nb)) =>
      assert(ca === cb)
      // the two aggregates sum in different orders → equal to fp noise
      va.zip(vb).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) }
      assert(math.abs(na - nb) < 1e-9)
    }
  }

  test("nprobe knob: probing all cells degenerates IVF to exact brute force") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.ops.Tables.embeddings(spark, dir)
    def res(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rank", "neighbor_id").orderBy("q_id", "rank")
        .as[(Long, Long, Long)].collect().toSeq
    val bf = res(Similarity.knnBruteForceOn(emb))
    // 10 labels in the testdata → nProbe=10 probes every cell; the candidate
    // set is then the full corpus and the ranking must match exactly
    val allCells = res(Similarity.knnIvfOn(emb, nProbe = 10))
    assert(allCells === bf, "IVF with nprobe=ncells diverged from brute force")
    // and the recall/cost knob is monotone: more probes never lose neighbors…
    val n2 = res(Similarity.knnIvfOn(emb, nProbe = 2)).toSet
    val n4 = res(Similarity.knnIvfOn(emb, nProbe = 4)).toSet
    val bfSet = bf.toSet
    assert((n4 intersect bfSet).size >= (n2 intersect bfSet).size,
      "recall decreased with more probes")
  }

  test("PQ: codes are m-wide and bounded, exact re-rank recovers most true neighbors") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.ops.Tables.embeddings(spark, dir)
    // exact squared-L2 top-5 baseline (same probes/tiebreaks as knnPqOn)
    val e = emb.select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = Similarity.probeFilter(e).select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("d2").asc, col("vec_id"))
    val exact = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("d2", Similarity.l2sq(col("qv"), col("v")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.knnPqOn(emb)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(pq.nonEmpty)
    val recall = (exact intersect pq).size.toDouble / exact.size
    // measured 0.80 at sf0.001 (deterministic data); floor leaves margin for
    // future knob shifts, and BASELINE.md records the full (m,k,refine) sweep
    assert(recall >= 0.6, s"PQ+refine recall collapsed: $recall")
    // ADC-only (refine=0) must not beat the refined search on this data —
    // the re-rank exists precisely because raw ADC recall is weak (0.43)
    val adcOnly = Similarity.knnPqOn(emb, Similarity.PqCfg(refine = 0))
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val adcRecall = (exact intersect adcOnly).size.toDouble / exact.size
    assert(recall >= adcRecall, s"refine step lost recall: adc=$adcRecall refined=$recall")
  }

  test("IVF-PQ: probing all cells degenerates to flat PQ; cell bound keeps recall") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.ops.Tables.embeddings(spark, dir)
    def res(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rank", "neighbor_id").orderBy("q_id", "rank")
        .as[(Long, Long, Long)].collect().toSeq
    // nProbe = KmeansK probes every cell → the ADC candidate set is the full
    // coded corpus and IVF-PQ must equal the flat-PQ search row for row
    // (same codebooks, same ADC keys, same re-rank)
    val flat = res(Similarity.knnPqOn(emb))
    spark.catalog.clearCache()
    val allCells = res(Similarity.knnIvfPqOn(emb, nProbe = Similarity.KmeansK,
      kcfg = Similarity.KmeansCfg(dims = Similarity.Dims)))
    assert(allCells === flat, "IVF-PQ with nprobe=ncells diverged from flat PQ")
    // the default cell-bounded search keeps most of the flat-PQ answer while
    // scanning only nProbe/ncells of the codes
    spark.catalog.clearCache()
    val bounded = res(Similarity.knnIvfPqOn(emb,
        kcfg = Similarity.KmeansCfg(dims = Similarity.Dims)))
      .map(t => (t._1, t._3)).toSet
    val flatSet = flat.map(t => (t._1, t._3)).toSet
    val agree = (bounded intersect flatSet).size.toDouble / flatSet.size
    assert(agree >= 0.4, s"cell-bounded ADC lost too much of the flat-PQ answer: $agree")
    spark.catalog.clearCache()
  }

  test("cosine of identical vectors is 1") {
    val df = Seq((Array(0.5f, -0.25f, 8.0f), Array(0.5f, -0.25f, 8.0f))).toDF("a", "b")
    val cos = df.select(
      (Similarity.dot(col("a"), col("b")) /
        (Similarity.norm(col("a")) * Similarity.norm(col("b")))).as("c")).as[Double].head()
    assert(math.abs(cos - 1.0) < 1e-12)
  }

  test("embed drift: label centroids score their exact cosine to the global centroid") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.0f, 1.0f), 1),
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.embedDriftOn(df).orderBy("label").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1), r.getDouble(2)))
    // global centroid (0.5, 0.5); each label centroid is an axis -> cos = 1/sqrt(2)
    assert(got.toSeq === Seq((0L, 2L, 0.707107), (1L, 2L, 0.707107)))
  }

  test("dim stats: exact per-dimension mean and std on a hand corpus") {
    val df = Seq(
      (1L, Array(1.0f, 10.0f), 0),
      (2L, Array(3.0f, 10.0f), 0),
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.dimStatsOn(df).orderBy("dim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // dim 1: mean 2, E[x^2]-E[x]^2 = 5-4 = 1 -> std 1; dim 2: constant -> std 0
    assert(got.toSeq === Seq((1L, 2L, 2.0, 1.0), (2L, 2L, 10.0, 0.0)))
  }

  test("hard negatives: every mined neighbor has a different label; probing all cells is exact") {
    val emb = graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cfg = Similarity.KmeansCfg(dims = Similarity.Dims)
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    val mined = Similarity.hardNegativesOn(emb, cfg = cfg).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getAs[Number](3).longValue, r.getDouble(4)))
    spark.catalog.clearCache()
    assert(mined.nonEmpty)
    assert(mined.forall { case (q, _, n, lab, _) =>
      labels(n) == lab && lab != labels(q) && n != q },
      "a mined negative shares the probe's label (or is the probe itself)")
    // per-probe ranks are 1..k with non-increasing cosine
    mined.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to sorted.length).toSeq)
      assert(sorted.sliding(2).forall { case Array(a, b) => a._5 >= b._5; case _ => true })
    }
    // nprobe = ncells degenerates to the exact different-label top-k:
    // brute-force it directly and compare row for row
    val all = Similarity.hardNegativesOn(emb, nProbe = Similarity.KmeansK, cfg = cfg).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getAs[Number](3).longValue, r.getDouble(4)))
    spark.catalog.clearCache()
    val e = emb.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getAs[Number](2).longValue))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val probeIds = Similarity.probeFilter(emb).select("vec_id").as[Long].collect().toSet
    val expected = e.filter(r => probeIds(r._1)).flatMap { case (q, qe, ql) =>
      e.filter(o => o._1 != q && o._3 != ql)
        .map(o => (o._1, o._3, cos(qe, o._2)))
        .sortBy(t => (-t._3, t._1)).take(5).zipWithIndex
        .map { case ((n, lab, c), i) => (q, (i + 1).toLong, n, lab) }
    }.toSet
    assert(all.map(t => (t._1, t._2, t._3, t._4)).toSet === expected,
      "full-probe mining must equal the brute-force different-label top-k")
  }

  test("embed outlier gate: keep is exactly the ccos threshold, layered on the assignment table") {
    val emb = graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.embedOutliersOn(emb, Similarity.KmeansCfg(dims = Similarity.Dims))
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    spark.catalog.clearCache()
    assert(out.length === emb.count(), "manifest must cover every vector")
    assert(out.forall { case (_, _, ccos, keep) => keep === (ccos >= Similarity.OutlierCosMin) })
    // the gate is kmeansAssignOn plus a flag — the underlying table must agree
    val assign = Similarity.kmeansAssignOn(emb, Similarity.KmeansCfg(dims = Similarity.Dims))
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    spark.catalog.clearCache()
    assert(out.map(t => (t._1, t._2, t._3)).toSeq === assign.toSeq)
    // monotone in the knob: relaxing the threshold never drops a kept vector
    val relaxed = Similarity.embedOutliersOn(emb, Similarity.KmeansCfg(dims = Similarity.Dims),
      cosMin = Similarity.OutlierCosMin - 0.05)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    spark.catalog.clearCache()
    assert(out.filter(_._4).forall { case (id, _, _, _) => relaxed(id) })
  }

  test("frozen-index IVF searches are bit-identical to the self-training forms") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.ops.Tables.embeddings(spark, dir)
    // kmeans IVF: registered (frozen quantizer) vs *On (retrains inline)
    val kmFrozen = Similarity.knnIvfKmeans(spark, dir).orderBy("q_id", "rank")
      .collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    val kmTrained = Similarity.knnIvfKmeansOn(emb, cfg = Similarity.KmeansCfg(dims = Similarity.Dims))
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    assert(kmFrozen === kmTrained)
    // IVF-PQ: frozen centroids + codebooks vs full inline training
    val pqFrozen = Similarity.knnIvfPq(spark, dir).orderBy("q_id", "rank")
      .collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    val pqTrained = Similarity.knnIvfPqOn(emb, kcfg = Similarity.KmeansCfg(dims = Similarity.Dims))
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    assert(pqFrozen === pqTrained)
  }

  test("IVF balance report recomputes from the cell assignment and is >= 1") {
    val dir = "/root/testdata/sf0.001"
    val (nCells, nVecs, minCell, maxCell, balance) =
      Similarity.ivfBalance(spark, dir)
        .as[(Long, Long, Long, Long, Double)].head()
    val cells = Similarity.kmeansAssign(spark, dir)
      .groupBy("cell").count().as[(Long, Long)].collect().toSeq
    assert(nCells === cells.size.toLong)
    assert(nVecs === cells.map(_._2).sum)
    assert(minCell === cells.map(_._2).min)
    assert(maxCell === cells.map(_._2).max)
    assert(minCell <= maxCell)
    // max cell >= mean cell, so the balance factor is always >= 1.0
    assert(balance >= 1.0, s"balance factor below 1: $balance")
    assert(balance ===
      graft.ops.Num.r6Double(maxCell.toDouble * nCells / nVecs))
  }

  test("covariance matrix: exact on a hand corpus, diagonal matches dim stats") {
    val hand = Seq(Array(1.0f, 2.0f), Array(3.0f, 4.0f), Array(5.0f, 6.0f))
      .toDF("embedding")
    val got = Similarity.covMatrixOn(hand, d = 2).orderBy("dim_i", "dim_j")
      .as[(Long, Long, Double)].collect().toSeq
    val c = graft.ops.Num.r6Double(8.0 / 3.0)
    assert(got === Seq((1L, 1L, c), (1L, 2L, c), (2L, 2L, c)))
    // real data: upper triangle is complete and the diagonal is the
    // dim-stats variance (std²) up to the two paths' rounding
    val dir = "/root/testdata/sf0.001"
    val cov = Similarity.covMatrix(spark, dir)
      .as[(Long, Long, Double)].collect().toSeq
    assert(cov.size === Similarity.Dims * (Similarity.Dims + 1) / 2)
    val diag = cov.filter(r => r._1 == r._2).map(r => r._1 -> r._3).toMap
    val stds = Similarity.dimStats(spark, dir)
      .select("dim", "std").as[(Long, Double)].collect().toMap
    stds.foreach { case (dim, std) =>
      assert(math.abs(diag(dim) - std * std) < 1e-5,
        s"dim $dim: cov ${diag(dim)} vs std² ${std * std}")
    }
  }

  test("sq8: dequantized cosines stay within quantization error of exact; recall near-perfect") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.ops.Tables.embeddings(spark, dir)
    val model = Similarity.sq8ModelOn(emb).orderBy("i").collect()
    val (lo, hi) = (model.map(_.getDouble(1)).toSeq, model.map(_.getDouble(2)).toSeq)
    assert(lo.length === Similarity.Dims)
    assert(lo.zip(hi).forall { case (l, h) => l <= h })
    val sq8 = Similarity.knnSq8On(emb, lo, hi)
      .as[(Long, Long, Long, Double)].collect()
    val bf = Similarity.knnBruteForceOn(emb)
      .as[(Long, Long, Long, Double)].collect()
    spark.catalog.clearCache()
    // per-coordinate quantization error ≤ step/2 = (hi-lo)/(2·255); with
    // unit-ish norms the cosine of probe vs dequantized neighbor moves by
    // O(dim · step) — bound it loosely at 0.05
    val bfCos = bf.map(r => (r._1, r._3) -> r._4).toMap
    val shared = sq8.flatMap(r => bfCos.get((r._1, r._3)).map(c => (r._4, c)))
    assert(shared.nonEmpty)
    shared.foreach { case (approx, exact) =>
      assert(math.abs(approx - exact) < 0.05, s"sq8 cosine drifted: $approx vs $exact")
    }
    // 8-bit quantization barely perturbs ranks: recall@5 ≥ 0.9
    val bfSet = bf.map(r => (r._1, r._3)).toSet
    val hit = sq8.count(r => bfSet.contains((r._1, r._3)))
    assert(hit.toDouble / bf.length >= 0.9, s"recall ${hit.toDouble / bf.length}")
  }

  test("nprobe curve: recall is monotone in nprobe and reaches exactly 1.0 at full probe") {
    val rows = Similarity.nprobeCurve(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(_._1) // by nprobe: the builder returns its rows unsorted
    assert(rows.map(_._1).toSeq === (1L to Similarity.KmeansK.toLong))
    // denominator is the brute-force truth at every sweep point
    assert(rows.map(_._2).distinct.length === 1, "truth-pair denominator drifted across the sweep")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._4, s"recall fell ${a._1}->${b._1}: ${a._4} > ${b._4}")
    }
    // probing every cell IS brute force: the last point must be exact
    assert(rows.last._4 === 1.0, s"full-probe recall ${rows.last._4} != 1.0")
    spark.catalog.clearCache()
  }

  test("pq distortion: one row per subspace, bounded utilization, frozen-model determinism") {
    val dir = "/root/testdata/sf0.001"
    val n = graft.ops.Tables.embeddings(spark, dir).count()
    val a = Similarity.pqDistortion(spark, dir).orderBy("sub").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    spark.catalog.clearCache()
    assert(a.map(_._1).toSeq === (0L until Similarity.PqM.toLong))
    a.foreach { case (sub, nv, used, err) =>
      assert(nv === n, s"sub $sub covers $nv of $n vectors")
      assert(used >= 1L && used <= Similarity.PqK.toLong, s"sub $sub used $used codes")
      assert(err >= 0.0, s"sub $sub negative distortion")
    }
    // frozen codebook: a second invocation reports the identical table
    val b = Similarity.pqDistortion(spark, dir).orderBy("sub").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    spark.catalog.clearCache()
    assert(a.toSeq === b.toSeq)
  }

  test("ivf update: incremental ledger equals a full reassignment of the new snapshot") {
    val emb = graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cent = Similarity.kmeansCentroidsOn(emb).persist()
    val old = emb.filter(pmod(col("vec_id"), lit(7)) =!= lit(1))
    val nw = emb.filter(pmod(col("vec_id"), lit(7)) =!= lit(2))
    val manifest = Similarity.assignCellsAgainstOn(old, cent).select("vec_id", "cell")
    val ledger = Similarity.ivfUpdateFrom(manifest, nw, cent).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // rebuild: assign the whole new snapshot from scratch
    val rebuilt = Similarity.assignCellsAgainstOn(nw, cent)
      .groupBy("cell").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cent.unpersist()
    assert(ledger.nonEmpty)
    ledger.foreach { case (cell, (nOld, nAdd, nRem, nNew)) =>
      assert(nNew === nOld + nAdd - nRem, s"cell $cell ledger arithmetic broken")
      assert(nNew === rebuilt.getOrElse(cell, 0L), s"cell $cell incremental != rebuild")
    }
    // conservation: every old vector is either carried or removed, every
    // new vector either carried or added
    assert(ledger.values.map(_._1).sum === old.count())
    assert(ledger.values.map(_._4).sum === nw.count())
  }

  test("ivf retrain decision: balanced ledger keeps, each forced degradation flips its own trigger") {
    import spark.implicits._
    def decide(rows: Seq[(Long, Long, Long, Long, Long)]) = {
      val led = rows.toDF("cell", "n_old", "n_added", "n_removed", "n_new")
      val r = Similarity.ivfRetrainFrom(led).collect().head
      (r.getAs[Boolean]("trigger_balance"), r.getAs[Boolean]("trigger_churn"),
        r.getAs[Boolean]("trigger_empty"), r.getAs[String]("verdict"))
    }
    // healthy: 4 even cells, tiny churn
    val even = Seq.tabulate(4)(i => (i.toLong, 100L, 1L, 1L, 100L))
    assert(decide(even) === ((false, false, false, "keep")))
    // skew: one cell holds most of the post-update corpus → balance fires
    val skewed = Seq((0L, 100L, 0L, 0L, 370L), (1L, 100L, 0L, 0L, 10L),
      (2L, 100L, 0L, 0L, 10L), (3L, 100L, 0L, 0L, 10L))
    assert(decide(skewed) === ((true, false, false, "retrain")))
    // churn: 30% of the old corpus added+removed → churn fires alone
    val churned = Seq.tabulate(4)(i => (i.toLong, 100L, 8L, 7L, 101L))
    assert(decide(churned) === ((false, true, false, "retrain")))
    // outage: a previously-occupied cell emptied → empty fires alone
    val emptied = Seq((0L, 100L, 1L, 1L, 134L), (1L, 100L, 1L, 1L, 133L),
      (2L, 100L, 1L, 1L, 133L), (3L, 100L, 1L, 1L, 0L))
    assert(decide(emptied) === ((false, false, true, "retrain")))
    // a NEVER-occupied cell (Lloyd converged with an unused cluster) is the
    // quantizer's standing shape, not an update signal: must NOT wedge the
    // alarm on (balance is over occupied mass: 100*4/300 = 1.33, no fire)
    val neverUsed = Seq((0L, 100L, 1L, 1L, 100L), (1L, 100L, 1L, 1L, 100L),
      (2L, 100L, 1L, 1L, 100L), (3L, 0L, 0L, 0L, 0L))
    assert(decide(neverUsed) === ((false, false, false, "keep")))
    // the registered corpus form returns one row with a definite verdict
    val real = Similarity.ivfRetrain(spark, "/root/testdata/sf0.001").collect()
    spark.catalog.clearCache()
    assert(real.length === 1)
    assert(Set("keep", "retrain").contains(real.head.getAs[String]("verdict")))
  }

  test("ivf warehouse update: chained deltas (add, remove, re-add, change) equal the from-scratch assignment") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.ops.Tables.embeddings(spark, dir)
    val cent = Similarity.kmeansCentroidsOn(emb).persist()
    val r = pmod(col("vec_id"), lit(7))
    val s0 = emb.filter(r =!= lit(1) && r =!= lit(2))
    val s1 = emb.filter(r =!= lit(2) && r =!= lit(3)) // re-adds class 1, retires 3
    val s2 = emb.filter(r =!= lit(3))                 // re-adds class 2...
      .withColumn("embedding",                        // ...and CHANGES class 4
        when(r === lit(4), transform(col("embedding"), x => negate(x)))
          .otherwise(col("embedding")))
    def m(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val m0 = Similarity.assignCellsAgainstOn(s0, cent).select("vec_id", "cell")
    val m1 = Similarity.ivfWarehouseUpdateOn(s0, s1, m0, cent)
    val m2 = Similarity.ivfWarehouseUpdateOn(s1, s2, m1, cent)
    val got = m(m2)
    val want = m(Similarity.assignCellsAgainstOn(s2, cent))
    cent.unpersist()
    assert(got === want)
    // the change genuinely moved at least one vector's cell (a no-op
    // revision would make the carried-vs-fresh split untestable)
    val before = m(m1)
    assert(got.exists { case (id, cell) => id % 7 == 4 && before.get(id).exists(_ != cell) },
      "negating class 4 moved no vector — the changed path went unexercised")
  }

  test("ivf warehouse update: the no-churn update is a fixpoint (every manifest row carries through)") {
    // the dedup/manifest families' fixpoint contract, ANN edition: an
    // identical snapshot must carry EVERY assignment row — nothing gets
    // re-scored, retired, or duplicated
    val dir = "/root/testdata/sf0.001"
    val emb = graft.ops.Tables.embeddings(spark, dir)
    val cent = Similarity.kmeansCentroidsOn(emb).persist()
    val m0 = Similarity.assignCellsAgainstOn(emb, cent).select("vec_id", "cell")
      .localCheckpoint()
    val rolled = Similarity.ivfWarehouseUpdateOn(emb, emb, m0, cent)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    val want = m0.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    cent.unpersist()
    assert(rolled.nonEmpty && rolled === want)
  }

  test("property: N random vector deltas chained through the warehouse update equal the from-scratch assignment") {
    // The ANN induction step, matching the dedup/manifest standard: chain
    // THREE random snapshot deltas (per-id random retire / re-embed /
    // carry / add over a small vector pool, empty and drained snapshots
    // included) against a FIXED hand quantizer, and require the rolled
    // manifest to equal a from-scratch assignment of the final snapshot.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val pool = Vector(
      Array(1.0f, 0.1f, 0.0f, 0.0f), Array(0.9f, 0.2f, 0.1f, 0.0f),
      Array(0.0f, 0.1f, 1.0f, 0.3f), Array(0.1f, 0.0f, 0.8f, 0.5f),
      Array(-1.0f, 0.0f, 0.2f, 0.1f), Array(0.0f, 1.0f, 0.0f, -0.4f))
    val cent = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)), (2L, Seq(0.0, 0.0, 1.0, 0.0)),
      (3L, Seq(-0.7, 0.7, 0.0, 0.0)))
      .toDF("cent_id", "centroid")
      .withColumn("c_nrm", sqrt(Similarity.dot(col("centroid"), col("centroid"))))
    def seqGen[A](gs: List[Gen[A]]): Gen[List[A]] =
      gs.foldRight(Gen.const(List.empty[A]))((g, acc) => for { h <- g; t <- acc } yield h :: t)
    def stepGen(cur: Map[Long, Int]): Gen[Map[Long, Int]] =
      seqGen((1L to 8L).toList.map { id =>
        cur.get(id) match {
          case Some(v) => Gen.frequency(
            2 -> Gen.const(id -> Option.empty[Int]),
            3 -> Gen.choose(0, pool.size - 1).suchThat(_ != v).map(nv => id -> Option(nv)),
            5 -> Gen.const(id -> Option(v)))
          case None => Gen.frequency(
            3 -> Gen.choose(0, pool.size - 1).map(nv => id -> Option(nv)),
            7 -> Gen.const(id -> Option.empty[Int]))
        }
      }).map(_.collect { case (id, Some(v)) => id -> v }.toMap)
    val chainGen = for {
      s0 <- stepGen((1L to 8L).map(_ -> 0).toMap)
      s1 <- stepGen(s0)
      s2 <- stepGen(s1)
      s3 <- stepGen(s2)
    } yield List(s0, s1, s2, s3)
    def df(state: Map[Long, Int]) =
      state.toSeq.sortBy(_._1).map { case (id, v) => (id, pool(v)) }
        .toDF("vec_id", "embedding")
    def m(x: org.apache.spark.sql.DataFrame) =
      x.select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prop = Prop.forAll(chainGen) { chain =>
      val snaps = chain.map(df)
      var manifest = Similarity.assignCellsAgainstOn(snaps.head, cent)
        .select("vec_id", "cell").localCheckpoint()
      for ((prev, next) <- snaps.zip(snaps.tail))
        manifest = Similarity.ivfWarehouseUpdateOn(prev, next, manifest, cent)
          .localCheckpoint()
      val got = m(manifest)
      val want = m(Similarity.assignCellsAgainstOn(snaps.last, cent))
      Prop(got == want) :| s"rolled manifest drifted: $got vs $want"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("pq retrain decision: healthy keeps, each forced degradation flips its own trigger") {
    val evenIvf = Seq.tabulate(4)(i => (i.toLong, 100L, 1L, 1L, 100L))
    val churnedIvf = Seq.tabulate(4)(i => (i.toLong, 100L, 8L, 7L, 101L))
    def decide(base: Seq[(Long, Long, Long, Double)], nw: Seq[(Long, Long, Long, Double)],
               ivf: Seq[(Long, Long, Long, Long, Long)]) = {
      val r = Similarity.pqRetrainFrom(
        base.toDF("sub", "n_vecs", "n_codes_used", "mean_sq_err"),
        nw.toDF("sub", "n_vecs", "n_codes_used", "mean_sq_err"),
        ivf.toDF("cell", "n_old", "n_added", "n_removed", "n_new")).collect().head
      (r.getAs[Boolean]("trigger_drift"), r.getAs[Boolean]("trigger_util"),
        r.getAs[Boolean]("trigger_churn"), r.getAs[String]("verdict"))
    }
    val healthyLed = Seq.tabulate(4)(i => (i.toLong, 400L, 30L, 0.05))
    // healthy: flat distortion, live codewords, tiny churn
    assert(decide(healthyLed, healthyLed, evenIvf) === ((false, false, false, "keep")))
    // drift: corpus-mean distortion rises 1.5× past the 1.2 gate
    val drifted = healthyLed.map { case (s, n, c, m) => (s, n, c, m * 1.5) }
    assert(decide(healthyLed, drifted, evenIvf) === ((true, false, false, "retrain")))
    // utilization: ONE subspace's live codewords collapse below PqK/2
    val collapsed = healthyLed.updated(2, (2L, 400L, Similarity.PqK / 2L - 1L, 0.05))
    assert(decide(healthyLed, collapsed, evenIvf) === ((false, true, false, "retrain")))
    // churn: 30% of the old corpus added+removed → churn fires alone
    assert(decide(healthyLed, healthyLed, churnedIvf) === ((false, false, true, "retrain")))
    // boundary: drift exactly AT the gate (strict >) keeps
    val atGate = healthyLed.map { case (s, n, c, m) => (s, n, c, m * Similarity.PqDriftMax) }
    assert(decide(healthyLed, atGate, evenIvf) === ((false, false, false, "keep")))
    // the registered corpus form returns one row with a definite verdict
    val real = Similarity.pqRetrain(spark, "/root/testdata/sf0.001").collect()
    spark.catalog.clearCache()
    assert(real.length === 1)
    assert(real.head.getAs[Long]("n_subs") === Similarity.PqM.toLong)
    assert(Set("keep", "retrain").contains(real.head.getAs[String]("verdict")))
  }

  test("probe pick: count is the fixed budget and the set is invariant under corpus growth") {
    val base = graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.001")
    assert(base.count() > Similarity.ProbeBudget, "vacuous: corpus smaller than the budget")
    def probeIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
      Similarity.probeFilter(df).select("vec_id").as[Long].collect().toSet
    val pBase = probeIds(base)
    assert(pBase.size === Similarity.ProbeBudget, "probe count must equal the budget exactly")
    // grow the corpus 2x under fresh ids: the probe count DOES NOT grow
    // (the O(n²/stride) shape this pick replaced), and churn is only
    // displacement by NEW entrants — an existing non-probe can never
    // become a probe, so eval series stay comparable across ingests
    val grown = base.unionByName(base.withColumn("vec_id", col("vec_id") + lit(1000000L)))
    val pGrown = probeIds(grown)
    assert(pGrown.size === Similarity.ProbeBudget, "probe count grew with the corpus")
    val entrants = pGrown.filter(_ >= 1000000L)
    assert(entrants.nonEmpty, "vacuous: no new id entered the smallest-K (hash degeneracy?)")
    assert((pGrown -- entrants).subsetOf(pBase), "an old non-probe was promoted to probe")
    assert((pBase -- pGrown).size === entrants.size, "churn must equal the new entrants")
    // corpora below the budget probe every vector
    assert(probeIds(base.limit(7)).size === 7)
    // the pick commutes with row-multiplying transforms: the exploded
    // per-subspace PQ frame picks the same vectors as the base frame
    val exploded = base.withColumn("sub", explode(lit(Array(0, 1, 2))))
    assert(probeIds(exploded) === pBase)
  }
}
