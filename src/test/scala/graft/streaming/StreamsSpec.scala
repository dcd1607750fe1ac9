package graft.streaming

import graft.SparkSpec
import graft.queries.{Micro, Sessions}
import org.apache.spark.sql.functions._

/** Batch/stream parity: the streaming plans must produce exactly the rows
  * their batch twins produce on the same bounded input. */
class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("streaming tumbling window matches the batch tumbling window") {
    // Complete mode: with bounded input + append, the final watermark never
    // advances past the last windows, so they would never emit
    val streamed = Streams.runToMemory(spark,
      Streams.tumblingCounts(Streams.readEventsStream(spark, sfDir)), "t_tumbling",
      org.apache.spark.sql.streaming.OutputMode.Complete())
      .select(unix_micros(col("win_start")).as("win_start_us"), col("event_type"),
        col("n_events"), graft.ops.Num.r6(col("sum_value")).as("sum_value"))
      .orderBy("win_start_us", "event_type")
      .collect()
    val batch = Micro.tumblingWindow(spark, sfDir).orderBy("win_start_us", "event_type").collect()
    assert(streamed.length === batch.length)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming sliding window matches the batch sliding window") {
    val streamed = Streams.runToMemory(spark,
      Streams.slidingCounts(Streams.readEventsStream(spark, sfDir)), "t_sliding",
      org.apache.spark.sql.streaming.OutputMode.Complete())
      .select(unix_micros(col("win_start")).as("win_start_us"), col("event_type"),
        col("n_events"), graft.ops.Num.r6(col("sum_value")).as("sum_value"))
      .orderBy("win_start_us", "event_type")
      .collect()
    val batch = Micro.slidingWindow(spark, sfDir).orderBy("win_start_us", "event_type").collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stream-static enrichment join matches the batch broadcast join") {
    val streamed = Streams.runToMemory(spark,
      Streams.enrichWithCustomer(Streams.readEventsStream(spark, sfDir),
        graft.ops.Tables.customer(spark, sfDir)), "t_enrich")
      .select("event_id", "c_mktsegment")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = graft.ops.Tables.events(spark, sfDir)
      .join(graft.ops.Tables.customer(spark, sfDir),
        col("user_id") === col("c_custkey"))
      .select("event_id", "c_mktsegment")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("watermarked stream-stream interval join matches the batch range join") {
    val streamed = Streams.runToMemory(spark,
      Streams.clickViewJoin(Streams.readEventsStream(spark, sfDir)), "t_ssjoin")
      .select("click_event_id", "v_ts_us")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = graft.ops.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
    val batch = ev.filter(col("event_type") === "click").as("c")
      .join(ev.filter(col("event_type") === "view").as("v"),
        col("c.user_id") === col("v.user_id") &&
          col("v.ts_us") <= col("c.ts_us") &&
          col("v.ts_us") >= col("c.ts_us") - lit(30L * 60 * 1000000))
      .select(col("c.event_id"), col("v.ts_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("stream-stream join equals w_click_attribution doc-for-doc across micro-batches") {
    // time-sliced micro-batches with a cut placed INSIDE a known
    // click-view pair: the click arrives in a later batch than its view,
    // so the pair can only emit if the view survives in the state store
    // across batches (the case the single-file stream never exercises)
    val batch = graft.queries.Sessions.clickAttribution(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toSeq.sorted
    assert(batch.nonEmpty, "degenerate corpus: no click-view pairs in window")
    val spanning = batch.filter { case (_, _, cTs, _, vTs, _) => vTs < cTs }
    assert(spanning.nonEmpty, "degenerate corpus: every pair is simultaneous")
    // cut at the view's timestamp: view lands in the earlier slice
    // (ts <= cut), its click in a later one — plus a tercile cut for bulk
    val ts = graft.ops.Tables.events(spark, sfDir)
      .select(unix_micros(col("ts"))).as[Long].collect().sorted
    val cutInsidePair = spanning.head._5
    val cuts = Seq(cutInsidePair, ts(2 * ts.length / 3)).distinct
    val streamed = Streams.runToMemory(spark,
      Streams.clickViewJoin(timeSlicedEventStream("ssjoin", cuts)
        .select("event_id", "user_id", "event_type", "ts", "value")), "t_ssjoin_sliced")
      .select("click_event_id", "user_id", "c_ts_us", "view_event_id", "v_ts_us", "view_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toSeq.sorted
    // sorted-Seq equality = doc-for-doc INCLUDING multiplicity: a dropped
    // pair (e.g. the cross-batch one), an extra pair, or a double-emit all fail
    assert(streamed === batch,
      s"missing: ${(batch.toSet -- streamed.toSet).take(3)}; extra: ${(streamed.toSet -- batch.toSet).take(3)}")
    // the cross-batch case actually occurred by construction
    assert(batch.exists { case (_, _, cTs, _, vTs, _) =>
      vTs <= cutInsidePair && cTs > cutInsidePair },
      "no pair spans the engineered cut — slicing logic broken")
  }

  test("left-outer stream-stream join: matches equal the inner twin, nulls equal the batch anti join up to the watermark") {
    val streamed = Streams.runToMemory(spark,
      Streams.clickViewLeftJoin(timeSlicedEventStream("ssleft")
        .select("event_id", "user_id", "event_type", "ts", "value")), "t_ssjoin_left")
      .collect()
    val matched = streamed.filter(!_.isNullAt(3))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toSeq.sorted
    val batchInner = graft.queries.Sessions.clickAttribution(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toSeq.sorted
    // matched rows are exactly the inner join's rows
    assert(matched === batchInner)
    // every null-padded row is a genuinely unattributed click (no false nulls)
    val nullClicks = streamed.filter(_.isNullAt(3)).map(r => r.getLong(0)).toSeq
    assert(nullClicks.length === nullClicks.distinct.length, "a null row double-emitted")
    val batchUnattributed = graft.queries.Sessions.unattributed(spark, sfDir)
      .select("click_event_id", "c_ts_us").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    nullClicks.foreach { id =>
      assert(batchUnattributed.contains(id), s"click $id null-emitted but batch attributes it")
    }
    // completeness up to the final watermark: a click's null row may only
    // emit once the watermark proves no matching view can arrive, so
    // clicks inside the final horizon legitimately never emit — but every
    // unattributed click strictly OLDER than the final global watermark
    // minus the join window must have its null row. The global watermark
    // is the MIN across the two watermarked inputs, each of which sees
    // only ITS filtered event type (a later purchase advances neither)
    val typeMax = graft.ops.Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "view"))
      .groupBy("event_type").agg(max(unix_micros(col("ts"))).as("m"))
      .collect().map(_.getLong(1)).min
    val horizon = typeMax - 3600L * 1000000 - 30L * 60 * 1000000
    val due = batchUnattributed.filter { case (_, cTs) => cTs < horizon }.keySet
    assert(due.nonEmpty, "degenerate corpus: every unattributed click sits in the final horizon")
    val emitted = nullClicks.toSet
    assert(due.subsetOf(emitted),
      s"watermark-closed unattributed clicks missing null rows: ${(due -- emitted).take(5)}")
  }

  test("streaming forward as-of matches the batch row up to the final watermark, across a cut inside a resolution") {
    // batch truth: (purchase, earliest later view) incl. the unresolved nulls
    val batch = graft.queries.Sessions.asofForward(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some((r.getLong(3), r.getLong(4), r.getDouble(5)))))
    val resolvedBatch = batch.collect { case (id, u, ts, Some((qid, qts, qv))) =>
      (id, u, ts, qid, qts, qv) }
    // a purchase whose resolving view lies strictly LATER: cut between
    // them puts the purchase in an earlier micro-batch than its view, so
    // the pending purchase must survive the state store across batches
    val spanning = resolvedBatch.filter { case (_, _, ts, _, qts, _) => qts > ts }
    assert(spanning.nonEmpty, "degenerate corpus: every as-of resolution is simultaneous")
    val (spanId, _, spanTs, _, spanQts, _) = spanning.minBy { case (_, _, ts, _, qts, _) => qts - ts }
    val streamed = Streams.runToMemory(spark,
        Streams.asofForwardUpdates(
          timeSlicedEventStream("asoffwd", Seq((spanTs + spanQts) / 2))
            .select("event_id", "user_id", "event_type", "ts_us", "value")
            .as[Streams.AsofEvent], "0 seconds").toDF(), "t_asof_fwd")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toSeq.sorted
    // append-once across batches and timers
    assert(streamed.map(_._1).distinct.length === streamed.length, "a purchase re-emitted")
    // with delay 0 the final watermark is the global max event time —
    // MILLISECOND-truncated, because Spark's watermark (and the operator's
    // getCurrentWatermarkMs seal) carries ms granularity: a candidate
    // inside the final watermark's truncated millisecond is legitimately
    // withheld, so the due set must use the same floor
    val wmUs = graft.ops.Tables.events(spark, sfDir)
      .agg(max(unix_micros(col("ts")))).head().getLong(0) / 1000L * 1000L
    val due = resolvedBatch.filter(_._5 < wmUs).toSeq.sorted
    assert(due.nonEmpty, "degenerate corpus: no sealable resolution")
    assert(streamed === due,
      s"missing: ${(due.toSet -- streamed.toSet).take(3)}; extra: ${(streamed.toSet -- due.toSet).take(3)}")
    // the engineered cross-batch resolution actually emitted
    assert(streamed.exists(_._1 === spanId), "the cut-spanning purchase did not resolve")
  }

  test("forward as-of with a horizon: beyond-horizon candidates drop, candidate-less purchases emit nulls at horizon close") {
    // horizon = median resolution gap of the unbounded forward rows, so
    // both regimes are populated: pairs inside it resolve, pairs beyond
    // it become horizon nulls
    val gaps = graft.queries.Sessions.asofForward(spark, sfDir).collect()
      .collect { case r if !r.isNullAt(3) => r.getLong(4) - r.getLong(2) }.sorted
    assert(gaps.nonEmpty && gaps.last > gaps(gaps.length / 2),
      "degenerate corpus: every resolution gap identical — horizon untestable")
    val h = gaps(gaps.length / 2)
    // batch truth: the REGISTERED bounded-horizon op at the same horizon
    val batch = graft.queries.Sessions
      .asofHorizonOn(graft.ops.Tables.events(spark, sfDir), horizonUs = h).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some((r.getLong(3), r.getLong(4), r.getDouble(5)))))
    val streamed = Streams.runToMemory(spark,
        Streams.asofForwardUpdates(
          timeSlicedEventStream("asoffwdh")
            .select("event_id", "user_id", "event_type", "ts_us", "value")
            .as[Streams.AsofEvent], "0 seconds", horizonUs = Some(h)).toDF(), "t_asof_fwd_h")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some((r.getLong(3), r.getLong(4), r.getDouble(5)))))
      .toSeq.sortBy(_._1)
    assert(streamed.map(_._1).distinct.length === streamed.length, "a purchase re-emitted")
    // ms-truncated final watermark (delay 0), as in the unbounded twin test
    val wmUs = graft.ops.Tables.events(spark, sfDir)
      .agg(max(unix_micros(col("ts")))).head().getLong(0) / 1000L * 1000L
    // due = the batch op's rows the watermark seals: matched rows once it
    // strictly passes the candidate, null rows once it passes ts + h
    val dueResolved = batch.collect {
      case (id, u, ts, Some(c)) if c._2 < wmUs => (id, u, ts, Some(c)) }
    val dueNull = batch.collect {
      case (id, u, ts, None) if ts + h < wmUs => (id, u, ts, None) }
    assert(dueResolved.nonEmpty && dueNull.nonEmpty,
      "degenerate horizon: one regime empty — pick a different quantile")
    val due = (dueResolved ++ dueNull).toSeq.sortBy(_._1)
    assert(streamed === due,
      s"missing: ${(due.toSet -- streamed.toSet).take(3)}; extra: ${(streamed.toSet -- due.toSet).take(3)}")
  }

  test("streaming backward as-of matches the batch join INCLUDING nulls up to the final watermark") {
    // backward rows are fully final at the watermark, so unlike the
    // forward twin the parity covers unresolved purchases too
    val batch = graft.queries.Sessions.asofJoin(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some((r.getLong(3), r.getLong(4), r.getDouble(5)))))
    // a purchase whose quote lies strictly EARLIER: cut between them so
    // the view enters state in an earlier micro-batch (carry-forward path)
    val spanning = batch.collect {
      case (id, u, ts, Some((qid, qts, qv))) if qts < ts => (id, u, ts, qid, qts, qv) }
    assert(spanning.nonEmpty, "degenerate corpus: every backward match is simultaneous")
    val (spanId, _, spanTs, _, spanQts, _) = spanning.minBy { case (_, _, ts, _, qts, _) => ts - qts }
    val streamed = Streams.runToMemory(spark,
        Streams.asofBackwardUpdates(
          timeSlicedEventStream("asofbwd", Seq((spanQts + spanTs) / 2))
            .select("event_id", "user_id", "event_type", "ts_us", "value")
            .as[Streams.AsofEvent], "0 seconds").toDF(), "t_asof_bwd")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some((r.getLong(3), r.getLong(4), r.getDouble(5)))))
      .toSeq.sortBy(_._1)
    assert(streamed.map(_._1).distinct.length === streamed.length, "a purchase re-emitted")
    // due = every batch row (null or not) whose purchase ts lies strictly
    // before the ms-truncated final watermark
    val wmUs = graft.ops.Tables.events(spark, sfDir)
      .agg(max(unix_micros(col("ts")))).head().getLong(0) / 1000L * 1000L
    val due = batch.filter(_._3 < wmUs).toSeq.sortBy(_._1)
    assert(due.nonEmpty && streamed === due,
      s"missing: ${(due.toSet -- streamed.toSet).take(3)}; extra: ${(streamed.toSet -- due.toSet).take(3)}")
    // null rows actually emitted (backward's distinguishing property) and
    // the engineered cross-batch carry-forward resolved
    assert(streamed.exists(_._4.isEmpty), "no null rows — backward finality not exercised")
    assert(streamed.exists(_._1 === spanId), "the cut-spanning purchase did not resolve")
  }

  test("property: backward as-of state machine equals the batch window on random event sets") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val ev = for {
      u <- Gen.choose(0L, 3L)
      tpe <- Gen.oneOf("view", "purchase", "click")
      ts <- Gen.choose(0L, 12L)
      v <- Gen.choose(0, 99)
    } yield (u, tpe, ts, v.toDouble)
    val prop = Prop.forAll(Gen.listOfN(40, ev)) { evs =>
      val df = evs.zipWithIndex
        .map { case ((u, t, ts, v), i) => (i.toLong, u, t, ts, v) }
        .toDF("event_id", "user_id", "event_type", "ts_us", "value")
      val got = Streams.asofBackwardUpdates(df.as[Streams.AsofEvent])
        .collect().map(r => (r.event_id, r.user_id, r.ts_us,
          r.quote_event_id, r.quote_ts_us, r.quote_value)).toSet
      val want = graft.queries.Sessions.asofJoinOn(
          df.select(col("event_id"), col("user_id"), col("event_type"),
            timestamp_micros(col("ts_us")).as("ts"), col("value")))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toSet
      got == want // EVERY purchase row, nulls included
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: horizon as-of state machine equals the batch bounded-horizon op on random event sets") {
    // batch-execution mode (no watermark): every purchase either resolves
    // inside its horizon or horizon-expires to a null row, so — unlike the
    // unbounded forward property, which must exclude the withheld nulls —
    // this parity covers the registered batch op COMPLETELY, nulls
    // included, across random horizons on tie-dense random frames.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val ev = for {
      u <- Gen.choose(0L, 3L)
      tpe <- Gen.oneOf("view", "purchase", "click")
      ts <- Gen.choose(0L, 12L)
      v <- Gen.choose(0, 99)
    } yield (u, tpe, ts, v.toDouble)
    val input = for {
      evs <- Gen.listOfN(40, ev)
      h <- Gen.choose(0L, 14L)
    } yield (evs, h)
    val prop = Prop.forAll(input) { case (evs, h) =>
      val df = evs.zipWithIndex
        .map { case ((u, t, ts, v), i) => (i.toLong, u, t, ts, v) }
        .toDF("event_id", "user_id", "event_type", "ts_us", "value")
      val got = Streams.asofForwardUpdates(df.as[Streams.AsofEvent],
          horizonUs = Some(h))
        .collect().map(r => (r.event_id, r.user_id, r.ts_us,
          r.quote_event_id, r.quote_ts_us, r.quote_value)).toSet
      val want = graft.queries.Sessions.asofHorizonOn(
          df.select(col("event_id"), col("user_id"), col("event_type"),
            timestamp_micros(col("ts_us")).as("ts"), col("value")), horizonUs = h)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toSet
      got == want // EVERY purchase row, horizon nulls included
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: forward as-of state machine equals the batch window on random event sets") {
    // batch-execution mode of the fMGWS operator (no watermark → every
    // candidate resolves) vs the registered window-based twin, on random
    // frames dense in ties: same-timestamp views (the min-event_id dedup
    // rule), views before/at/after purchases, multiple purchases per user
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val ev = for {
      u <- Gen.choose(0L, 3L)
      tpe <- Gen.oneOf("view", "purchase", "click")
      ts <- Gen.choose(0L, 12L) // tiny domain → heavy tie pressure
      v <- Gen.choose(0, 99)
    } yield (u, tpe, ts, v.toDouble)
    val prop = Prop.forAll(Gen.listOfN(40, ev)) { evs =>
      val df = evs.zipWithIndex
        .map { case ((u, t, ts, v), i) => (i.toLong, u, t, ts, v) }
        .toDF("event_id", "user_id", "event_type", "ts_us", "value")
      val got = Streams.asofForwardUpdates(df.as[Streams.AsofEvent])
        .collect().map(r => (r.event_id, r.user_id, r.ts_us,
          r.quote_event_id.get, r.quote_ts_us.get, r.quote_value.get)).toSet
      val want = graft.queries.Sessions.asofForwardOn(
          df.select(col("event_id"), col("user_id"), col("event_type"),
            timestamp_micros(col("ts_us")).as("ts"), col("value")))
        .collect().filterNot(_.isNullAt(3))
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
      got == want // resolved set identical; unresolved (null) rows withheld
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: out-of-order delivery under a NONZERO watermark delay — as-of outputs equal the batch twins over non-late rows") {
    // Every other as-of parity runs at watermark delay 0 on in-order
    // slices; this is the other half of the watermark contract (VERDICT
    // r13 #4): random event sets delivered OUT OF ORDER across three
    // micro-batches (arrival batch independent of event time) under a
    // nonzero withWatermark delay. Expected semantics, from Spark's
    // documented watermark mechanics — the watermark updates at batch
    // start to (max event time seen in prior batches, ms-truncated) minus
    // the delay, and rows older than it are dropped before the stateful
    // operator:
    //   survivors = rows not late at their arrival batch,
    //   output    = the batch twin over the SURVIVORS, restricted to the
    //               rows the FINAL watermark seals (forward: candidate
    //               passed; horizon: candidate passed or horizon closed;
    //               backward: purchase passed).
    // One Spark subtlety the failure of the naive model exposed (and this
    // property now pins): late-event FILTERING uses the watermark with a
    // ONE-BATCH LAG (the value in effect during the previous micro-batch,
    // SPARK-24634's late-events/eviction split), while sealing/timers use
    // the current batch's watermark — so a row can be older than the
    // current watermark yet still be admitted in the batch right after
    // the watermark jumped.
    // Event times sit on whole seconds and delays on half-seconds, so no
    // comparison ever lands on a boundary (strict-vs-inclusive
    // immaterial), isolating the drop semantics from tie semantics.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val S = 1000000L
    val ev = for {
      u <- Gen.choose(0L, 2L)
      tpe <- Gen.oneOf("view", "purchase", "click")
      tsSec <- Gen.choose(1L, 12L)
      v <- Gen.choose(0, 99)
      b <- Gen.choose(0, 2) // arrival micro-batch, independent of ts
    } yield (u, tpe, tsSec * S, v.toDouble, b)
    val input = for {
      evs <- Gen.listOfN(30, ev)
      delayMs <- Gen.oneOf(500L, 1500L, 2500L)
      hSec <- Gen.oneOf(2L, 5L, 9L)
    } yield (evs, delayMs, hSec * S)
    var run = 0
    var sawLateDrop = false
    var sawEmit = false
    // forAllNoShrink: each candidate costs three real streaming runs, and
    // shrinking also escapes the generator's boundary-safe domains
    val prop = Prop.forAllNoShrink(input) { case (evs, delayMs, h) =>
      run += 1
      val rows = evs.zipWithIndex.map { case ((u, t, ts, v, b), i) =>
        (i.toLong, u, t, ts, v, b) }
      val base = Files.createTempDirectory("graft_ooo_asof").toString
      Files.createDirectories(Paths.get(s"$base/in"))
      (0 to 2).foreach { b =>
        val tmp = s"$base/tmp$b"
        rows.filter(_._6 == b).map { case (id, u, t, ts, v, _) => (id, u, t, ts, v) }
          .toDF("event_id", "user_id", "event_type", "ts_us", "value")
          .coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
        Files.move(part.toPath, Paths.get(s"$base/in/b$b.parquet"), StandardCopyOption.ATOMIC_MOVE)
        Thread.sleep(20)
      }
      def stream = spark.readStream
        .schema("event_id LONG, user_id LONG, event_type STRING, ts_us LONG, value DOUBLE")
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
        .as[Streams.AsofEvent]
      val delay = s"$delayMs milliseconds"
      // the simulated watermark trajectory and the surviving (non-late)
      // rows: wmEvict (current batch) advances from prior batches' max
      // event time; wmLate (the admission filter) lags it by one batch
      var wmEvict = 0L
      var wmLate = 0L
      var maxSeen = Long.MinValue
      val surv = Seq.newBuilder[(Long, Long, String, Long, Double)]
      (0 to 2).foreach { b =>
        val batch = rows.filter(_._6 == b)
        surv ++= batch.filter(_._4 >= wmLate).map { case (id, u, t, ts, v, _) => (id, u, t, ts, v) }
        if (batch.nonEmpty) maxSeen = math.max(maxSeen, batch.map(_._4).max)
        wmLate = wmEvict
        if (maxSeen != Long.MinValue)
          wmEvict = math.max(wmEvict, math.max(0L, (maxSeen / 1000L - delayMs) * 1000L))
      }
      val survRows = surv.result()
      if (survRows.size < rows.size) sawLateDrop = true
      val wmF = wmEvict
      val survDf = survRows.toDF("event_id", "user_id", "event_type", "ts_us", "value")
        .localCheckpoint()
      val tw = survDf.select(col("event_id"), col("user_id"), col("event_type"),
        timestamp_micros(col("ts_us")).as("ts"), col("value"))
      def opt(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some((r.getLong(3), r.getLong(4), r.getDouble(5))))
      // FORWARD: resolved rows whose candidate the final watermark passed
      val gotFwd = Streams.runToMemory(spark,
          Streams.asofForwardUpdates(stream, delay).toDF(), s"ooo_fwd_$run")
        .collect().map(opt).toSet
      val wantFwd = graft.queries.Sessions.asofForwardOn(tw).collect()
        .map(opt).filter(_._4.exists(_._2 < wmF)).toSet
      // HORIZON: resolved once the candidate passed; null once ts+h passed
      val gotHor = Streams.runToMemory(spark,
          Streams.asofForwardUpdates(stream, delay, horizonUs = Some(h)).toDF(), s"ooo_hor_$run")
        .collect().map(opt).toSet
      val wantHor = graft.queries.Sessions.asofHorizonOn(tw, horizonUs = h).collect()
        .map(opt).filter(r => r._4.map(_._2 < wmF).getOrElse(r._3 + h < wmF)).toSet
      // BACKWARD: every row (nulls included) whose purchase ts passed
      val gotBwd = Streams.runToMemory(spark,
          Streams.asofBackwardUpdates(stream, delay).toDF(), s"ooo_bwd_$run")
        .collect().map(opt).toSet
      val wantBwd = graft.queries.Sessions.asofJoinOn(tw).collect()
        .map(opt).filter(_._3 < wmF).toSet
      if (gotFwd.nonEmpty || gotHor.nonEmpty || gotBwd.nonEmpty) sawEmit = true
      Seq(s"ooo_fwd_$run", s"ooo_hor_$run", s"ooo_bwd_$run")
        .foreach(spark.catalog.dropTempView(_))
      (Prop(gotFwd == wantFwd) :| s"forward drifted: missing ${(wantFwd -- gotFwd).take(2)} extra ${(gotFwd -- wantFwd).take(2)} wm=$wmF surv=${survRows.size}/${rows.size}") &&
        (Prop(gotHor == wantHor) :| s"horizon drifted: missing ${(wantHor -- gotHor).take(2)} extra ${(gotHor -- wantHor).take(2)} h=$h wm=$wmF") &&
        (Prop(gotBwd == wantBwd) :| s"backward drifted: missing ${(wantBwd -- gotBwd).take(2)} extra ${(gotBwd -- wantBwd).take(2)} wm=$wmF")
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
    assert(sawLateDrop, "no sample dropped a late row — the property never left the delay-0 regime")
    assert(sawEmit, "no sample emitted anything — the parity was vacuous")
  }

  test("property: append-mode windowed aggregation under out-of-order delivery and a NONZERO delay seals exactly the non-late windows") {
    // the AGGREGATION-family instance of the watermark contract: unlike
    // the fMGWS operators (row-level admission on event time), a windowed
    // aggregate admits a row iff its WINDOW is still open — a row older
    // than the watermark whose window end is still ahead of it
    // contributes normally. Model: row admitted at batch k iff
    // win_end(ts) > wmLate_k (lagged, as everywhere); window emits iff
    // win_end <= final wmEvict; an admitted row can never land in an
    // already-emitted window (wmLate lags wmEvict by exactly the one
    // batch). Events on whole minutes, delays on x.5 minutes, windows on
    // 10-minute bounds — no comparison can tie.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val Min = 60L * 1000000
    val Win = 10 * Min
    val ev = for {
      tpe <- Gen.oneOf("view", "click", "purchase")
      m <- Gen.choose(1L, 40L)
      v <- Gen.choose(0, 99)
      b <- Gen.choose(0, 2)
    } yield (tpe, m * Min, v.toDouble, b)
    val input = for {
      evs <- Gen.listOfN(30, ev)
      delaySec <- Gen.oneOf(90L, 150L, 210L)
    } yield (evs, delaySec)
    var run = 0
    var sawLateDrop = false
    var sawEmit = false
    val prop = Prop.forAllNoShrink(input) { case (evs, delaySec) =>
      run += 1
      val rows = evs.zipWithIndex.map { case ((t, ts, v, b), i) => (i.toLong, t, ts, v, b) }
      val base = Files.createTempDirectory("graft_ooo_win").toString
      Files.createDirectories(Paths.get(s"$base/in"))
      (0 to 2).foreach { b =>
        val tmp = s"$base/tmp$b"
        rows.filter(_._5 == b)
          .map { case (id, t, ts, v, _) => (id, t, new java.sql.Timestamp(ts / 1000), v) }
          .toDF("event_id", "event_type", "ts", "value")
          .coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
        Files.move(part.toPath, Paths.get(s"$base/in/b$b.parquet"), StandardCopyOption.ATOMIC_MOVE)
        Thread.sleep(20)
      }
      // lagged-admission simulation, at WINDOW granularity
      var wmEvict = 0L
      var wmLate = 0L
      var maxSeen = Long.MinValue
      val admitted = Seq.newBuilder[(String, Long, Double)] // (type, win_start, value)
      (0 to 2).foreach { b =>
        val batch = rows.filter(_._5 == b)
        admitted ++= batch
          .filter(r => (r._3 / Win) * Win + Win > wmLate)
          .map(r => (r._2, (r._3 / Win) * Win, r._4))
        if (batch.nonEmpty) maxSeen = math.max(maxSeen, batch.map(_._3).max)
        wmLate = wmEvict
        if (maxSeen != Long.MinValue)
          wmEvict = math.max(wmEvict, math.max(0L, (maxSeen / 1000L - delaySec * 1000L) * 1000L))
      }
      val adm = admitted.result()
      if (adm.size < rows.size) sawLateDrop = true
      val want = adm.groupBy(r => (r._2, r._1))
        .filter { case ((ws, _), _) => ws + Win < wmEvict } // sealed windows only
        .map { case ((ws, t), vs) =>
          (ws, t, vs.size.toLong, math.round(vs.map(_._3).sum * 1e6) / 1e6) }.toSet
      if (want.nonEmpty) sawEmit = true
      val stream = spark.readStream
        .schema("event_id LONG, event_type STRING, ts TIMESTAMP, value DOUBLE")
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
        .withWatermark("ts", s"$delaySec seconds")
        .groupBy(window(col("ts"), "10 minutes").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
        .select(unix_micros(col("win.start")).as("ws"), col("event_type"),
          col("n_events"), col("sum_value"))
      val got = Streams.runToMemory(spark, stream, s"ooo_win_$run") // Append mode
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          math.round(r.getDouble(3) * 1e6) / 1e6)).toSet
      spark.catalog.dropTempView(s"ooo_win_$run")
      Prop(got == want) :| (s"windows drifted: missing ${(want -- got).take(2)} " +
        s"extra ${(got -- want).take(2)} wm=$wmEvict adm=${adm.size}/${rows.size}")
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
    assert(sawLateDrop, "no sample dropped a late row — the property never left the delay-0 regime")
    assert(sawEmit, "no sample sealed a window — the parity was vacuous")
  }

  test("property: out-of-order delivery under a NONZERO delay — stream-stream inner and left-outer joins equal the state-machine model") {
    // The JOIN-family instance of the watermark contract (VERDICT r14 #4):
    // the as-of and windowed-aggregation properties pin row admission and
    // sealing; joins add a THIRD boundary — per-side STATE EVICTION,
    // derived from the join condition (Spark's StreamingJoinHelper state
    // value watermarks):
    //   a view is removable once wm > v_ts + 30min (no admissible click
    //     can still reach back to it); a click is removable once
    //     wm > c_ts (no admissible view can still precede it);
    // and the left-outer null row emits AT EVICTION of a never-matched
    // click — or immediately, when a click is admitted already below the
    // click-side state watermark (wmLate ≤ c_ts < wmEvict: the lagged
    // admission lets it in, the state watermark keeps it out of the
    // store) and matches nothing in its own batch. Model, with the
    // lagged-admission split as everywhere: admitted at batch k iff
    // ts >= wmLate_k; a pair emits in the batch its later member
    // arrives, provided the earlier member is still in state (storage
    // and end-of-batch eviction both use that batch's wmEvict); after
    // the last data batch the engine runs one final no-data batch at
    // the fully-advanced watermark, flushing the remaining evictions.
    // Events on whole minutes, delays on half-minutes, the interval on a
    // 30-minute bound — no comparison can tie.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val Min = 60L * 1000000
    val IntervalUs = 30L * Min
    val ev = for {
      u <- Gen.choose(0L, 2L)
      tpe <- Gen.oneOf("view", "click")
      m <- Gen.choose(1L, 40L)
      v <- Gen.choose(0, 99)
      b <- Gen.choose(0, 2)
    } yield (u, tpe, m * Min, v.toDouble, b)
    val input = for {
      evs <- Gen.listOfN(30, ev)
      delaySec <- Gen.oneOf(90L, 150L, 210L)
    } yield (evs, delaySec)
    var run = 0
    var sawLateDrop = false
    var sawEmit = false
    var sawNull = false
    val prop = Prop.forAllNoShrink(input) { case (evs, delaySec) =>
      run += 1
      val rows = evs.zipWithIndex.map { case ((u, t, ts, v, b), i) =>
        (i.toLong, u, t, ts, v, b) }
      val base = Files.createTempDirectory("graft_ooo_join").toString
      Files.createDirectories(Paths.get(s"$base/in"))
      (0 to 2).foreach { b =>
        val tmp = s"$base/tmp$b"
        rows.filter(_._6 == b).map { case (id, u, t, ts, v, _) =>
          (id, u, t, new java.sql.Timestamp(ts / 1000), v) }
          .toDF("event_id", "user_id", "event_type", "ts", "value")
          .coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
        Files.move(part.toPath, Paths.get(s"$base/in/b$b.parquet"), StandardCopyOption.ATOMIC_MOVE)
        Thread.sleep(20)
      }
      def stream = spark.readStream
        .schema("event_id LONG, user_id LONG, event_type STRING, ts TIMESTAMP, value DOUBLE")
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
      val delay = s"$delaySec seconds"
      // ---------------- the state-machine model
      case class E(id: Long, u: Long, ts: Long, v: Double)
      val batches = (0 to 2).map(b => rows.filter(_._6 == b))
      var wmEvict = 0L
      var wmLate = 0L
      var maxV = Long.MinValue
      var maxC = Long.MinValue
      var viewState = Set.empty[E]
      var clickState = Set.empty[E]
      val inner = scala.collection.mutable.Set.empty[(Long, Long, Long, Long, Long, Double)]
      val matched = scala.collection.mutable.Set.empty[Long]
      val nulls = scala.collection.mutable.Set.empty[Long]
      def joinable(c: E, v: E) =
        c.u == v.u && v.ts <= c.ts && v.ts >= c.ts - IntervalUs
      // data batches 0..2, then the engine's final no-data batch
      (0 to 3).foreach { b =>
        val batch = if (b < 3) batches(b) else Seq.empty
        val vIn = batch.filter(r => r._3 == "view" && r._4 >= wmLate)
          .map(r => E(r._1, r._2, r._4, r._5))
        val cIn = batch.filter(r => r._3 == "click" && r._4 >= wmLate)
          .map(r => E(r._1, r._2, r._4, r._5))
        if (vIn.size + cIn.size < batch.size) sawLateDrop = true
        // pairs available by end of batch: new clicks × (state ∪ new
        // views) plus stored clicks × new views — each unordered pair once
        for (c <- cIn; v <- viewState ++ vIn if joinable(c, v)) {
          inner += ((c.id, c.u, c.ts, v.id, v.ts, v.v)); matched += c.id
        }
        for (c <- clickState; v <- vIn if joinable(c, v)) {
          inner += ((c.id, c.u, c.ts, v.id, v.ts, v.v)); matched += c.id
        }
        // a click admitted below the state watermark is joined this batch
        // but never stored: unmatched → its null row emits immediately
        cIn.filter(c => c.ts < wmEvict && !matched.contains(c.id))
          .foreach(c => nulls += c.id)
        // storage + end-of-batch eviction, both at this batch's wmEvict;
        // an unmatched click leaving state emits its null row
        (clickState ++ cIn.filter(_.ts >= wmEvict)).foreach { c =>
          if (c.ts < wmEvict && !matched.contains(c.id)) nulls += c.id
        }
        clickState = (clickState ++ cIn).filter(_.ts >= wmEvict)
        viewState = (viewState ++ vIn).filter(_.ts >= wmEvict - IntervalUs)
        // watermark advance: per-node (per-type) max minus delay, global
        // = min across the two watermarked inputs; admission lags a batch
        wmLate = wmEvict
        val bv = batch.filter(_._3 == "view")
        val bc = batch.filter(_._3 == "click")
        if (bv.nonEmpty) maxV = math.max(maxV, bv.map(_._4).max)
        if (bc.nonEmpty) maxC = math.max(maxC, bc.map(_._4).max)
        def nodeWm(mx: Long) =
          if (mx == Long.MinValue) 0L
          else math.max(0L, (mx / 1000L - delaySec * 1000L) * 1000L)
        wmEvict = math.max(wmEvict, math.min(nodeWm(maxV), nodeWm(maxC)))
      }
      // ---------------- the real runs
      val gotInner = Streams.runToMemory(spark,
          Streams.clickViewJoin(stream, delay), s"ooo_join_$run")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5)))
      val gotLeft = Streams.runToMemory(spark,
          Streams.clickViewLeftJoin(stream, delay), s"ooo_left_$run")
        .collect()
      val leftMatched = gotLeft.filter(!_.isNullAt(3))
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5)))
      val leftNulls = gotLeft.filter(_.isNullAt(3)).map(_.getLong(0))
      Seq(s"ooo_join_$run", s"ooo_left_$run").foreach(spark.catalog.dropTempView(_))
      if (gotInner.nonEmpty) sawEmit = true
      if (leftNulls.nonEmpty) sawNull = true
      val innerOk = gotInner.length == gotInner.distinct.length &&
        gotInner.toSet == inner.toSet
      val leftMatchedOk = leftMatched.length == leftMatched.distinct.length &&
        leftMatched.toSet == inner.toSet
      val nullsOk = leftNulls.length == leftNulls.distinct.length &&
        leftNulls.toSet == nulls.toSet
      (Prop(innerOk) :| s"inner drifted: missing ${(inner.toSet -- gotInner.toSet).take(2)} extra ${(gotInner.toSet -- inner.toSet).take(2)} wm=$wmEvict") &&
        (Prop(leftMatchedOk) :| s"left-matched drifted: missing ${(inner.toSet -- leftMatched.toSet).take(2)} extra ${(leftMatched.toSet -- inner.toSet).take(2)}") &&
        (Prop(nullsOk) :| s"null rows drifted: missing ${(nulls.toSet -- leftNulls.toSet).take(3)} extra ${(leftNulls.toSet -- nulls.toSet).take(3)} wm=$wmEvict")
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
    assert(sawLateDrop, "no sample dropped a late row — the property never left the delay-0 regime")
    assert(sawEmit, "no sample emitted a joined pair — the parity was vacuous")
    assert(sawNull, "no sample emitted a null row — the outer path was vacuous")
  }

  test("streaming quantile sketch is bit-identical to the batch sketch (merge-order independence)") {
    // the time-sliced stream merges three micro-batch partials into the
    // state store in arrival order — a merge-order-DEPENDENT sketch
    // (t-digest/KLL) would drift from the batch run here; ours must not
    val streamed = Streams.runToMemory(spark,
      Streams.quantileSketchCounts(timeSlicedEventStream("qsketch")
        .select("event_type", "value")), "t_qsketch",
      org.apache.spark.sql.streaming.OutputMode.Complete())
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq.sorted
    val batch = graft.queries.Sketches.quantileSketch(spark, sfDir)
      .select("event_type", "p50_cents", "p90_cents", "p99_cents", "n_events")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq.sorted
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("streaming exact dedup emits exactly the batch-distinct key set") {
    val streamed = Streams.runToMemory(spark,
      Streams.dedupKeysExact(Streams.readEventsStream(spark, sfDir)), "t_dedup_exact")
      .select("user_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = graft.ops.Tables.events(spark, sfDir)
      .select("user_id", "event_type").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed === batch)
  }

  test("watermark-bounded dedup output lies between distinct-keys and all-rows") {
    val n = Streams.runToMemory(spark,
      Streams.dedupKeysWithinWatermark(Streams.readEventsStream(spark, sfDir)),
      "t_dedup_wm").count()
    val events = graft.ops.Tables.events(spark, sfDir)
    val distinctKeys = events.select("user_id", "event_type").distinct().count()
    val total = events.count()
    assert(n >= distinctKeys, s"$n < $distinctKeys: dropped keys entirely")
    assert(n < total, s"$n = $total: suppressed nothing")
  }

  test("property: watermark-bounded dedup under out-of-order delivery equals the first-occurrence expiry state machine") {
    // the DEDUP-family instance of the watermark contract: a key's first
    // admitted occurrence emits and opens a suppression interval expiring
    // at ts_first + delay (SPARK-42931's contract — the interval is
    // anchored to the FIRST event, duplicates do not extend it); while
    // the key is in state every re-occurrence is silently suppressed;
    // once the eviction watermark passes the expiry the key is forgotten
    // and the NEXT occurrence emits again. Late rows (ts < the lagged
    // admission watermark) drop before any of this. Grids are engineered
    // tie-free: events on whole minutes, delays on odd multiples of 15 s,
    // so expiries (:15 grid) can never equal watermarks (:45 grid) and
    // admissions (:00) never tie either. At most ONE row per (key,
    // batch) by construction — within-batch same-key order is the one
    // thing Spark does not define, so the generator never relies on it.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val Min = 60L * 1000000
    val keys = for { u <- 0L to 1L; t <- Seq("view", "click", "purchase") } yield (u, t)
    val cellGen = Gen.frequency(
      4 -> Gen.const(Option.empty[Long]),
      6 -> Gen.choose(1L, 40L).map(m => Some(m * Min)))
    def seqGen[A](gs: List[Gen[A]]): Gen[List[A]] =
      gs.foldRight(Gen.const(List.empty[A]))((g, acc) => for { h <- g; t <- acc } yield h :: t)
    val rowsGen = seqGen((for { k <- keys.toList; b <- List(0, 1, 2) } yield (k, b)).map {
      case ((u, t), b) => cellGen.map(_.map(ts => (u, t, ts, b)))
    }).map(_.flatten)
    val input = for {
      rows <- rowsGen
      delaySec <- Gen.oneOf(75L, 135L, 195L)
    } yield (rows, delaySec)
    var run = 0
    var sawLateDrop = false
    var sawSuppress = false
    var sawReemit = false
    val prop = Prop.forAllNoShrink(input) { case (rows, delaySec) =>
      run += 1
      val base = Files.createTempDirectory("graft_ooo_dedup").toString
      Files.createDirectories(Paths.get(s"$base/in"))
      (0 to 2).foreach { b =>
        val tmp = s"$base/tmp$b"
        rows.filter(_._4 == b)
          .map { case (u, t, ts, _) => (u, t, new java.sql.Timestamp(ts / 1000)) }
          .toDF("user_id", "event_type", "ts")
          .coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
        Files.move(part.toPath, Paths.get(s"$base/in/b$b.parquet"), StandardCopyOption.ATOMIC_MOVE)
        Thread.sleep(20)
      }
      // ---------------- the model
      var wmEvict = 0L
      var wmLate = 0L
      var maxSeen = Long.MinValue
      var state = Map.empty[(Long, String), Long] // key -> expiry
      val want = Seq.newBuilder[(Long, String, Long)]
      (0 to 2).foreach { b =>
        val batch = rows.filter(_._4 == b)
        val admitted = batch.filter(_._3 >= wmLate)
        if (admitted.size < batch.size) sawLateDrop = true
        admitted.foreach { case (u, t, ts, _) =>
          if (state.contains((u, t))) sawSuppress = true
          else {
            if (want.result().exists(r => r._1 == u && r._2 == t)) sawReemit = true
            want += ((u, t, ts))
            state += ((u, t) -> (ts + delaySec * 1000000L))
          }
        }
        // eviction happens DURING batch b with the watermark in effect
        // during b (computed from batches < b) — evicting with the value
        // the next batch will see would forget keys one batch early and
        // re-admit duplicates Spark still suppresses (the first failing
        // counterexample of this property pinned exactly that ordering)
        state = state.filter { case (_, exp) => exp >= wmEvict }
        if (batch.nonEmpty) maxSeen = math.max(maxSeen, batch.map(_._3).max)
        wmLate = wmEvict
        if (maxSeen != Long.MinValue)
          wmEvict = math.max(wmEvict, math.max(0L, (maxSeen / 1000L - delaySec * 1000L) * 1000L))
      }
      val got = Streams.runToMemory(spark,
          Streams.dedupKeysWithinWatermark(
            spark.readStream
              .schema("user_id LONG, event_type STRING, ts TIMESTAMP")
              .option("maxFilesPerTrigger", "1").parquet(s"$base/in"),
            s"$delaySec seconds"), s"ooo_dedup_$run")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSeq.sorted
      spark.catalog.dropTempView(s"ooo_dedup_$run")
      val w = want.result().sorted
      Prop(got == w) :| (s"dedup drifted: missing ${(w.toSet -- got.toSet).take(3)} " +
        s"extra ${(got.toSet -- w.toSet).take(3)} wm=$wmEvict delay=${delaySec}s")
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
    assert(sawLateDrop, "no sample dropped a late row — the property never left the delay-0 regime")
    assert(sawSuppress, "no sample suppressed a duplicate — the dedup path was vacuous")
    assert(sawReemit, "no key ever re-emitted after expiry — the bounded-state path was vacuous")
  }

  test("parquet sink with checkpoint persists the stream durably (production sink path)") {
    val base = java.nio.file.Files.createTempDirectory("graft_stream_sink").toString
    val q = Streams.tumblingCounts(Streams.readEventsStream(spark, sfDir))
      .select(unix_micros(col("win_start")).as("win_start_us"), col("event_type"),
        col("n_events"), col("sum_value"))
      .writeStream
      .format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val sunk = spark.read.parquet(s"$base/out")
    // append mode emits only watermark-closed windows on bounded input; all
    // emitted rows must agree exactly with the batch twin
    val batch = Micro.tumblingWindow(spark, sfDir)
      .withColumnRenamed("sum_value", "b_sum")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val rows = sunk.select(col("win_start_us"), col("event_type"), col("n_events"),
      graft.ops.Num.r6(col("sum_value")).as("sum_value")).collect()
    assert(rows.nonEmpty, "append sink emitted nothing")
    rows.foreach { r =>
      val k = (r.getLong(0), r.getString(1))
      assert(batch.contains(k), s"sunk window $k missing from batch")
      assert(batch(k) === ((r.getLong(2), r.getDouble(3))), s"mismatch at $k")
    }
  }

  private def documentsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))

  test("streaming quality filter keeps exactly the batch survivors (stateless gate on a stream)") {
    val stream = spark.readStream.schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
    val streamed = Streams.runToMemory(spark,
      graft.ext.Text.qualityFilterOn(stream), "t_quality_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.ext.Text.qualityFilter(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming packer preserves per-(lang, shard) token totals across micro-batches") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft_pack_stream").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    // split the corpus into two micro-batches by doc_id parity
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    Seq(0, 1).foreach { p =>
      val tmp = s"$base/tmp$p"
      docs.filter(col("doc_id") % 2 === p).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$p.parquet"), StandardCopyOption.ATOMIC_MOVE)
    }
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
    val stream = spark.readStream.schema(documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = Streams.eachBatch(stream) { (b, _) =>
      val manifest = graft.ext.Corpus.seqPackShardedOn(b)
      val rows = manifest.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4)))
      buf.synchronized { buf ++= rows }
    }
    q.awaitTermination()
    assert(buf.nonEmpty, "packer emitted no manifest rows")
    // chunks never span micro-batches (as they never span shards), so
    // per-(lang, shard) doc and token totals must match the one-shot batch
    // packing exactly; only chunk boundaries may differ at batch edges
    val streamedTotals = buf.groupBy(t => (t._1, t._2))
      .view.mapValues(v => (v.map(_._3).sum, v.map(_._4).sum)).toMap
    val batchTotals = graft.ext.Corpus.seqPackShardedOn(docs)
      .groupBy("lang", "shard").agg(sum("n_docs").as("nd"), sum("tokens_started").as("ts"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(streamedTotals === batchTotals)
  }

  test("streaming manifest-feature ingest matches the batch feature warehouse doc for doc") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft_feat_stream").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    Seq(0, 1).foreach { p =>
      val tmp = s"$base/tmp$p"
      docs.filter(col("doc_id") % 2 === p).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$p.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20)
    }
    // frozen models, trained once on the full corpus (the ingest contract)
    val census = graft.ext.Text.fluencyCensusOn(docs).persist()
    val weights = graft.ext.Quality.qsWeightsOn(docs).persist()
    val thr = graft.ext.Quality.qsThresholdOn(docs, weights)
    val evalh = graft.ext.Corpus.evalShingleHashes(
      docs.filter(pmod(col("doc_id"), lit(10)) === lit(graft.ext.Corpus.BenchSlice))).persist()
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val stream = spark.readStream.schema(documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = Streams.eachBatch(stream) { (b, _) =>
      val feats = graft.ext.Corpus.manifestDocFeatures(b, census, weights, thr._1, thr._2, evalh)
      val rows = feats.collect().map(_.toSeq)
      buf.synchronized { buf ++= rows }
    }
    q.awaitTermination()
    val batch = graft.ext.Corpus
      .manifestDocFeatures(docs, census, weights, thr._1, thr._2, evalh)
      .collect().map(_.toSeq)
    spark.catalog.clearCache()
    assert(batch.nonEmpty && buf.nonEmpty)
    // every column is doc-local given the frozen models, so the union of
    // per-batch rows must equal the batch warehouse exactly — same rows,
    // same multiplicity, no column drifting on the batch boundary
    assert(buf.size === batch.length, s"row count ${buf.size} != batch ${batch.length}")
    assert(buf.map(_.toString).sorted === batch.map(_.toString).toSeq.sorted)
  }

  test("streaming media ingest matches the batch media feature warehouse; registered reports re-aggregate from it") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft_media_stream").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    Seq(0, 1).foreach { p =>
      val tmp = s"$base/tmp$p"
      docs.filter(col("doc_id") % 2 === p).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$p.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20)
    }
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val stream = spark.readStream.schema(documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = Streams.eachBatch(stream) { (b, _) =>
      val feats = graft.multimodal.Multimodal.mediaDocFeaturesOn(b)
      val rows = feats.collect().map(_.toSeq)
      buf.synchronized { buf ++= rows }
    }
    q.awaitTermination()
    // per-doc parity: every column is doc-local, so the union of per-batch
    // rows must equal the batch-built warehouse exactly
    val batch = graft.multimodal.Multimodal.mediaDocFeaturesOn(docs)
      .collect().map(_.toSeq)
    assert(batch.nonEmpty && buf.size === batch.length)
    assert(buf.map(_.toString).sorted === batch.map(_.toString).toSeq.sorted)
    // the registered per-type report is a pure re-aggregation of the
    // stream-built warehouse — no payload is ever decoded twice
    val cols = graft.multimodal.Multimodal.mediaDocFeaturesOn(docs).columns
    val warehouse = buf.toSeq.map(s => (s(cols.indexOf("media_type")).asInstanceOf[String],
      s(cols.indexOf("n_frames")).asInstanceOf[Int], s(cols.indexOf("feat_sum")).asInstanceOf[Double]))
    val rolled = warehouse.groupBy(_._1).view.mapValues { v =>
      (v.size.toLong, v.map(_._2.toLong).sum,
        // the Num.r6 rounding rule, applied driver-side
        math.floor(v.map(_._3).sum / v.size * 1e6 + 0.5) / 1e6)
    }.toMap
    val report = graft.multimodal.Multimodal.featurePipeline(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rolled === report)
  }

  test("ANN production loop end-to-end: streamed cell assignment feeds the state-rolling manifest update") {
    // The vector-side twin of the manifest loop spec: arriving vectors
    // (added + re-embedded) stream through assignCellsAgainstOn against the
    // frozen quantizer into an assignment warehouse, and the periodic
    // ivfWarehouseUpdateOn reconciliation consumes THAT table via
    // precomputedAssign instead of re-running the distance pass; the
    // rolled manifest must equal a from-scratch assignment of the new
    // snapshot.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val emb = graft.ops.Tables.embeddings(spark, sfDir)
    val cent = graft.ext.Similarity.kmeansCentroidsOn(emb).persist()
    val r = pmod(col("vec_id"), lit(7))
    val prev = emb.filter(r =!= lit(1))
    val next = emb.filter(r =!= lit(2)) // adds class 1, retires class 2...
      .withColumn("embedding",          // ...and re-embeds class 3
        when(r === lit(3), transform(col("embedding"), x => negate(x)))
          .otherwise(col("embedding")))
    val m0 = graft.ext.Similarity.assignCellsAgainstOn(prev, cent)
      .select("vec_id", "cell").localCheckpoint()
    // arrivals = the fresh slice, streamed in two micro-batches
    val fresh = next.filter(r === lit(1) || r === lit(3))
      .select("vec_id", "embedding", "label")
    val base = Files.createTempDirectory("graft_ann_loop").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    Seq(0, 1).foreach { p =>
      val tmp = s"$base/tmp$p"
      fresh.filter(col("vec_id") % 2 === p).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$p.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("label", org.apache.spark.sql.types.IntegerType)))
    val asgDir = s"$base/assign"
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = Streams.eachBatch(stream) { (b, _) =>
      val asg = graft.ext.Similarity.assignCellsAgainstOn(b, cent)
      asg.write.mode("append").parquet(asgDir) // the assignment warehouse
    }
    q.awaitTermination()
    // the stream supplied every fresh vector's assignment, exactly once
    val fedIds = spark.read.parquet(asgDir).select("vec_id").collect().map(_.getLong(0)).toSeq
    val freshIds = fresh.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(freshIds.nonEmpty && fedIds.toSet === freshIds && fedIds.size === freshIds.size)
    val got = graft.ext.Similarity.ivfWarehouseUpdateOn(prev, next, m0, cent,
        precomputedAssign = Some(spark.read.parquet(asgDir)))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val want = graft.ext.Similarity.assignCellsAgainstOn(next, cent)
      .select("vec_id", "cell").collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    cent.unpersist()
    assert(got === want, "stream-fed rolled manifest drifted from the from-scratch assignment")
    // coverage fail-fast (ADVICE r13): an assignment warehouse missing a
    // fresh vec_id must raise, not silently drop the row from the manifest
    val partial = spark.read.parquet(asgDir)
      .filter(col("vec_id") =!= lit(freshIds.head))
    intercept[IllegalArgumentException] {
      graft.ext.Similarity.ivfWarehouseUpdateOn(prev, next, m0, cent,
        precomputedAssign = Some(partial)).count()
    }
  }

  test("incremental media dedup across micro-batches emits exactly the batch DCT pairs, each once") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft_media_dedup").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    // two micro-batches by parity: near-dup payloads overwhelmingly pair
    // adjacent doc_ids, so most pairs SPAN the batches and must come from
    // the new-vs-persisted-index join, not the within-batch join
    Seq(0, 1).foreach { p =>
      val tmp = s"$base/tmp$p"
      docs.filter(col("doc_id") % 2 === p).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$p.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20)
    }
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val stream = spark.readStream.schema(documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = Streams.mediaDedupBatches(stream, s"$base/hashes") { (pairs, _) =>
      val rows = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      buf.synchronized { buf ++= rows }
    }
    q.awaitTermination()
    val batch = graft.multimodal.Multimodal.dctDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    spark.catalog.clearCache()
    assert(batch.nonEmpty, "degenerate corpus: batch DCT dedup found no pairs")
    assert(buf.size === buf.toSet.size, "a pair double-emitted across batches")
    assert(buf.toSet === batch,
      s"missing: ${(batch -- buf.toSet).take(3)}; extra: ${(buf.toSet -- batch).take(3)}")
    // the cross-batch path was genuinely exercised: some pair spans parity
    assert(buf.exists { case (a, b, _) => a % 2 != b % 2 },
      "no cross-batch pair — the persisted-index join went unexercised")
  }

  test("media production loop end-to-end: streamed hash ingest feeds the warehouse reconcile, equals batch update and rebuild") {
    // The media twin of the manifest/ANN production-loop specs: the day's
    // fresh media objects (added + changed payloads) arrive as a STREAM
    // through mediaDedupBatches, which DCT-hashes each object ONCE at
    // ingest into a day index; the periodic mediaWarehouseUpdateOn
    // reconciliation consumes THAT index via precomputedFreshHashes
    // instead of re-decoding the fresh payloads. The rolled warehouse
    // must equal both the self-hashing batch update and the from-scratch
    // build of the new snapshot.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val M = graft.multimodal.Multimodal
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val old = graft.ext.Corpus.deltaOldSlice(docs)
    val nw = graft.ext.Corpus.deltaNewSlice(docs)
    val oldHashes = M.dctHashOn(M.fromDocuments(old)).toDF().localCheckpoint()
    val oldPairs = M.dctBandPairsOn(old)
      .filter(col("hamming") <= lit(M.DctHamMax.toLong)).localCheckpoint()
    val fresh = nw.join(
        M.mediaDeltaOn(old, nw).filter(col("status").isin("added", "changed"))
          .select("doc_id"),
        Seq("doc_id"), "left_semi").localCheckpoint()
    val base = Files.createTempDirectory("graft_media_loop").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    Seq(0, 1).foreach { p =>
      val tmp = s"$base/tmp$p"
      fresh.filter(pmod(col("doc_id"), lit(2)) === lit(p)).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$p.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20)
    }
    val stream = spark.readStream.schema(documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = Streams.mediaDedupBatches(stream, s"$base/dayindex") { (_, _) => () }
    q.awaitTermination()
    // the stream hashed every fresh object, exactly once each — read
    // through the COMMITTED-state reader (the supported consumer path
    // under the batch-id-keyed layout; a raw directory read would bypass
    // the commit protocol)
    val streamed = Streams.readCommittedState(spark, s"$base/dayindex", "hashes")
      .getOrElse(fail("no committed day-index state"))
    val fedIds = streamed.select("doc_id").collect().map(_.getLong(0)).toSeq
    val freshIds = fresh.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(freshIds.nonEmpty && fedIds.toSet === freshIds && fedIds.size === freshIds.size)
    def wh(w: M.MediaWarehouse) = (
      w.hashes.collect().map(_.toSeq).toSet, w.pairs.collect().map(_.toSeq).toSet)
    val viaStream = wh(M.mediaWarehouseUpdateOn(old, nw, oldHashes, oldPairs,
      precomputedFreshHashes = Some(streamed)))
    val viaBatch = wh(M.mediaWarehouseUpdateOn(old, nw, oldHashes, oldPairs))
    val scratch = (
      M.dctHashOn(M.fromDocuments(nw)).toDF().collect().map(_.toSeq).toSet,
      M.dctBandPairsOn(nw).filter(col("hamming") <= lit(M.DctHamMax.toLong))
        .collect().map(_.toSeq).toSet)
    spark.catalog.clearCache()
    assert(viaStream._2.nonEmpty, "degenerate: the reconciled warehouse holds no pairs")
    assert(viaStream === viaBatch, "stream-fed reconcile drifted from the batch update")
    assert(viaStream === scratch, "stream-fed reconcile drifted from the from-scratch build")
  }

  test("property: media dedup under RANDOM micro-batch cuts equals the one-shot pairing, each pair once") {
    // the engineered parity above pins one cross-batch cut; this property
    // applies the random-slicing pattern the as-of and quantile twins use
    // (VERDICT r13 #6): documents assigned to K micro-batches by a salted
    // hash — arrival order decoupled from doc_id adjacency — and the union
    // of per-batch emissions must equal the one-shot `mm_dct_dedup` with
    // every unordered pair emitted exactly once
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars").localCheckpoint()
    val oneShot = graft.multimodal.Multimodal.dctDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(oneShot.nonEmpty, "degenerate corpus: batch DCT dedup found no pairs")
    val input = for {
      salt <- Gen.choose(Long.MinValue / 4, Long.MaxValue / 4)
      k <- Gen.oneOf(2, 3)
    } yield (salt, k)
    var sawCross = false
    val prop = Prop.forAll(input) { case (salt, k) =>
      val base = Files.createTempDirectory("graft_media_rand").toString
      Files.createDirectories(Paths.get(s"$base/in"))
      val assigned = docs.withColumn("b", pmod(xxhash64(col("doc_id"), lit(salt)), lit(k)))
      val batchOf = assigned.select("doc_id", "b").as[(Long, Long)].collect().toMap
      (0 until k).foreach { b =>
        val tmp = s"$base/tmp$b"
        assigned.filter(col("b") === b).drop("b").coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
        Files.move(part.toPath, Paths.get(s"$base/in/b$b.parquet"), StandardCopyOption.ATOMIC_MOVE)
        Thread.sleep(20)
      }
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      val stream = spark.readStream.schema(documentsSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
      val q = Streams.mediaDedupBatches(stream, s"$base/hashes") { (pairs, _) =>
        val rows = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        buf.synchronized { buf ++= rows }
      }
      q.awaitTermination()
      if (buf.exists { case (a, b, _) => batchOf(a) != batchOf(b) }) sawCross = true
      (Prop(buf.size == buf.toSet.size) :| "a pair double-emitted across batches") &&
        (Prop(buf.toSet == oneShot) :|
          s"missing: ${(oneShot -- buf.toSet).take(3)}; extra: ${(buf.toSet -- oneShot).take(3)}")
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(4), prop)
    assert(res.passed, res.status.toString)
    assert(sawCross, "no sampled cut produced a cross-batch pair — the index join went unexercised")
  }

  test("incremental minhash dedup across micro-batches emits exactly the batch LSH pairs, each once") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft_minhash_stream").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    // two micro-batches by doc_id parity: near-dup pairs in the testdata
    // overwhelmingly pair adjacent doc_ids, so most pairs SPAN the batches
    // and must come from the new-vs-persisted-signature join, not the
    // within-batch join
    Seq(0, 1).foreach { p =>
      val tmp = s"$base/tmp$p"
      docs.filter(col("doc_id") % 2 === p).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$p.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20) // distinct mtimes → deterministic file-source order
    }
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val stream = spark.readStream.schema(documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = Streams.minhashDedupBatches(stream, s"$base/sigs") { (pairs, _) =>
      val rows = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      buf.synchronized { buf ++= rows }
    }
    q.awaitTermination()
    val batch = graft.ext.Dedup.minhashLshOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.catalog.clearCache()
    assert(batch.nonEmpty, "degenerate corpus: batch LSH found no pairs")
    assert(buf.size === buf.toSet.size, s"a pair was emitted in more than one micro-batch")
    assert(buf.toSet === batch,
      s"missing: ${(batch -- buf.toSet).take(5)}; extra: ${(buf.toSet -- batch).take(5)}")
  }

  test("streaming curation funnel across micro-batches matches the batch funnel doc for doc") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft_funnel_stream").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    val baseDocs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    // plant one exact duplicate: a max-id training doc copying the text of
    // the min-id doc, so the dup pair SPANS the two micro-batches and the
    // cross-batch canonical state is genuinely exercised
    val donor = baseDocs.orderBy("doc_id").limit(1).collect()(0)
    val baseIds = baseDocs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    var dupId = baseIds.max + 1
    while (dupId % 10 == graft.ext.Corpus.BenchSlice) dupId += 1
    val docs = baseDocs.unionByName(Seq(
      (dupId, donor.getString(1), donor.getString(2), donor.getString(3), donor.getLong(4)))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    // RANGE-split micro-batches: ids arrive nondecreasing, the contract
    // under which the streamed keep-first canonical state agrees with the
    // batch keep-min-id manifest
    val ids = baseIds :+ dupId
    val median = ids(ids.length / 2)
    Seq(0, 1).foreach { p =>
      val tmp = s"$base/tmp$p"
      val slice = if (p == 0) docs.filter(col("doc_id") < median)
                  else docs.filter(col("doc_id") >= median)
      slice.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$p.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20) // distinct mtimes → deterministic file-source order
    }
    // the frozen artifacts the batch funnel derives from the full corpus
    val census = graft.ext.Text.fluencyCensusOn(docs).persist()
    val evalDocs = docs.filter(col("doc_id") % 10 === lit(graft.ext.Corpus.BenchSlice))
    // classifier model frozen from the full corpus, as the batch funnel trains it
    val qsW = graft.ext.Quality.qsWeightsOn(docs).persist()
    val qsThr = graft.ext.Quality.qsThresholdOn(docs, qsW)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val stream = spark.readStream.schema(documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = Streams.curationFunnelBatches(stream, census, evalDocs, s"$base/fps", qsW, qsThr) { (out, _) =>
      val rows = out.collect().map(_.toSeq)
      buf.synchronized { buf ++= rows }
    }
    q.awaitTermination()
    val batch = graft.ext.Curation.curationFunnelOn(docs).collect().map(_.toSeq).toSet
    census.unpersist()
    spark.catalog.clearCache()
    assert(batch.exists(r => r(10) != null), "degenerate corpus: batch funnel dropped nothing")
    // the cross-batch canonical state must actually be exercised: some doc
    // is non-canonical (its fp was seen first on a smaller id) — it may
    // also fail an earlier gate, so don't demand 'duplicate' as the reason
    assert(batch.exists(r => r(8) == false), "no non-canonical doc in the batch funnel")
    assert(buf.size === buf.toSet.size, "a doc was judged in more than one micro-batch")
    assert(buf.toSet === batch,
      s"missing: ${(batch -- buf.toSet).take(3)}; extra: ${(buf.toSet -- batch).take(3)}")
  }

  test("streaming MEDIA curation funnel matches the batch run doc for doc (last-write-wins), " +
      "including a cross-batch near-dup displacement") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft_mmfunnel_stream").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    val M = graft.multimodal.Multimodal
    def mkDocs(rows: (Long, String, String)*) =
      rows.map { case (id, text, src) => (id, text, "en", src, text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    // docs 2 and 5 carry IDENTICAL payloads (DCT hamming 0 → one cluster)
    // but arrive in DIFFERENT micro-batches
    val dupText = "spark window merge tokens arrive twice across batches"
    val docs = mkDocs(
      (1L, "spark partitions shuffle exchange broadcast one", "s1"),
      (2L, dupText, "s2"),
      (3L, "catalyst codegen pushdown pruning vectors three", "s3"),
      (4L, "watermark state store eviction timers four", "s4"),
      (5L, dupText, "s2"),
      (6L, "adaptive execution skew salt rebalance six", "s6"))
    val caps = M.captionEmbeddings(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](2).map(_.toFloat).toArray).toMap
    // doc 5's embedding IS its caption tower (align_cos 1.0); doc 2's is
    // the same tower with one nonzero coordinate doubled — still a
    // strictly positive cosine (dot = |v|² + vᵢ² > 0) but strictly below
    // 1.0, so the later-arriving doc 5 wins the aligned election
    def perturb(v: Array[Float]): Array[Float] = {
      val i = v.indexWhere(_ != 0f)
      require(i >= 0, "degenerate caption tower (all zeros)")
      val out = v.clone(); out(i) = out(i) * 2f; out
    }
    val emb = Seq(
      (1L, caps(1L), "l0"), (2L, perturb(caps(2L)), "l0"), (3L, caps(3L), "l0"),
      (4L, caps(4L), "l0"), (5L, caps(5L), "l0"), (6L, caps(6L), "l0"))
      .toDF("vec_id", "embedding", "label")
    // vacuity guards: both near-dups pass alignment, doc 5 strictly better
    val af = M.alignFilterOn(docs, emb).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getBoolean(3)))).toMap
    assert(af(2L)._2 && af(5L)._2, s"both dup docs must pass alignment: $af")
    assert(af(5L)._1 > af(2L)._1, s"doc 5 must out-align doc 2 for the displacement: $af")
    Seq((0, Seq(1L, 2L, 3L)), (1, Seq(4L, 5L, 6L))).foreach { case (p, ids) =>
      val tmp = s"$base/tmp$p"
      docs.filter(col("doc_id").isin(ids: _*)).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$p.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20) // distinct mtimes → deterministic file-source order
    }
    val perBatch = scala.collection.mutable.Map.empty[Long, Seq[Seq[Any]]]
    val stream = spark.readStream.schema(documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = Streams.mmCurationFunnelBatches(stream, emb, s"$base/state") { (out, id) =>
      val rows = out.collect().map(_.toSeq).toSeq
      perBatch.synchronized { perBatch(id) = rows }
    }
    q.awaitTermination()
    // the streaming contract: revisions supersede — fold last-write-wins
    val folded = perBatch.toSeq.sortBy(_._1).flatMap(_._2)
      .foldLeft(Map.empty[Any, Seq[Any]]) { (m, r) => m + (r.head -> r) }
    val batchRun = M.mmCurationFunnelOn(docs, emb).collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    assert(batchRun.map(_.head).toSet === folded.keySet, "doc coverage differs")
    assert(folded.values.toSet === batchRun.toSet,
      s"missing: ${(batchRun.toSet -- folded.values.toSet).take(3)}; " +
        s"extra: ${(folded.values.toSet -- batchRun.toSet).take(3)}")
    // the displacement actually happened ACROSS batches: batch 0 judged
    // doc 2 a kept survivor; doc 5's arrival revised it to a near_dup drop
    val b0doc2 = perBatch(0L).find(_.head == 2L).get
    assert(b0doc2(6) == true, s"doc 2 must be kept in batch 0: $b0doc2")
    assert(perBatch(1L).exists(_.head == 2L),
      "batch 1 did not re-emit doc 2 — the revision mechanism never fired")
    val fin2 = folded(2L)
    assert(fin2(6) == false && fin2(7) == "near_dup", s"doc 2 must end displaced: $fin2")
  }

  test("exactly-once state: a replayed funnel batch (retry before AND after commit) " +
      "rewrites identical state and re-emits identical rows") {
    import java.nio.file.{Files, Paths}
    val M = graft.multimodal.Multimodal
    def mkDocs(rows: (Long, String, String)*) =
      rows.map { case (id, text, src) => (id, text, "en", src, text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dupText = "spark window merge tokens arrive twice across batches"
    val docs = mkDocs(
      (1L, "spark partitions shuffle exchange broadcast one", "s1"),
      (2L, dupText, "s2"),
      (3L, "catalyst codegen pushdown pruning vectors three", "s3"),
      (4L, "watermark state store eviction timers four", "s4"),
      (5L, dupText, "s2"),
      (6L, "adaptive execution skew salt rebalance six", "s6"))
    val caps = M.captionEmbeddings(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](2).map(_.toFloat).toArray).toMap
    val emb = (1L to 6L).map(i => (i, caps(i), "l0")).toDF("vec_id", "embedding", "label")
    val sp = Files.createTempDirectory("graft_replay_funnel").toString
    val emit = scala.collection.mutable.Map.empty[String, Set[Seq[Any]]]
    def run(b: org.apache.spark.sql.DataFrame, id: Long, tag: String): Unit =
      Streams.mmCurationFunnelBatchBody(b, emb, sp, id) { (o, _) =>
        emit(tag) = o.collect().map(_.toSeq).toSet
      }
    run(docs.filter(col("doc_id") <= 3L), 0L, "b0")
    run(docs.filter(col("doc_id") > 3L), 1L, "b1")
    def component(n: String): Set[Seq[Any]] =
      spark.read.parquet(s"$sp/$n/b0", s"$sp/$n/b1").collect().map(_.toSeq).toSet
    def clusters(): Set[Seq[Any]] =
      spark.read.parquet(s"$sp/clusters/b1").collect().map(_.toSeq).toSet
    val names = Seq("feat", "af", "hashes", "pairs")
    val before = names.map(n => n -> component(n)).toMap
    val clustersBefore = clusters()
    assert(emit("b1").nonEmpty && before.values.forall(_.nonEmpty))
    // 1. retry AFTER commit: a crash after the marker but before the
    // engine's own checkpoint ack re-runs the SAME batch id
    run(docs.filter(col("doc_id") > 3L), 1L, "b1-post")
    assert(emit("b1-post") === emit("b1"), "post-commit replay emitted different rows")
    names.foreach(n => assert(component(n) === before(n), s"$n state changed on replay"))
    assert(clusters() === clustersBefore, "cluster snapshot changed on replay")
    // 2. retry BEFORE commit: simulate a crash between the state writes
    // and the marker — drop the marker, leave the (now-stale) batch dirs
    Files.delete(Paths.get(s"$sp/_commits/1"))
    run(docs.filter(col("doc_id") > 3L), 1L, "b1-pre")
    assert(emit("b1-pre") === emit("b1"), "pre-commit replay emitted different rows")
    names.foreach(n => assert(component(n) === before(n), s"$n state changed on uncommitted replay"))
    assert(clusters() === clustersBefore)
    assert(Files.exists(Paths.get(s"$sp/_commits/1")), "replay did not re-commit")
    spark.catalog.clearCache()
  }

  test("exactly-once state: minhash dedup replay emits the identical pair set, one signature copy per batch") {
    import java.nio.file.{Files, Paths}
    val D = graft.ext.Dedup
    val sp = Files.createTempDirectory("graft_replay_minhash").toString
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val emit = scala.collection.mutable.Map.empty[String, Set[Seq[Any]]]
    def run(b: org.apache.spark.sql.DataFrame, id: Long, tag: String): Unit =
      Streams.minhashDedupBatchBody(b, id, sp, D.NumHashes, D.NumBands) { (o, _) =>
        emit(tag) = o.collect().map(_.toSeq).toSet
      }
    run(docs.filter(col("doc_id") % 2 === 0), 0L, "b0")
    run(docs.filter(col("doc_id") % 2 === 1), 1L, "b1")
    def sigs(): Seq[Seq[Any]] =
      spark.read.parquet(s"$sp/sigs/b0", s"$sp/sigs/b1").collect().map(_.toSeq).toSeq
    val before = sigs()
    assert(before.size === before.toSet.size && before.nonEmpty)
    // post-commit retry
    run(docs.filter(col("doc_id") % 2 === 1), 1L, "b1-post")
    assert(emit("b1-post") === emit("b1"))
    assert(sigs().sortBy(_.head.toString) === before.sortBy(_.head.toString),
      "signature state changed on replay (a plain append would have doubled it)")
    // pre-commit retry
    Files.delete(Paths.get(s"$sp/_commits/1"))
    run(docs.filter(col("doc_id") % 2 === 1), 1L, "b1-pre")
    assert(emit("b1-pre") === emit("b1"))
    assert(sigs().sortBy(_.head.toString) === before.sortBy(_.head.toString))
    spark.catalog.clearCache()
  }

  test("a failing batch sink still releases the dedup loops' per-batch caches") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
    val base = Files.createTempDirectory("graft_sink_failure").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$base/tmp")
    val part = new java.io.File(s"$base/tmp").listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(s"$base/in/b0.parquet"), StandardCopyOption.ATOMIC_MOVE)
    val stream = spark.readStream.schema(documentsSchema).parquet(s"$base/in")
    // the sink runs the emitted frame, so the batch's cache is built, then fails
    def failingSink(out: DataFrame, id: Long): Unit = {
      out.collect()
      throw new IllegalStateException("sink down")
    }
    val loops = Seq[(String, ((DataFrame, Long) => Unit) => StreamingQuery)](
      "minhashDedupBatches" -> (Streams.minhashDedupBatches(stream, s"$base/sigs")(_)),
      "mediaDedupBatches" -> (Streams.mediaDedupBatches(stream, s"$base/hashes")(_)))
    spark.catalog.clearCache()
    loops.foreach { case (name, start) =>
      val before = spark.sparkContext.getPersistentRDDs.size
      val err = intercept[StreamingQueryException](start(failingSink).awaitTermination())
      assert(Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage == "sink down"), s"$name failed for another reason: $err")
      assert(spark.sparkContext.getPersistentRDDs.size === before,
        s"$name left its per-batch cache behind after the sink failed")
    }
  }

  test("exactly-once state: a SECOND streaming query over the same state root reads history " +
      "and never clobbers it (cross-run id offset)") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft_xrun_minhash").toString
    val sigPath = s"$base/sigs"
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    // two SEPARATE streaming queries (new engine id space each), one
    // half of the corpus each — the restarted-ingest shape
    Seq(0, 1).foreach { p =>
      val in = s"$base/in$p"
      Files.createDirectories(Paths.get(in))
      val tmp = s"$base/tmp$p"
      docs.filter(col("doc_id") % 2 === p).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$in/b.parquet"), StandardCopyOption.ATOMIC_MOVE)
      val stream = spark.readStream.schema(documentsSchema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = Streams.minhashDedupBatches(stream, sigPath) { (pairs, _) =>
        val rows = pairs.select("doc_a", "doc_b", "est_jaccard")
          .as[(Long, Long, Double)].collect()
        buf.synchronized { buf ++= rows }
      }
      q.awaitTermination()
    }
    // both runs' state dirs coexist: run 2's engine batch 0 landed at the
    // OFFSET id, not on top of run 1's b0
    assert(Files.exists(Paths.get(s"$sigPath/sigs/b0")) &&
      Files.exists(Paths.get(s"$sigPath/sigs/b1")),
      "second run clobbered or skipped the first run's committed state")
    val oneShot = graft.ext.Dedup.minhashLshOn(docs)
      .select("doc_a", "doc_b", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    spark.catalog.clearCache()
    assert(buf.size === buf.toSet.size, "a pair double-emitted across runs")
    assert(buf.toSet === oneShot,
      s"missing: ${(oneShot -- buf.toSet).take(3)}; extra: ${(buf.toSet -- oneShot).take(3)}")
    assert(buf.exists { case (a, b, _) => a % 2 != b % 2 },
      "no cross-run pair — the second run never read the first run's committed history")
  }

  test("streaming MEDIA decontamination across micro-batches matches the batch run doc for doc") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft_mmdecon_stream").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val train = docs.filter(col("doc_id") % 10 =!= lit(graft.ext.Corpus.BenchSlice))
    val evalDocs = docs.filter(col("doc_id") % 10 === lit(graft.ext.Corpus.BenchSlice))
    Seq(0, 1).foreach { p =>
      val tmp = s"$base/tmp$p"
      train.filter(col("doc_id") % 2 === p).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$p.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20)
    }
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Boolean)]
    val stream = spark.readStream.schema(documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = Streams.eachBatch(stream) { (b, _) =>
      val scored = graft.multimodal.Multimodal.mediaDecontaminateAgainstOn(b, evalDocs)
      val rows = scored.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      buf.synchronized { buf ++= rows }
    }
    q.awaitTermination()
    val batch = graft.multimodal.Multimodal.mediaDecontaminateAgainstOn(train, evalDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(batch.exists(!_._4), "degenerate corpus: no media contamination at this SF")
    assert(buf.size === buf.toSet.size, "an object was judged in more than one micro-batch")
    assert(buf.toSet === batch,
      s"missing: ${(batch -- buf.toSet).take(3)}; extra: ${(buf.toSet -- batch).take(3)}")
  }

  test("streaming decontamination across micro-batches matches the batch run doc for doc") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft_decon_stream").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val train = docs.filter(col("doc_id") % 10 =!= lit(graft.ext.Corpus.BenchSlice))
    val evalDocs = docs.filter(col("doc_id") % 10 === lit(graft.ext.Corpus.BenchSlice))
    // two micro-batches of training docs by doc_id parity
    Seq(0, 1).foreach { p =>
      val tmp = s"$base/tmp$p"
      train.filter(col("doc_id") % 2 === p).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$p.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20)
    }
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double, Boolean)]
    val stream = spark.readStream.schema(documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = Streams.eachBatch(stream) { (b, _) =>
      val scored = graft.ext.Corpus.decontaminateAgainstOn(b, evalDocs)
      val rows = scored.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      buf.synchronized { buf ++= rows }
    }
    q.awaitTermination()
    val batch = graft.ext.Corpus.decontaminateAgainstOn(train, evalDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toSet
    assert(batch.exists(!_._5), "degenerate corpus: batch run dropped nothing")
    assert(buf.size === buf.toSet.size, "a doc was scored in more than one micro-batch")
    assert(buf.toSet === batch,
      s"missing: ${(batch -- buf.toSet).take(3)}; extra: ${(buf.toSet -- batch).take(3)}")
  }

  test("streaming chunking emits exactly the batch chunk table (stateless per-doc windows)") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val sfDir = "/root/testdata/sf0.001"
    val base = Files.createTempDirectory("chunkstream").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    Seq(0, 1).foreach { p =>
      val tmp = s"$base/tmp$p"
      docs.filter(col("doc_id") % 2 === p).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$p.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20)
    }
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long, String)]
    val stream = spark.readStream.schema(documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = Streams.eachBatch(stream) { (b, _) =>
      val chunks = graft.ext.Corpus.chunkWindowsOn(b)
      val rows = chunks.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))
      buf.synchronized { buf ++= rows }
    }
    q.awaitTermination()
    val batch = graft.ext.Corpus.chunkWindowsOn(docs).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))).toSet
    assert(batch.nonEmpty)
    assert(buf.size === buf.toSet.size, "a chunk was emitted in more than one micro-batch")
    assert(buf.toSet === batch,
      s"missing: ${(batch -- buf.toSet).take(3)}; extra: ${(buf.toSet -- batch).take(3)}")
  }

  test("streaming fuzzy decontamination emits exactly the batch manifest (frozen eval set)") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val sfDir = "/root/testdata/sf0.001"
    val base = Files.createTempDirectory("fuzzydecon").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val train = docs.filter(col("doc_id") % 10 =!= lit(graft.ext.Corpus.BenchSlice))
    val evalDocs = docs.filter(col("doc_id") % 10 === lit(graft.ext.Corpus.BenchSlice))
    Seq(0, 1).foreach { p =>
      val tmp = s"$base/tmp$p"
      train.filter(col("doc_id") % 2 === p).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$p.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20)
    }
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Boolean)]
    val stream = spark.readStream.schema(documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = Streams.fuzzyDecontaminateBatches(stream, evalDocs) { (scored, _) =>
      val rows = scored.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      buf.synchronized { buf ++= rows }
      // no clearCache needed: the hook itself unpersists its per-batch caches
    }
    q.awaitTermination()
    val batch = graft.ext.Dedup.fuzzyDecontaminateAgainstOn(train, evalDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    spark.catalog.clearCache()
    assert(buf.size === buf.toSet.size, "a doc was judged in more than one micro-batch")
    assert(buf.toSet === batch,
      s"missing: ${(batch -- buf.toSet).take(3)}; extra: ${(buf.toSet -- batch).take(3)}")
  }

  test("streaming corpus mix emits exactly the batch mix (stateless pipeline op on a stream)") {
    // the mixing decisions are deterministic per-row hashes, so a streamed
    // corpus produces the identical weighted mix the batch run does —
    // what makes the 100 TB mixing job incrementally runnable
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
    val streamed = Streams.runToMemory(spark,
      graft.ext.Corpus.mixOn(stream), "t_mix_stream")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(4))).toSet
    val batch = graft.ext.Corpus.mixOn(graft.ops.Tables.documents(spark, sfDir))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(4))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming dsir scoring against frozen weights matches the batch scorer doc for doc") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft_dsir_stream").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    // weights train ONCE on the full frame (target + pool); the pool then
    // streams through in two micro-batches
    val weights = graft.ext.Corpus.dsirWeightsOn(docs).persist()
    Seq(0, 1).foreach { p =>
      val tmp = s"$base/tmp$p"
      docs.filter(col("doc_id") % 2 === p).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$p.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20)
    }
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val stream = spark.readStream.schema(documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = Streams.eachBatch(stream) { (b, _) =>
      val scored = graft.ext.Corpus.dsirScoreAgainstOn(b, weights)
      val rows = scored.select("doc_id", "score", "n_tokens").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      buf.synchronized { buf ++= rows }
    }
    q.awaitTermination()
    val batch = graft.ext.Corpus.dsirScoreAgainstOn(docs, weights)
      .select("doc_id", "score", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    weights.unpersist()
    assert(buf.size === buf.toSet.size, "a doc was scored in more than one micro-batch")
    assert(buf.toSet === batch,
      s"missing: ${(batch -- buf.toSet).take(3)}; extra: ${(buf.toSet -- batch).take(3)}")
    assert(batch.nonEmpty)
  }

  test("streaming quality classifier against frozen weights + calibration matches the batch gate") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft_qs_stream").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    // model (weights + calibration pair) trains ONCE on the full frame;
    // the pool then streams through in two micro-batches
    val weights = graft.ext.Quality.qsWeightsOn(docs).persist()
    val (tot, n) = graft.ext.Quality.qsThresholdOn(docs, weights)
    Seq(0, 1).foreach { p =>
      val tmp = s"$base/tmp$p"
      docs.filter(col("doc_id") % 2 === p).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$p.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20)
    }
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    val stream = spark.readStream.schema(documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = Streams.eachBatch(stream) { (b, _) =>
      val out = graft.ext.Quality.qsKeepWithThreshold(b, weights, tot, n)
      val rows = out.collect().map(r => (r.getLong(0), r.getBoolean(1)))
      buf.synchronized { buf ++= rows }
    }
    q.awaitTermination()
    val batch = graft.ext.Quality.qsKeepWithThreshold(docs, weights, tot, n)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    weights.unpersist()
    assert(buf.size === buf.toSet.size, "a doc was gated in more than one micro-batch")
    assert(buf.toSet === batch,
      s"missing: ${(batch -- buf.toSet).take(3)}; extra: ${(buf.toSet -- batch).take(3)}")
    assert(batch.exists(_._2) && batch.exists(!_._2),
      "degenerate: the gate kept everything or nothing")
  }

  test("streaming psi drift gate: healthy batches read stable, the truncated batch alone alarms") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft_psi_stream").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val baseline = graft.ext.Corpus.psiBucketsOn(docs).persist()
    // three micro-batches: two random halves (healthy), then every doc
    // truncated to one token (the bad ingest batch)
    val slices = Seq(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      docs.withColumn("text", element_at(graft.ext.Text.tokens(col("text")), 1)))
    slices.zipWithIndex.foreach { case (d, i) =>
      val tmp = s"$base/tmp$i"
      d.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$i.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20)
    }
    val verdicts = scala.collection.mutable.Map.empty[Long, (String, Double)]
    val stream = spark.readStream.schema(documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = Streams.eachBatch(stream) { (b, id) =>
      val report = graft.ext.Corpus.psiFromCounts(baseline, graft.ext.Corpus.psiBucketsOn(b))
      val h = report.collect().head
      verdicts.synchronized {
        verdicts(id) = (h.getAs[String]("verdict"), h.getAs[Double]("psi_total"))
      }
    }
    q.awaitTermination()
    baseline.unpersist()
    assert(verdicts.size === 3, s"expected 3 micro-batch reports, got $verdicts")
    // the two random halves match the corpus length distribution
    assert(verdicts(0L)._1 === "stable", s"batch 0: $verdicts")
    assert(verdicts(1L)._1 === "stable", s"batch 1: $verdicts")
    // the truncated batch alarms, and cleared the published threshold
    assert(verdicts(2L)._1 === "shifted", s"batch 2: $verdicts")
    assert(verdicts(2L)._2 >= graft.ext.Corpus.PsiModerate)
  }

  test("streaming fluency gate against a frozen census matches the batch scorer doc for doc") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft_flu_stream").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val census = graft.ext.Text.fluencyCensusOn(docs).persist()
    Seq(0, 1).foreach { p =>
      val tmp = s"$base/tmp$p"
      docs.filter(col("doc_id") % 2 === p).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$p.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20)
    }
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Option[Double], Boolean)]
    val stream = spark.readStream.schema(documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = Streams.eachBatch(stream) { (b, _) =>
      val scored = graft.ext.Text.lmFluencyAgainstOn(b, census)
      val rows = scored.collect().map(r =>
        (r.getLong(0), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4)))
      buf.synchronized { buf ++= rows }
    }
    q.awaitTermination()
    val batch = graft.ext.Text.lmFluencyAgainstOn(docs, census).collect().map(r =>
      (r.getLong(0), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4))).toSet
    census.unpersist()
    assert(buf.size === buf.toSet.size, "a doc was gated in more than one micro-batch")
    assert(buf.toSet === batch,
      s"missing: ${(batch -- buf.toSet).take(3)}; extra: ${(buf.toSet -- batch).take(3)}")
    assert(batch.nonEmpty)
  }

  test("streaming cell assignment against a frozen quantizer matches the batch assignment") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft_assign_stream").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    val emb = graft.ops.Tables.embeddings(spark, sfDir)
    val cent = graft.ext.Similarity.kmeansCentroidsOn(emb,
      graft.ext.Similarity.KmeansCfg(dims = graft.ext.Similarity.Dims)).persist()
    cent.count() // materialize before streaming reuses it per batch
    Seq(0, 1).foreach { p =>
      val tmp = s"$base/tmp$p"
      emb.filter(col("vec_id") % 2 === p).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$p.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("label", org.apache.spark.sql.types.IntegerType)))
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = Streams.eachBatch(stream) { (b, _) =>
      val assigned = graft.ext.Similarity.assignCellsAgainstOn(b, cent)
      val rows = assigned.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      buf.synchronized { buf ++= rows }
    }
    q.awaitTermination()
    val batch = graft.ext.Similarity.assignCellsAgainstOn(emb, cent)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamedSet = buf.map { case (v, c, cos) => (v, c, cos) }.toSet
    cent.unpersist()
    assert(buf.size === buf.toSet.size, "a vector was assigned in more than one micro-batch")
    assert(streamedSet === batch,
      s"missing: ${(batch -- streamedSet).take(3)}; extra: ${(streamedSet -- batch).take(3)}")
    assert(batch.nonEmpty)
  }

  test("RocksDB state store backs stateful streaming (production state backend)") {
    // at real scale the default in-memory HDFS-backed store OOMs on large
    // key spaces; RocksDB is the production backend. Same query, same
    // results — only the state backend changes.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val streamed = Streams.runToMemory(spark,
        Streams.tumblingCounts(Streams.readEventsStream(spark, sfDir)), "t_rocksdb",
        org.apache.spark.sql.streaming.OutputMode.Complete())
        .select(unix_micros(col("win_start")).as("win_start_us"), col("event_type"),
          col("n_events"), graft.ops.Num.r6(col("sum_value")).as("sum_value"))
        .orderBy("win_start_us", "event_type")
        .collect()
      val batch = Micro.tumblingWindow(spark, sfDir).orderBy("win_start_us", "event_type").collect()
      assert(streamed.length === batch.length)
      assert(streamed.toSeq === batch.toSeq)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming sessionize keeps open sessions across micro-batches and flushes via event-time timeout") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft_sessions_stream").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    val ev = graft.ops.Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
    // choose the first slice boundary INSIDE a known multi-event session
    // (one that also closes well before end-of-stream, so the event-time
    // timeout must flush it) — that session then MUST be stitched across
    // micro-batches by the state store
    val batchPre = Sessions.sessionize(spark, sfDir)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val maxTsPre = batchPre.map(_._3).max
    val target = batchPre
      .filter(s => s._4 >= 2 && s._3 > s._2 && s._3 + Streams.SessionGapUs + 1000000 < maxTsPre)
      .maxBy(_._4)
    val cuts = Array((target._2 + target._3) / 2, (target._3 + maxTsPre) / 2)
    // three time-slice files = three micro-batches (maxFilesPerTrigger=1),
    // in event-time order so the watermark advances monotonically
    val slices = Seq(
      col("ts_us") <= cuts(0),
      col("ts_us") > cuts(0) && col("ts_us") <= cuts(1),
      col("ts_us") > cuts(1))
    slices.zipWithIndex.foreach { case (pred, i) =>
      val tmp = s"$base/tmp$i"
      ev.filter(pred).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/slice$i.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20) // distinct mtimes → deterministic file-source order
    }
    val stream = spark.readStream
      .schema("user_id LONG, ts_us LONG, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
      .as[Streams.SessionEvent]
    // delay 0: watermark = max seen event time, so by end-of-stream every
    // session whose gap elapsed before the last event has timed out
    val streamed = Streams.runToMemory(spark,
      Streams.sessionize(stream, "0 seconds").toDF(), "t_sessionize_mb")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batchAll = Sessions.sessionize(spark, sfDir)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val batch = batchAll.toSet
    // every emitted session must be a real batch session — in particular,
    // sessions spanning a micro-batch boundary must NOT have split
    assert(streamed.subsetOf(batch),
      s"streaming emitted ${(streamed -- batch).take(5)} not present in batch sessions")
    assert(streamed.contains(target),
      s"session $target spans the first micro-batch boundary at ${cuts(0)} " +
        "and should have been stitched + flushed, but was not emitted intact")
    // flush completeness: all sessions that closed >=1s before the final
    // watermark must have been emitted by the event-time timeout
    val maxTsUs = batchAll.map(_._3).max
    val mustEmit = batch.filter(s => s._3 + Streams.SessionGapUs + 1000000 < maxTsUs)
    assert(mustEmit.subsetOf(streamed),
      s"timeout failed to flush ${(mustEmit -- streamed).take(5)}")
  }

  test("property: sessionize under out-of-order delivery and a NONZERO watermark delay seals exactly the gap-merge over non-late rows") {
    // the session-family instance of the watermark contract the as-of
    // property pins: random events randomly assigned to three
    // micro-batches (arrival order decoupled from event time) under a
    // nonzero delay. Expected: admission uses the one-batch-lagged
    // watermark; the emitted set equals the gap-merge sessionization of
    // the SURVIVORS restricted to sessions the final watermark sealed
    // (end + gap < wm). Event times sit on a 13-minute grid and delays on
    // 7.5/22.5 minutes, so neither the admission compare, the merge
    // compare (2 steps < gap < 3 steps) nor the seal compare can tie.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val Step = 780L * 1000000 // 13 min in µs; SessionGapUs = 30 min
    val ev = for {
      u <- Gen.choose(0L, 2L)
      k <- Gen.choose(1L, 12L)
      v <- Gen.choose(0, 9)
      b <- Gen.choose(0, 2)
    } yield (u, k * Step, v.toDouble, b)
    val input = for {
      evs <- Gen.listOfN(24, ev)
      delayMs <- Gen.oneOf(450000L, 1350000L) // 7.5 / 22.5 min
    } yield (evs, delayMs)
    var run = 0
    var sawLateDrop = false
    var sawSealed = false
    val prop = Prop.forAllNoShrink(input) { case (evs, delayMs) =>
      run += 1
      val base = Files.createTempDirectory("graft_ooo_sess").toString
      Files.createDirectories(Paths.get(s"$base/in"))
      (0 to 2).foreach { b =>
        val tmp = s"$base/tmp$b"
        evs.filter(_._4 == b).map { case (u, ts, v, _) => (u, ts, v) }
          .toDF("user_id", "ts_us", "value")
          .coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
        Files.move(part.toPath, Paths.get(s"$base/in/b$b.parquet"), StandardCopyOption.ATOMIC_MOVE)
        Thread.sleep(20)
      }
      // lagged-admission watermark simulation (the as-of property's model)
      var wmEvict = 0L
      var wmLate = 0L
      var maxSeen = Long.MinValue
      val surv = Seq.newBuilder[(Long, Long, Double)]
      (0 to 2).foreach { b =>
        val batch = evs.filter(_._4 == b)
        surv ++= batch.filter(_._2 >= wmLate).map { case (u, ts, v, _) => (u, ts, v) }
        if (batch.nonEmpty) maxSeen = math.max(maxSeen, batch.map(_._2).max)
        wmLate = wmEvict
        if (maxSeen != Long.MinValue)
          wmEvict = math.max(wmEvict, math.max(0L, (maxSeen / 1000L - delayMs) * 1000L))
      }
      val survRows = surv.result()
      if (survRows.size < evs.size) sawLateDrop = true
      // gap-merge sessionization of the survivors, in plain Scala
      val sessions = survRows.groupBy(_._1).toSeq.flatMap { case (u, es) =>
        val sorted = es.map(e => (e._2, e._3)).sortBy(_._1)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Double)]
        sorted.foreach { case (ts, v) =>
          if (out.nonEmpty && ts - out.last._3 <= Streams.SessionGapUs) {
            val l = out.last
            out(out.length - 1) = (u, l._2, ts, l._4 + 1, l._5 + v)
          } else out += ((u, ts, ts, 1L, v))
        }
        out
      }
      val wantSealed = sessions
        .filter(s => s._3 + Streams.SessionGapUs < wmEvict)
        .map(s => (s._1, s._2, s._3, s._4, s._5)).toSet
      if (wantSealed.nonEmpty) sawSealed = true
      val stream = spark.readStream.schema("user_id LONG, ts_us LONG, value DOUBLE")
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
        .as[Streams.SessionEvent]
      val got = Streams.runToMemory(spark,
          Streams.sessionize(stream, s"$delayMs milliseconds").toDF(), s"ooo_sess_$run")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toSet
      spark.catalog.dropTempView(s"ooo_sess_$run")
      Prop(got == wantSealed) :| (s"sessions drifted: missing ${(wantSealed -- got).take(2)} " +
        s"extra ${(got -- wantSealed).take(2)} wm=$wmEvict surv=${survRows.size}/${evs.size}")
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
    assert(sawLateDrop, "no sample dropped a late row — the property never left the delay-0 regime")
    assert(sawSealed, "no sample sealed a session — the parity was vacuous")
  }

  test("transformWithState sessionize matches flatMapGroupsWithState on the same micro-batches") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft_tws_stream").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    val ev = graft.ops.Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
    // three event-time slices = three micro-batches, watermark monotone
    val Array(lo, hi) = ev.agg(min("ts_us"), max("ts_us")).collect()
      .map(r => Array(r.getLong(0), r.getLong(1))).head
    val cuts = Array(lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    val slices = Seq(
      col("ts_us") <= cuts(0),
      col("ts_us") > cuts(0) && col("ts_us") <= cuts(1),
      col("ts_us") > cuts(1))
    slices.zipWithIndex.foreach { case (pred, i) =>
      val tmp = s"$base/tmp$i"
      ev.filter(pred).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/slice$i.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20)
    }
    def input = spark.readStream
      .schema("user_id LONG, ts_us LONG, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
      .as[Streams.SessionEvent]
    // transformWithState requires the RocksDB state store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    val (tws, fmgs) = try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val t = Streams.runToMemory(spark,
        Streams.sessionizeTws(input, "0 seconds").toDF(), "t_sessionize_tws")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      val f = Streams.runToMemory(spark,
        Streams.sessionize(input, "0 seconds").toDF(), "t_sessionize_fmgs")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      (t, f)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    // the two arbitrary-state APIs must implement the identical semantics
    assert(tws.toSet === fmgs.toSet,
      s"tws-only: ${(tws.toSet -- fmgs.toSet).take(3)}; fmgs-only: ${(fmgs.toSet -- tws.toSet).take(3)}")
    assert(tws.length === tws.toSet.size, "tws emitted a session twice")
    // and every emitted session is a REAL batch session (no split/corrupt)
    val batch = Sessions.sessionize(spark, sfDir)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(tws.map(t => (t._1, t._2, t._3, t._4)).toSet.subsetOf(batch),
      "tws emitted a session not present in the batch run")
    assert(tws.nonEmpty, "no session sealed before end-of-stream (degenerate slicing)")
  }

  test("streaming sessionize absorbs an out-of-order in-horizon event without corrupting the session end") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val min = 60L * 1000000
    val base = Files.createTempDirectory("graft_sessions_ooo").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    // batch1: t=T, t=T+10min; batch2: t=T+5min (older than max seen, but
    // far inside the 1h watermark → NOT dropped); batch3: t=T+50min (> gap
    // after T+10min, but the session is only SEALED once the watermark
    // passes T+10min+gap — not merely gap-closed within a batch); batch4:
    // t=T+110min pushes the watermark (delay 1h) to T+50min > T+40min,
    // sealing the first session. A lastTs-regression bug would end the
    // session at T+5min and fire the gap off the regressed timestamp; an
    // eager-emission bug would seal it while T+5min-style stragglers could
    // still arrive. T > 0: an event at exactly epoch 0 ties with the
    // initial watermark and is dropped as late — not what this test is
    // about.
    val T = 1000 * min
    val batches = Seq(
      Seq(T, T + 10 * min), Seq(T + 5 * min), Seq(T + 50 * min), Seq(T + 110 * min))
    batches.zipWithIndex.foreach { case (ts, i) =>
      val tmp = s"$base/tmp$i"
      ts.map(t => (7L, t, 1.0)).toDF("user_id", "ts_us", "value")
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$i.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20)
    }
    val stream = spark.readStream
      .schema("user_id LONG, ts_us LONG, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
      .as[Streams.SessionEvent]
    val streamed = Streams.runToMemory(spark,
      Streams.sessionize(stream).toDF(), "t_sessionize_ooo")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the sealed session must span [T, T+10min] with all 3 events; the
    // [T+50min] and [T+110min] sessions stay unsealed past end-of-stream
    // (final watermark T+50min is behind both ends + gap)
    assert(streamed === Set((7L, T, T + 10 * min, 3L)), s"got $streamed")
  }

  test("streaming sessionize bridges gap-separated intervals from one batch via a later in-horizon event") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val min = 60L * 1000000
    val base = Files.createTempDirectory("graft_sessions_bridge").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    // batch1 alone holds TWO gap-separated intervals [T] and [T+40min]
    // (40min > the 30min gap). Eager emission would seal [T,T] right away;
    // watermark-gated emission must keep both, so batch2's T+20min bridge
    // (well inside the 1h horizon) merges everything into ONE session.
    // batch3's T+150min event drives the watermark to T+90min, past the
    // merged end + gap = T+70min, sealing exactly one 3-event session.
    val T = 1000 * min
    val batches = Seq(Seq(T, T + 40 * min), Seq(T + 20 * min), Seq(T + 150 * min))
    batches.zipWithIndex.foreach { case (ts, i) =>
      val tmp = s"$base/tmp$i"
      ts.map(t => (7L, t, 1.0)).toDF("user_id", "ts_us", "value")
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$i.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20)
    }
    val stream = spark.readStream
      .schema("user_id LONG, ts_us LONG, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
      .as[Streams.SessionEvent]
    val streamed = Streams.runToMemory(spark,
      Streams.sessionize(stream).toDF(), "t_sessionize_bridge")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed === Set((7L, T, T + 40 * min, 3L)),
      s"expected one bridged session, got $streamed")
  }

  test("flatMapGroupsWithState sessionization matches the window-function batch twin") {
    val evs = graft.ops.Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[Streams.SessionEvent]
    val stateful = Streams.sessionize(evs)
      .toDF()
      .groupBy("user_id", "session_start_us", "session_end_us")
      .agg(sum("n_events").as("n_events")) // canonical shape for compare
      .orderBy("user_id", "session_start_us")
      .collect()
    val batch = Sessions.sessionize(spark, sfDir)
      .groupBy("user_id", "session_start_us", "session_end_us")
      .agg(sum("n_events").as("n_events"))
      .orderBy("user_id", "session_start_us")
      .collect()
    assert(stateful.length === batch.length)
    assert(stateful.toSeq === batch.toSeq)
  }

  test("streaming funnel keeps NULL-text docs in the canonical gate (batch parity on the null-fp group)") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft_nullfp_stream").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    // two NULL-text docs share the null fingerprint group; 20 (min id) is
    // canonical, 30 streams in a LATER batch and must still join the group
    val docs = Seq(
      (10L, Option("a real document with words here")),
      (20L, None: Option[String]),
      (30L, None: Option[String]),
      (40L, Option("another real document entirely")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
      .withColumn("n_chars", coalesce(length(col("text")).cast("long"), lit(0L)))
      .select("doc_id", "text", "lang", "source", "n_chars")
    val census = graft.ext.Text.fluencyCensusOn(docs).persist()
    val evalDocs = docs.filter(col("doc_id") % 10 === lit(graft.ext.Corpus.BenchSlice))
    Seq(0, 1).foreach { p =>
      val tmp = s"$base/tmp$p"
      docs.filter(col("doc_id") <= (if (p == 0) 20L else 40L) && col("doc_id") > (if (p == 0) 0L else 20L))
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$p.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20)
    }
    val qsW = graft.ext.Quality.qsWeightsOn(docs).persist()
    val qsThr = graft.ext.Quality.qsThresholdOn(docs, qsW)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val stream = spark.readStream.schema(documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = Streams.curationFunnelBatches(stream, census, evalDocs, s"$base/fps", qsW, qsThr) { (out, _) =>
      val rows = out.collect().map(_.toSeq)
      buf.synchronized { buf ++= rows }
    }
    q.awaitTermination()
    val batch = graft.ext.Curation.curationFunnelOn(docs).collect().map(_.toSeq).toSet
    census.unpersist(); spark.catalog.clearCache()
    // every doc — including both NULL-text docs — has exactly one verdict
    assert(buf.map(_.head).toSet === Set(10L, 20L, 30L, 40L))
    assert(buf.size === 4)
    assert(buf.toSet === batch,
      s"missing: ${(batch -- buf.toSet).take(3)}; extra: ${(buf.toSet -- batch).take(3)}")
  }

  test("streaming BM25 scoring against frozen stats matches the batch run doc for doc") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft_bm25_stream").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    // the frozen model trains on the full corpus; scoring then streams
    val (dft, stats) = graft.ext.Text.bm25StatsOn(docs)
    val dftP = dft.persist()
    val statsP = stats.persist()
    Seq(0, 1).foreach { p =>
      val tmp = s"$base/tmp$p"
      docs.filter(col("doc_id") % 2 === p).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$p.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20)
    }
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val stream = spark.readStream.schema(documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = Streams.eachBatch(stream) { (b, _) =>
      val out = graft.ext.Text.bm25ScoreAgainstOn(b, dftP, statsP)
      val rows = out.as[(Long, Long, Long, Double)].collect()
      buf.synchronized { buf ++= rows }
    }
    q.awaitTermination()
    val batch = graft.ext.Text.bm25ScoreAgainstOn(docs, dftP, statsP)
      .as[(Long, Long, Long, Double)].collect().toSet
    dftP.unpersist(); statsP.unpersist()
    spark.catalog.clearCache()
    assert(batch.nonEmpty, "degenerate corpus: no query term hits")
    assert(buf.size === buf.toSet.size, "a (query, doc) hit was scored twice")
    assert(buf.toSet === batch,
      s"missing: ${(batch -- buf.toSet).take(3)}; extra: ${(buf.toSet -- batch).take(3)}")
  }

  test("streaming hybrid scoring against frozen queries/stats matches the batch run pair for pair") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft_hybrid_stream").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    val rows = graft.ops.Tables.documents(spark, sfDir).select("doc_id", "text")
      .join(graft.ops.Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
    // frozen state: the query table (text + vector) and the BM25 stats
    val queries = graft.ext.Text.Bm25Queries.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (q, ts) => (q, ts.map(_._2).mkString(" ")) }
      .toDF("q_id", "q_text")
      .join(graft.ops.Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") <= 2L)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")), Seq("q_id"))
      .persist()
    val (dft0, stats0) = graft.ext.Text.bm25StatsOn(
      graft.ops.Tables.documents(spark, sfDir))
    val dft = dft0.persist(); val stats = stats0.persist()
    Seq(0, 1).foreach { p =>
      val tmp = s"$base/tmp$p"
      rows.filter(col("doc_id") % 2 === p).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/b$p.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20)
    }
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Double, Long)]
    val stream = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = Streams.eachBatch(stream) { (b, _) =>
      val out = graft.ext.Text.hybridScoreAgainstOn(b, queries, dft, stats)
      val got = out.as[(Long, Long, Double, Double, Long)].collect()
      buf.synchronized { buf ++= got }
    }
    q.awaitTermination()
    val batch = graft.ext.Text.hybridScoreAgainstOn(rows, queries, dft, stats)
      .as[(Long, Long, Double, Double, Long)].collect().toSet
    Seq(queries, dft, stats).foreach(_.unpersist())
    spark.catalog.clearCache()
    assert(batch.nonEmpty, "degenerate corpus: no scored pairs")
    assert(buf.size === buf.toSet.size, "a (query, doc) pair was scored twice")
    assert(buf.toSet === batch,
      s"missing: ${(batch -- buf.toSet).take(3)}; extra: ${(buf.toSet -- batch).take(3)}")
  }

  /** Time-sliced micro-batch event stream: three files cut at event-time
    * terciles (maxFilesPerTrigger=1 → three batches, nondecreasing
    * arrival — the ordered-ingestion contract the funnel/cohort twins
    * state). Returns the raw (user_id, ts, event_type, event_id) stream. */
  private def timeSlicedEventStream(tag: String,
                                    cutsAt: Seq[Long] = Nil): org.apache.spark.sql.DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory(s"graft_${tag}_stream").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    val ev = graft.ops.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), unix_micros(col("ts")).as("ts_us"), col("value"))
    val ts = ev.select("ts_us").as[Long].collect().sorted
    // default: event-time terciles; callers needing a cut at a SPECIFIC
    // instant (the ssjoin cross-batch case) pass their own boundaries
    val cuts = if (cutsAt.nonEmpty) cutsAt.sorted.toArray
      else Array(ts(ts.length / 3), ts(2 * ts.length / 3))
    val slices = (Long.MinValue +: cuts.toSeq).zip(cuts.toSeq :+ Long.MaxValue)
      .map { case (lo, hi) => col("ts_us") > lo && col("ts_us") <= hi }
    slices.zipWithIndex.foreach { case (pred, i) =>
      val tmp = s"$base/tmp$i"
      ev.filter(pred).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$base/in/slice$i.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(20)
    }
    spark.readStream
      .schema("event_id LONG, user_id LONG, event_type STRING, ts TIMESTAMP, ts_us LONG, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
  }

  test("streaming rate-spike ring matches the batch monitor on every sealed bucket") {
    val H = graft.queries.Sessions.HourUs
    val ev = graft.ops.Tables.events(spark, sfDir)
      .withColumn("ts_us", unix_micros(col("ts")))
    val lo = ev.agg(min(col("ts_us") - pmod(col("ts_us"), lit(H)))).head().getLong(0)
    val stream = timeSlicedEventStream("ratespike")
      .select(col("event_type"), col("ts_us")).as[Streams.RateEvent]
    val streamed = Streams.runToMemory(spark,
        Streams.rateSpikeUpdates(stream, lo).toDF(), "t_rate_spike")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6))))
    // append-once: a bucket seals exactly once across micro-batches
    // (event-driven and watermark-timeout sealing must never double-emit)
    assert(streamed.length === streamed.map(_._1).toSet.size, "a bucket was re-emitted")
    val batchAll = graft.queries.Sessions.rateSpike(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6))))
      .toMap
    // every sealed row — whether sealed by a later event or by the
    // watermark passing a silent type's bucket — must equal its batch twin
    streamed.foreach { case (key, v) =>
      assert(batchAll.get(key).contains(v), s"streamed $key=$v != batch ${batchAll.get(key)}")
    }
    // coverage floor: at minimum, every full-baseline bucket strictly
    // before a type's last event bucket is sealed (the in-band guarantee;
    // watermark sealing can only ADD buckets beyond it, checked above)
    val lastBucket = ev.groupBy("event_type")
      .agg(max(col("ts_us") - pmod(col("ts_us"), lit(H))).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val floor = batchAll.keySet.filter { case (t, b) => b < lastBucket(t) }
    assert(floor.nonEmpty, "degenerate corpus: no sealed full-baseline buckets")
    val sealedKeys = streamed.map(_._1).toSet
    assert(floor.subsetOf(sealedKeys),
      s"missing in-band buckets: ${(floor -- sealedKeys).take(3)}")
    // the watermark path actually fired: buckets past the last event
    // bucket of some type are sealed too (outage zero rows)
    assert(sealedKeys.exists { case (t, b) => b >= lastBucket(t) },
      "watermark sealing emitted nothing — silent-type outage rows missing")
  }

  test("rate-spike seal loop survives a corrupt far-future timestamp (dropped, not spun)") {
    val H = graft.queries.Sessions.HourUs
    // 26 quiet hours, then one event whose timestamp is Long.MaxValue —
    // an unguarded catch-up loop would synthesize ~2.6e12 zero buckets
    val sane = (0 until 26).map(h => Streams.RateEvent("a", h * H + 1))
    val corrupt = sane :+ Streams.RateEvent("a", Long.MaxValue - 7)
    def run(evs: Seq[Streams.RateEvent]) = {
      val out = Streams.rateSpikeUpdates(evs.toDS(), 0L).collect()
      out.map(r => (r.bucket_us, r.n)).toSeq.sorted
    }
    val t0 = System.nanoTime()
    val withCorrupt = run(corrupt)
    assert((System.nanoTime() - t0) < 60e9, "corrupt timestamp stalled the seal loop")
    // the corrupt event contributes nothing: output equals the sane run
    assert(withCorrupt === run(sane))
  }

  test("streaming funnel state machine matches the batch stage frame across micro-batches") {
    val stream = timeSlicedEventStream("funnel")
      .select(col("user_id"), col("ts_us"), col("event_type"), col("event_id"))
      .as[Streams.FunnelEvent]
    // Update mode: the LAST emission per user is the final stage row
    val emitted = Streams.runToMemory(spark,
        Streams.funnelStages(stream).toDF(), "t_funnel_stages",
        org.apache.spark.sql.streaming.OutputMode.Update())
      .collect()
      .map(r => (r.getLong(0),
        (Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long]))))
    // the state machine is monotone (fields only ever get SET), so every
    // emission is a prefix of the final state — the final state per user is
    // the emission with the most defined fields (order-independent)
    val finalStages = emitted.groupBy(_._1).view
      .mapValues(_.map(_._2).maxBy(t => t._1.size + t._2.size + t._3.size)).toMap
    val batch = graft.queries.Sessions.funnelStagesOn(
        graft.ops.Tables.events(spark, sfDir))
      .collect()
      .map(r => r.getLong(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    assert(batch.nonEmpty && batch.values.exists(_._3.nonEmpty),
      "degenerate corpus: no completed funnel in batch")
    // streaming covers exactly the batch's funnel-entered users (users with
    // no view still hold state rows but with t_view = None — drop them)
    val streamedEntered = finalStages.filter(_._2._1.nonEmpty)
    assert(streamedEntered === batch,
      s"stage mismatch; missing=${(batch.keySet -- streamedEntered.keySet).take(5)} " +
        s"diff=${batch.collect { case (k, v) if streamedEntered.get(k).exists(_ != v) => k }.take(5)}")
  }

  test("streaming cohort pairs equal the batch pair frame; shared finisher gives the same triangle") {
    val stream = timeSlicedEventStream("cohorts")
    val streamedPairs = Streams.runToMemory(spark,
        Streams.cohortPairs(Streams.weekEvents(stream)).toDF(), "t_cohort_pairs")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // append-once: no pair may be emitted twice across micro-batches
    assert(streamedPairs.length === streamedPairs.toSet.size, "a pair was re-emitted")
    val batchPairs = graft.queries.Sessions.cohortPairsOn(
        graft.ops.Tables.events(spark, sfDir))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(batchPairs.nonEmpty)
    assert(streamedPairs.toSet === batchPairs,
      s"missing=${(batchPairs -- streamedPairs.toSet).take(5)} extra=${(streamedPairs.toSet -- batchPairs).take(5)}")
    // the shared finisher over the streamed pairs = the registered query
    val tri = graft.queries.Sessions.cohortsFromPairs(
        streamedPairs.toSeq.toDF("user_id", "cohort_week", "active_week"))
      .orderBy("cohort_week", "weeks_since")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = graft.queries.Sessions.cohorts(spark, sfDir).orderBy("cohort_week", "weeks_since")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(tri === want)
  }
}
