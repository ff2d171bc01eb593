package graft

import java.sql.Timestamp
import graft.operators.Relational
import graft.streaming.{Alert, AlarmLatch, FireSignal, StreamOps}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The replay-twin contract behind q_latch_replay / q_session_replay: the
  * batch formulations must emit EXACTLY what the streaming operators emit
  * when the same rows are replayed one-per-micro-batch in arrival order
  * (the latch twin is driven against AlarmLatch, the one streaming latch).
  *
  * These scenarios are chosen to force every branch the fixture queries
  * rely on: out-of-order arrival, a late row below the watermark, a
  * watermark-boundary row, an idle-timeout split (fresh session after
  * eviction), and an open session withheld at end of stream.
  */
/** One side's event for the outer-join replay (top-level for the
  * MemoryStream encoder). */
case class JEv(event_id: Long, ts: Timestamp, user_id: Long)

class ReplayTwinsSpec extends SparkSpec {

  private def ts(s: Long): Timestamp = new Timestamp(s * 1000L)

  test("latch replay twin: arrival-order lag formulation ≡ streaming latch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (camera, event ts, fire) in ARRIVAL order — deliberately not ts order
    val arrived = Seq(
      ("c1", 5L, false), ("c1", 3L, true), ("c1", 9L, true),
      ("c2", 7L, true),
      ("c1", 1L, false), ("c1", 2L, true),
      ("c2", 8L, false), ("c2", 4L, true))
    val input = MemoryStream[FireSignal]
    val q = AlarmLatch(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("latch_replay_out").start()
    try arrived.foreach { case (cam, t, f) =>
      input.addData(FireSignal(cam, ts(t), f)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("latch_replay_out").as[Alert].collect()
      .map(a => (a.camera_id, a.ts.getTime / 1000)).sorted.toSeq

    val sig = arrived.zipWithIndex
      .map { case ((cam, t, f), i) => (cam, i.toLong, i.toLong, f, t) }
      .toDF("user_id", "event_id", "arr", "fire", "sig_ts")
    val batch = Relational.latchReplayOn(sig)
      .select("user_id", "sig_ts").as[(String, Long)].collect().sorted.toSeq
    assert(streamed == batch && streamed.nonEmpty,
      s"streamed=$streamed batch=$batch")
  }

  test("attribution replay twin: segment-window formulation ≡ AttributionV2 on replay (ttl off)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (user, event-time sec, type) in ARRIVAL order; ids = arrival index.
    // Probes every branch of the fold: an older click arriving later must
    // NOT replace state (e1), the late-purchase guard (e3), a clickless
    // user (e4), the (sec, id) tie on both the state update (e8 beats e7)
    // and the credit comparison (e6 credits the same-sec click e5).
    val arrived = Seq(
      (7L, 100L, "click"), (7L, 50L, "click"), (7L, 200L, "purchase"),
      (7L, 80L, "purchase"), (8L, 100L, "purchase"), (7L, 200L, "click"),
      (7L, 200L, "purchase"), (9L, 300L, "click"), (9L, 300L, "click"),
      (9L, 301L, "purchase"))
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val input = MemoryStream[graft.streaming.AttrEvent]
    val q = graft.streaming.AttributionV2(input.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_replay_out").start()
    try arrived.zipWithIndex.foreach { case ((u, s, typ), i) =>
      input.addData(graft.streaming.AttrEvent(u, i.toLong, typ, ts(s)))
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
    }
    val streamed = spark.table("attr_replay_out")
      .select("user_id", "purchase_id", "click_id", "latency_s")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val ev = arrived.zipWithIndex
      .map { case ((u, s, typ), i) => (i.toLong, u, typ, s, i.toLong) }
      .toDF("event_id", "user_id", "event_type", "sec", "arr")
    // ttl larger than any arrival span ⇒ no segmentation, pure fold
    val batch = Relational.attrReplayOn(ev, ttlSec = 1000000L)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(streamed == batch && streamed.nonEmpty,
      s"streamed=$streamed batch=$batch")
    assert(streamed == Seq((7L, 2L, 0L, 100L), (7L, 6L, 5L, 0L),
      (9L, 9L, 8L, 1L)), s"fold branches drifted: $streamed")
  }

  test("attribution replay twin: finite ttl ≡ imperative gap-expiry fold on the fixture") {
    import spark.implicits._
    // The streaming TTL clock is wall time and cannot be pinned in a
    // test, so the finite-ttl contract is checked against an imperative
    // replay-clock fold — the processor's exact per-row semantics
    // (unconditional state.update ⇒ expiry is an arrival-gap split).
    val ttl = 28800L
    val fixture = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
      .as[(Long, Long, String, Long)].collect()
    val expected = fixture
      .map { case (id, u, typ, sec) =>
        (u, sec + Math.floorMod(graft.operators.Curation.knuthFoldLong(id) * 2654435761L,
          3600L) - 1800L, id, typ, sec)
      }
      .groupBy(_._1).toSeq.flatMap { case (u, rows) =>
        var lc: Option[(Long, Long)] = None // (sec, id)
        var prev = Long.MinValue
        val out = Seq.newBuilder[(Long, Long, Long, Long)]
        for ((_, arr, id, typ, sec) <- rows.sortBy(r => (r._2, r._3))) {
          if (prev != Long.MinValue && arr - prev > ttl) lc = None
          prev = arr
          val ord = Ordering.Tuple2[Long, Long]
          typ match {
            case "click" if lc.forall(c => ord.gt((sec, id), c)) =>
              lc = Some((sec, id))
            case "purchase" if lc.exists(c => ord.lt(c, (sec, id))) =>
              out += ((u, id, lc.get._2, sec - lc.get._1))
            case _ => ()
          }
        }
        out.result()
      }.sorted
    val got = Relational.attrReplay(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(r => r)
    assert(got == expected, s"got=${got.take(5)}… expected=${expected.take(5)}…")
    // both branches must actually be exercised by the fixture
    val purchases = fixture.count(_._3 == "purchase")
    assert(got.nonEmpty && got.size < purchases,
      s"credited=${got.size} of $purchases purchases — a branch is dead")
  }

  test("session replay twin: window formulation ≡ sessionFinalize eviction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (event_id, user, sec) in arrival order; gap 1800 s, delay 600 s.
    //  u1 opens at 1000; u9's 10000 advances the watermark to 9400, so
    //  u1's 9400 row probes the exact watermark boundary (dropped — the
    //  late filter is strict, pinned by this test) and 9000 is plainly
    //  late; u9's 20000 then pushes the watermark past u1's deadline →
    //  u1's next row 20000 starts a FRESH session; u9's own rows keep
    //  merging (deadline never passed) → withheld at the end.
    //  Tail rows probe the TIMEOUT boundary: u2 opens at 100000 (deadline
    //  101800); u9's 102400 advances the watermark to exactly 101800 —
    //  the timeout must NOT fire at equality (strict), so u2's 103000
    //  merges into the same session rather than starting a fresh one.
    val arrived = Seq(
      (0L, 1L, 1000L), (1L, 9L, 10000L), (2L, 1L, 9400L), (3L, 1L, 9000L),
      (4L, 9L, 20000L), (5L, 1L, 20000L), (6L, 9L, 100000L),
      (7L, 2L, 100000L), (8L, 9L, 102400L), (9L, 2L, 103000L),
      (10L, 9L, 200000L))
    val input = MemoryStream[Ev]
    val q = StreamOps.sessionFinalize(input.toDF(), "30 minutes", "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("session_replay_out").start()
    try arrived.foreach { case (id, u, s) =>
      input.addData(Ev(id, ts(s), u, "view", 1.0, "{}"))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("session_replay_out")
      .select(col("user_id"), unix_timestamp(col("sess_start")).as("s"),
        unix_timestamp(col("sess_end")).as("e"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq

    val ev = arrived.zipWithIndex
      .map { case ((id, u, s), i) => (id, u, s, i.toLong) }
      .toDF("event_id", "user_id", "sec", "arr")
    val batch = Relational.sessionReplayOn(ev, delaySec = 600L, gapSec = 1800L)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(streamed == batch && streamed.nonEmpty,
      s"streamed=$streamed batch=$batch")
    // the withheld open session is the contract's other half: u9 must not
    // appear in either output
    assert(!streamed.exists(_._1 == 9L), s"u9's open session leaked: $streamed")
  }

  test("session replay twin: a stale session closes even when the user's next event arrives WITH data (r11 fix)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The flatMapGroupsWithState timeout only fires for groups WITHOUT
    // data in a batch — so when the watermark passes u2's deadline and
    // u2's very next event arrives in the following batch, the data
    // branch itself must close the stale session and start fresh
    // (pre-r11 it silently merged sessions separated by ~27 h):
    //   b1: u2@1000 opens (deadline 2800, wm 0 — timeout can't fire yet)
    //   b2: u9@100000 advances wm to 99400 at batch END (during b2 the
    //       timeout check still sees wm 0, so u2 stays open)
    //   b3: u2@100001 — u2 HAS data, no timeout; the stale check fires
    //   b4: u9@200000 pushes the final watermark past u2's 2nd deadline
    val arrived = Seq(
      (0L, 2L, 1000L), (1L, 9L, 100000L), (2L, 2L, 100001L),
      (3L, 9L, 200000L))
    val input = MemoryStream[Ev]
    val q = StreamOps.sessionFinalize(input.toDF(), "30 minutes", "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("session_stale_out").start()
    try arrived.foreach { case (id, u, s) =>
      input.addData(Ev(id, ts(s), u, "view", 1.0, "{}"))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("session_stale_out")
      .select(col("user_id"), unix_timestamp(col("sess_start")).as("s"),
        unix_timestamp(col("sess_end")).as("e"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    // TWO u2 sessions, not one 1000..100001 merge; u9 stays open/withheld
    assert(streamed == Seq((2L, 1000L, 1000L, 1L), (2L, 100001L, 100001L, 1L)),
      s"stale session not split: $streamed")
    // and the batch twin agrees row-for-row on the same replay
    val ev = arrived.zipWithIndex
      .map { case ((id, u, s), i) => (id, u, s, i.toLong) }
      .toDF("event_id", "user_id", "sec", "arr")
    val batch = Relational.sessionReplayOn(ev, delaySec = 600L, gapSec = 1800L)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
  }

  test("funnel replay twin: running-min formulation ≡ funnelStages on replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (user, event-time sec, type) in ARRIVAL order; ids = arrival index.
    // Probes every branch of the matcher's fold:
    //  u1: click before any known view is REJECTED and never revisited
    //      (click@5 arrives first), purchase behind the click state is
    //      rejected (4 < click 6), a later purchase converts (7 > 6);
    //  u2: click not strictly after the view state rejected (8 < 10), a
    //      purchase with no accepted click rejected, then click@15 and
    //      the 12 vs 15 strictly-after purchase guard, 16 converts;
    //  u3: purchase-only then view → final stage 1;
    //  u4: a LATER-arriving earlier view (4 → 2) unlocks click@3, which
    //      would have been rejected against view 4;
    //  u5: click@5 accepted against view 4, then view moves to 2 and
    //      click@3 lowers the click state (running min over accepted).
    val arrived = Seq(
      (1L, 5L, "click"), (1L, 3L, "view"), (1L, 6L, "click"),
      (1L, 4L, "purchase"), (1L, 7L, "purchase"),
      (2L, 10L, "view"), (2L, 8L, "click"), (2L, 20L, "purchase"),
      (2L, 15L, "click"), (2L, 12L, "purchase"), (2L, 16L, "purchase"),
      (3L, 5L, "purchase"), (3L, 9L, "view"),
      (4L, 4L, "view"), (4L, 2L, "view"), (4L, 3L, "click"),
      (5L, 4L, "view"), (5L, 5L, "click"), (5L, 2L, "view"), (5L, 3L, "click"))
    val input = MemoryStream[graft.streaming.FunnelEvent]
    val q = StreamOps.funnelStages(input.toDF())
      .writeStream.outputMode("update").format("memory")
      .queryName("funnel_replay_out").start()
    // update-mode memory sink: capture each batch's emission by delta so
    // the LAST emission per user (≡ final state) is known without batch
    // ids; each replayed batch holds exactly one event → one output row
    val lastStage = scala.collection.mutable.Map.empty[Long, Int]
    var seen = 0L
    try arrived.foreach { case (u, s, typ) =>
      input.addData(graft.streaming.FunnelEvent(u, typ, ts(s)))
      q.processAllAvailable()
      val rows = spark.table("funnel_replay_out")
        .as[(Long, Int)].collect()
      rows.drop(seen.toInt).foreach { case (uid, st) => lastStage(uid) = st }
      seen = rows.length.toLong
    } finally q.stop()
    val streamed = lastStage.toSeq.sorted

    val ev = arrived.zipWithIndex
      .map { case ((u, s, typ), i) => (i.toLong, u, typ, s, i.toLong) }
      .toDF("event_id", "user_id", "event_type", "sec", "arr")
    val batch = Relational.funnelReplayOn(ev)
      .select(col("user_id"), col("stage").cast("int"))
      .as[(Long, Int)].collect().toSeq.sorted
    assert(streamed == batch && streamed.nonEmpty,
      s"streamed=$streamed batch=$batch")
    assert(streamed == Seq((1L, 3), (2L, 3), (3L, 1), (4L, 2), (5L, 2)),
      s"fold branches drifted: $streamed")
  }

  test("outer-join replay twin: watermark-pair formulation ≡ clickPurchaseJoinOuter on replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (side, user, sec) in ARRIVAL order; ids = arrival index. Probes
    // every observed branch of the streaming join (delay 2 h, window
    // 1 h; wm = min(side maxima over earlier arrivals) − 7200):
    //  u1: plain match with the purchase side's watermark still unseen;
    //  u2: out-of-window gap inside the hour — matches;
    //  u3: purchase admitted, its click arrives BELOW the click bound
    //      (20000 < wm 32800 − 3600) → dropped, purchase null-extends;
    //  u4: click at exactly wm − 3600 and purchase at exactly wm — the
    //      purchase drops AT INPUT (non-strict boundary), so neither a
    //      match nor a null row ever appears;
    //  u5: admitted, unmatched, evicted by the final watermark → null;
    //  u6: admitted, unmatched, ABOVE the final watermark → withheld;
    //  u9/u99: same-second click/purchase pairs across a watermark jump.
    val script = Seq(
      ("C", 1L, 10000L), ("P", 1L, 10500L),
      ("C", 2L, 20000L), ("P", 2L, 23500L),
      ("P", 3L, 20000L),
      ("C", 9L, 40000L), ("P", 9L, 40000L),
      ("C", 3L, 20000L),
      ("C", 4L, 29200L), ("P", 4L, 32800L),
      ("P", 5L, 32801L),
      ("C", 99L, 50000L), ("P", 99L, 50000L),
      ("P", 6L, 49000L))
    val clicks = MemoryStream[JEv]
    val purchases = MemoryStream[JEv]
    val q = StreamOps.clickPurchaseJoinOuter(clicks.toDF(), purchases.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("join_outer_replay_out").start()
    try script.zipWithIndex.foreach { case ((side, u, s), i) =>
      if (side == "C") clicks.addData(JEv(i.toLong, ts(s), u))
      else purchases.addData(JEv(i.toLong, ts(s), u))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("join_outer_replay_out")
      .select("user_id", "purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq

    val ev = script.zipWithIndex
      .map { case ((side, u, s), i) =>
        (i.toLong, u, if (side == "C") "click" else "purchase", s, i.toLong) }
      .toDF("event_id", "user_id", "event_type", "sec", "arr")
    val batch = Relational.joinOuterReplayOn(ev, delaySec = 7200L, windowSec = 3600L)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    assert(streamed == batch && streamed.nonEmpty,
      s"streamed=$streamed batch=$batch")
    assert(streamed == Seq((1L, 1L, 0L), (2L, 3L, 2L), (3L, 4L, -1L),
      (5L, 10L, -1L), (9L, 6L, 5L), (99L, 12L, 11L)),
      s"join branches drifted: $streamed")
  }
}
