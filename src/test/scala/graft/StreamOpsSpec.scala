package graft

import java.sql.Timestamp
import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
              value: Double, props: String)

/** E-STREAM-WIN / E-WATERMARK: the same StreamOps pipeline in batch and
  * streaming mode; watermark late-data semantics (SURVEY §5.4). */
class StreamOpsSpec extends SparkSpec {

  def ts(min: Long): Timestamp = new Timestamp(min * 60000L)
  def ev(id: Long, min: Long, user: Long, typ: String = "view"): Ev =
    Ev(id, ts(min), user, typ, 1.0, "{}")

  def runStream(transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                name: String, batches: Seq[Seq[Ev]]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = transform(input.toDF())
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try batches.foreach { b => input.addData(b); query.processAllAvailable() }
    finally query.stop()
    spark.table(name)
  }

  test("streaming crowdAlert equals the batch pipeline on the same data (one definition, two modes)") {
    import spark.implicits._
    // enough events for one user-day to cross the >3 threshold
    val events = (0 until 10).map(i => ev(i, min = i * 30, user = 1)) ++
      Seq(ev(100, 24 * 60 * 3, 1)) // late horizon-advancer so windows finalize
    val streamed = runStream(StreamOps.crowdAlert(_, "1 day", "1 hour", 3), "crowd_out",
        Seq(events.take(5), events.drop(5)))
      .select(unix_timestamp(col("win_start")).as("w"), col("user_id"), col("n_events"))
      .as[(Long, Long, Long)].collect().toSet
    val batch = StreamOps.crowdAlert(spark.createDataset(events).toDF(), "1 day", "1 hour", 3)
      .select(unix_timestamp(col("win_start")).as("w"), col("user_id"), col("n_events"))
      .as[(Long, Long, Long)].collect().toSet
    // append-mode streaming only emits finalized (watermark-passed) windows
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch))
    // the day-0 window is finalized and must agree exactly
    assert(streamed.filter(_._1 == 0L) == batch.filter(_._1 == 0L))
  }

  test("watermark: late row within delay is counted, row later than the watermark is dropped") {
    import spark.implicits._
    // tumbling 10-min windows, 10-min watermark delay
    val b1 = Seq(ev(0, 1, 1), ev(1, 2, 1), ev(2, 3, 1))  // window [0,10)
    val b2 = Seq(ev(3, 25, 1))                            // advances watermark to 15
    val b3 = Seq(ev(4, 5, 1))                             // too late: watermark 15 > window end 10
    val b4 = Seq(ev(5, 60, 1))                            // closes window [20,30)
    val out = runStream(
      df => df.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n")),
      "wm_out", Seq(b1, b2, b3, b4))
      .select(unix_timestamp(col("window.start")).as("w"), col("n"))
      .as[(Long, Long)].collect().toMap
    assert(out(0L) == 3L)     // the late ev(4) at min 5 was NOT counted
    assert(out(1200L) == 1L)  // window [20,30) holds only the on-time ev(3)
  }

  test("stream-stream range join matches the batch range join on the same rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = StreamOps.clickPurchaseJoin(clicks.toDF(), purchases.toDF())
      .writeStream.outputMode("append").format("memory").queryName("ssj_out").start()
    try {
      clicks.addData(Seq(ev(10, 5, 1, "click"), ev(11, 50, 1, "click"),
        ev(12, 30, 2, "click")))
      purchases.addData(Seq(
        ev(20, 40, 1, "purchase"),  // window [min -20, 40]: catches click@5, not click@50
        ev(21, 200, 1, "purchase"), // no click in its prior hour
        ev(22, 35, 2, "purchase"))) // catches user 2's click@30
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ssj_out")
      .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
    // batch reference: same predicate on the same rows
    val allC = Seq(ev(10, 5, 1, "click"), ev(11, 50, 1, "click"), ev(12, 30, 2, "click"))
    val allP = Seq(ev(20, 40, 1, "purchase"), ev(21, 200, 1, "purchase"), ev(22, 35, 2, "purchase"))
    val expected = (for {
      p <- allP; c <- allC
      if c.user_id == p.user_id
      if !c.ts.after(p.ts) && c.ts.getTime >= p.ts.getTime - 3600000L
    } yield (p.event_id, c.event_id)).toSet
    assert(streamed == expected && streamed.nonEmpty)
  }

  test("session windows: events within the gap merge, a gap break starts a new session") {
    import spark.implicits._
    // user 1: events at min 0, 10, 20 (one session), then min 120 (new session)
    val evs = Seq(ev(0, 0, 1), ev(1, 10, 1), ev(2, 20, 1), ev(3, 120, 1),
      ev(4, 600, 1)) // horizon-advancer finalizes both sessions
    val out = runStream(StreamOps.sessions(_, "30 minutes", "10 minutes"),
      "sess_out", Seq(evs.take(3), evs.drop(3)))
      .select(unix_timestamp(col("sess_start")).as("s"), col("n_events"))
      .as[(Long, Long)].collect().toMap
    assert(out(0L) == 3L)          // min 0-20 merged into one session
    assert(out(7200L) == 1L)       // min 120 opened a fresh session
  }

  test("E-SET streaming: two camera streams union into one pipeline (paper p.3 multi-camera)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val camA = MemoryStream[Ev]
    val camB = MemoryStream[Ev]
    val q = StreamOps.crowdAlert(camA.toDF().unionByName(camB.toDF()), "1 day", "1 hour", 3)
      .writeStream.outputMode("update").format("memory").queryName("union_out").start()
    try {
      camA.addData((0 until 3).map(i => ev(i, i * 10, user = 1)))
      camB.addData((0 until 3).map(i => ev(100 + i, i * 10 + 5, user = 1)))
      q.processAllAvailable()
    } finally q.stop()
    val n = spark.table("union_out")
      .select(col("n_events")).as[Long].collect()
    assert(n.contains(6L)) // only the union of both streams crosses the >3 threshold
  }

  test("streaming funnel: ordered view->click->purchase stages across micro-batches, bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamOps.funnelStages(input.toDF())
      .toDF("user_id", "stage")
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("update").start()
    try {
      // batch 1: user 1 views then clicks; user 2 clicks BEFORE any view
      // (must not count); user 3 only views
      input.addData(Seq(
        ev(1, 10, 1, "view"), ev(2, 11, 1, "click"),
        ev(3, 10, 2, "click"),
        ev(4, 12, 3, "view")))
      q.processAllAvailable()
      // batch 2: user 1 purchases (after click -> stage 3); user 2 views
      // at min 12 then clicks at min 13 (click after view -> stage 2);
      // user 3 "purchases" without ever clicking (stays stage 1)
      input.addData(Seq(
        ev(5, 13, 1, "purchase"),
        ev(6, 12, 2, "view"), ev(7, 13, 2, "click"),
        ev(8, 14, 3, "purchase")))
      q.processAllAvailable()
    } finally q.stop()
    // stages only move forward, so max = the final reached stage (memory
    // sink rows carry no batch id; `last` over an unordered group would race)
    val reached = spark.table("funnel_out")
      .groupBy("user_id").agg(max("stage").as("stage"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(reached == Map(1L -> 3, 2L -> 2, 3L -> 1))
  }

  test("stream-static broadcast dim join enriches streaming events (S3 pattern)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // static dim stays a broadcast build re-planned per micro-batch —
    // the streaming face of the class-dim lookup (no stream-stream state)
    val dim = Seq((0L, "zone_a"), (1L, "zone_b"), (2L, "zone_c")).toDF("user_id", "zone")
    val input = MemoryStream[Ev]
    val q = input.toDF().join(broadcast(dim), Seq("user_id"), "left")
      .select("event_id", "zone")
      .writeStream.format("memory").queryName("dim_join_out").outputMode("append").start()
    try {
      input.addData(Seq(ev(1, 0, 0), ev(2, 1, 1)))
      q.processAllAvailable()
      input.addData(Seq(ev(3, 2, 5))) // user 5 not in the dim
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dim_join_out")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(1L -> Some("zone_a"), 2L -> Some("zone_b"), 3L -> None))
  }

  test("streaming funnel state survives a checkpoint restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("funnel_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("funnel_out").toString
    val input = MemoryStream[Ev]
    // update-mode output: parquet sink is append-only, so persist each
    // micro-batch's updates through foreachBatch
    def start() = StreamOps.funnelStages(input.toDF()).toDF("user_id", "stage")
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.write.mode("append").parquet(out)
      }
      .start()

    val q1 = start()
    try {
      input.addData(Seq(ev(1, 10, 1, "view"), ev(2, 11, 1, "click")))
      q1.processAllAvailable()
    } finally q1.stop()

    // post-restart purchase can only reach stage 3 if the restored state
    // still holds the pre-restart click timestamp to be strictly after
    val q2 = start()
    try {
      input.addData(Seq(ev(3, 12, 1, "purchase")))
      q2.processAllAvailable()
    } finally q2.stop()

    val stages = spark.read.parquet(out)
      .groupBy("user_id").agg(max("stage").as("stage"))
      .as[(Long, Int)].collect().toMap
    assert(stages == Map(1L -> 3))
  }

  test("session finalizer state and timeout survive a checkpoint restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def sec(s: Long): Timestamp = new Timestamp(s * 1000L)
    def e(id: Long, s: Long, user: Long): Ev = Ev(id, sec(s), user, "view", 1.0, "{}")
    val ckpt = java.nio.file.Files.createTempDirectory("sess_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("sess_out").toString
    val input = MemoryStream[Ev]
    def start() = StreamOps.sessionFinalize(input.toDF(), "30 minutes", "10 minutes")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.SessionOut], _: Long) =>
        b.write.mode("append").parquet(out)
      }
      .start()

    // open u1's session, then stop BEFORE anything can close it
    val q1 = start()
    try {
      input.addData(Seq(e(1, 100, 1), e(2, 200, 1)))
      q1.processAllAvailable()
    } finally q1.stop()

    // after restart, only the RESTORED state can produce the session row:
    // the closing events carry a different user entirely
    val q2 = start()
    try {
      Seq(Seq(e(3, 5000, 9)), Seq(e(4, 5100, 9)), Seq(e(5, 99999, 9)))
        .foreach { b => input.addData(b); q2.processAllAvailable() }
    } finally q2.stop()

    val sessions = spark.read.parquet(out)
      .select(col("user_id"), unix_timestamp(col("sess_start")).as("s"),
        unix_timestamp(col("sess_end")).as("e"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(sessions.contains((1L, 100L, 200L, 2L)),
      s"u1's pre-restart session must close from restored state, got $sessions")
  }

  test("streaming keyed-correction sink: a later micro-batch supersedes a stored row by key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val scratch = java.nio.file.Files.createTempDirectory("graft_upsert_sink")
    val path = s"$scratch/table"
    val input = MemoryStream[Ev]
    val shaped = input.toDF().select(col("event_id").as("id"),
      (col("user_id") % 2).cast("string").as("grp"), col("value").as("v"))
    val q = StreamOps.upsertSink(shaped, path, "id", Seq("grp"), s"$scratch/ckpt")
    try {
      input.addData(Seq(Ev(1L, ts(0), 0L, "view", 10.0, "{}"),
        Ev(2L, ts(1), 1L, "view", 11.0, "{}")))
      q.processAllAvailable()
      // batch 2: key 2 re-stated (correction), key 3 brand new
      input.addData(Seq(Ev(2L, ts(2), 1L, "view", 99.0, "{}"),
        Ev(3L, ts(3), 2L, "view", 12.0, "{}")))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(path).select("id", "v").as[(Long, Double)].collect().toSet
    // the correction REPLACED key 2's row — exactly one row per key survives
    assert(back == Set((1L, 10.0), (2L, 99.0), (3L, 12.0)))
  }

  test("session finalizer: idle timeout emits each closed session once and evicts state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def sec(s: Long): Timestamp = new Timestamp(s * 1000L)
    def e(id: Long, s: Long, user: Long): Ev = Ev(id, sec(s), user, "view", 1.0, "{}")
    val input = MemoryStream[Ev]
    // gap 30 min (1800 s), watermark delay 10 min (600 s); the watermark
    // used by batch N derives from data up to batch N-1, so timeouts land
    // one batch after the advancing event
    val query = StreamOps.sessionFinalize(input.toDF(), "30 minutes", "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("sess_fin").start()
    try {
      Seq(
        Seq(e(1, 100, 1), e(2, 200, 1), e(3, 150, 2)), // open u1, u2
        Seq(e(4, 3000, 3)),  // u3 opens; watermark still pre-deadline
        Seq(e(5, 3100, 3)),  // watermark 3000-600=2400 > deadlines 2000/1950 → u1, u2 close
        Seq(e(6, 6000, 2)),  // u2 starts a FRESH session (state was evicted)
        Seq(e(7, 9000, 9)),  // watermark 6000-600=5400 > u3 deadline 4900 → u3 closes
        Seq(e(8, 99999, 9)), // advance far enough to flush u2's second session
        Seq(e(9, 100000, 9)) // one more batch so the flush watermark applies
      ).foreach { b => input.addData(b); query.processAllAvailable() }
    } finally query.stop()
    val out = spark.table("sess_fin")
      .select(col("user_id"), unix_timestamp(col("sess_start")).as("s"),
        unix_timestamp(col("sess_end")).as("e"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out.contains((1L, 100L, 200L, 2L)), s"u1 session missing in $out")
    assert(out.contains((2L, 150L, 150L, 1L)), "u2 first session")
    assert(out.contains((2L, 6000L, 6000L, 1L)),
      "u2 second session proves the first was evicted, not extended")
    assert(out.contains((3L, 3000L, 3100L, 2L)), "u3 two-event session")
    assert(out.count(_._1 == 1L) == 1, "u1 emitted exactly once")
  }

  test("session finalizer under RocksDB state store: identical sessions, state still evicted") {
    // The 100 TB streaming story needs state that spills past the JVM
    // heap: RocksDBStateStoreProvider keeps per-key state off-heap and
    // on local disk, which is the provider a production deployment of
    // the high-cardinality stateful ops (sessions, attribution) would
    // run. Same scenario as the HDFS-backed idle-timeout case above —
    // results must be provider-invariant.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def sec(s: Long): Timestamp = new Timestamp(s * 1000L)
      def e(id: Long, s: Long, user: Long): Ev = Ev(id, sec(s), user, "view", 1.0, "{}")
      val input = MemoryStream[Ev]
      val query = StreamOps.sessionFinalize(input.toDF(), "30 minutes", "10 minutes")
        .writeStream.outputMode("append").format("memory").queryName("sess_rocks").start()
      try {
        Seq(
          Seq(e(1, 100, 1), e(2, 200, 1), e(3, 150, 2)),
          Seq(e(4, 3000, 3)),
          Seq(e(5, 3100, 3)),
          Seq(e(6, 6000, 2)),
          Seq(e(7, 9000, 9)),
          Seq(e(8, 99999, 9)),
          Seq(e(9, 100000, 9))
        ).foreach { b => input.addData(b); query.processAllAvailable() }
      } finally query.stop()
      val out = spark.table("sess_rocks")
        .select(col("user_id"), unix_timestamp(col("sess_start")).as("s"),
          unix_timestamp(col("sess_end")).as("e"), col("n_events"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(out.contains((1L, 100L, 200L, 2L)), s"u1 session missing in $out")
      assert(out.contains((2L, 150L, 150L, 1L)), "u2 first session")
      assert(out.contains((2L, 6000L, 6000L, 1L)),
        "u2 second session proves eviction holds under RocksDB too")
      assert(out.contains((3L, 3000L, 3100L, 2L)), "u3 two-event session")
      assert(out.count(_._1 == 1L) == 1, "u1 emitted exactly once")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("streaming JDBC sink: micro-batches land in the relational store, batch-stamped (views.py:49-52)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    System.setProperty("derby.stream.error.file", "/tmp/graft_derby.log")
    val scratch = java.nio.file.Files.createTempDirectory("graft_jdbc_sink")
    val url = s"jdbc:derby:$scratch/sinkdb;create=true"
    val input = MemoryStream[Ev]
    val q = StreamOps.jdbcSink(
      input.toDF().select(col("event_id"), col("user_id"), col("value")),
      url, "stream_out", s"$scratch/ckpt")
    try {
      input.addData(Seq(ev(1, 0, 10), ev(2, 1, 11)))
      q.processAllAvailable()
      input.addData(Seq(ev(3, 2, 12)))
      q.processAllAvailable()
    } finally q.stop()
    val back = Tables.usersJdbc(spark, url, "stream_out")
      .select(col("event_id").cast("long"), col("batch_id").cast("long"))
      .as[(Long, Long)].collect().toSet
    // two micro-batches, three rows, each row stamped with its batch
    assert(back == Set((1L, 0L), (2L, 0L), (3L, 1L)))
    // replay idempotence: a re-delivered micro-batch (same batchId — the
    // post-crash foreachBatch contract) clears its own rows first, so the
    // store never holds duplicates
    StreamOps.jdbcSinkBatch(
      Seq((3L, 12L, 1.0)).toDF("event_id", "user_id", "value"), 1L, url, "stream_out")
    assert(Tables.usersJdbc(spark, url, "stream_out").count() == 3L)
  }

  test("left outer stream-stream join: unmatched purchases emit null-extended after watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = StreamOps.clickPurchaseJoinOuter(clicks.toDF(), purchases.toDF(), "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("ssj_outer").start()
    try {
      clicks.addData(Seq(ev(10, 30, 1, "click")))
      purchases.addData(Seq(
        ev(20, 40, 1, "purchase"),   // matched: click@30 within its prior hour
        ev(21, 45, 2, "purchase")))  // user 2 never clicks -> unmatched
      q.processAllAvailable()
      // advance BOTH watermarks far past purchase@45 + delay so "no
      // match can still arrive" becomes provable and the null row emits
      clicks.addData(Seq(ev(90, 10000, 9, "click")))
      purchases.addData(Seq(ev(91, 10000, 9, "purchase")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ssj_outer")
      .select(col("user_id"), col("purchase_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"))
      .as[(Long, Long, Long)].collect().toSet
    assert(rows.contains((1L, 20L, 10L)), s"matched row missing: $rows")
    assert(rows.contains((2L, 21L, -1L)),
      s"unmatched purchase should null-extend after watermark: $rows")
  }

  test("streaming attribution: single-batch replay equals the batch window twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fixture = Tables.events(spark, sf)
      .select("user_id", "event_id", "event_type", "ts")
      .as[graft.streaming.AttrEvent].collect().toSeq
    val input = MemoryStream[graft.streaming.AttrEvent]
    val q = StreamOps.attributionStream(input.toDF())
      .writeStream.outputMode("append").format("memory").queryName("attr_out").start()
    try { input.addData(fixture); q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("attr_out")
      .select("user_id", "purchase_id", "click_id", "latency_s")
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = graft.operators.Relational.attribution(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming attribution: last-click state survives a checkpoint restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ae(id: Long, min: Long, user: Long, typ: String) =
      graft.streaming.AttrEvent(user, id, typ, ts(min))
    val ckpt = java.nio.file.Files.createTempDirectory("attr_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("attr_out").toString
    val input = MemoryStream[graft.streaming.AttrEvent]
    def start() = StreamOps.attributionStream(input.toDF())
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.Attribution], _: Long) =>
        b.write.mode("append").parquet(out)
      }
      .start()
    // run 1 holds only the click, then dies
    val q1 = start()
    try { input.addData(Seq(ae(1, 0, 7, "click"))); q1.processAllAvailable() }
    finally q1.stop()
    // run 2's purchase can only be credited from RESTORED state
    val q2 = start()
    try { input.addData(Seq(ae(2, 20, 7, "purchase"))); q2.processAllAvailable() }
    finally q2.stop()
    val rows = spark.read.parquet(out)
      .select("user_id", "purchase_id", "click_id", "latency_s")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(rows == Set((7L, 2L, 1L, 20L * 60L)),
      s"restored state must credit the pre-restart click, got $rows")
  }

  test("streaming attribution: state carries the last click across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ae(id: Long, min: Long, user: Long, typ: String) =
      graft.streaming.AttrEvent(user, id, typ, ts(min))
    val input = MemoryStream[graft.streaming.AttrEvent]
    val q = StreamOps.attributionStream(input.toDF())
      .writeStream.outputMode("append").format("memory").queryName("attr_xb").start()
    try {
      input.addData(Seq(ae(1, 0, 7, "click"), ae(2, 5, 7, "click")))
      q.processAllAvailable()
      input.addData(Seq(ae(3, 20, 7, "purchase"), ae(4, 30, 8, "purchase")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("attr_xb")
      .select("user_id", "purchase_id", "click_id", "latency_s")
      .as[(Long, Long, Long, Long)].collect().toSet
    // the purchase in batch 2 is credited to the LATEST click held in
    // state from batch 1; user 8 never clicked, so no row
    assert(rows == Set((7L, 3L, 2L, 15L * 60L)))
  }

  test("transformWithState attribution (V2) matches flatMapGroupsWithState on a cross-batch replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ae(id: Long, min: Long, user: Long, typ: String) =
      graft.streaming.AttrEvent(user, id, typ, ts(min))
    val b1 = Seq(ae(1, 0, 7, "click"), ae(2, 5, 7, "click"), ae(5, 6, 9, "click"))
    val b2 = Seq(ae(3, 20, 7, "purchase"), ae(4, 30, 8, "purchase"),
      ae(6, 31, 9, "purchase"))
    // transformWithState needs the RocksDB provider (multiple column
    // families); the default HDFS-backed store refuses
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // under ProcessingTime mode TransformWithStateExec always reports
    // "run another (no-data) batch", so processAllAvailable never sees an
    // idle stream and spins; TTL expiry is checked on state ACCESS, not in
    // idle batches, so the eviction semantics don't need them
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val input = MemoryStream[graft.streaming.AttrEvent]
    val q = graft.streaming.AttributionV2(input.toDF())
      .writeStream.outputMode("append").format("memory").queryName("attr_v2").start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
    }
    val v2 = spark.table("attr_v2")
      .select("user_id", "purchase_id", "click_id", "latency_s")
      .as[(Long, Long, Long, Long)].collect().toSet
    // identical fold: latest batch-1 click credits the batch-2 purchase
    assert(v2 == Set((7L, 3L, 2L, 15L * 60L), (9L, 6L, 5L, 25L * 60L)))
  }

  test("V2 attribution TTL: an idle user's last-click state expires and a late purchase goes uncredited") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ae(id: Long, min: Long, user: Long, typ: String) =
      graft.streaming.AttrEvent(user, id, typ, ts(min))
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // see the V2 replay test: no-data batches would make
    // processAllAvailable spin forever under TimeMode.ProcessingTime
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    def run(name: String, ttlMillis: Long, idleMillis: Long): Set[(Long, Long, Long, Long)] = {
      val input = MemoryStream[graft.streaming.AttrEvent]
      val q = graft.streaming.AttributionV2(input.toDF(), ttlMillis)
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try {
        input.addData(Seq(ae(1, 0, 7, "click"))); q.processAllAvailable()
        Thread.sleep(idleMillis)
        input.addData(Seq(ae(2, 20, 7, "purchase"))); q.processAllAvailable()
      } finally q.stop()
      spark.table(name)
        .select("user_id", "purchase_id", "click_id", "latency_s")
        .as[(Long, Long, Long, Long)].collect().toSet
    }
    try {
      // control: generous TTL, same idle gap -> state survives, credited
      val kept = run("attr_ttl_keep", 120000L, 100L)
      assert(kept == Set((7L, 2L, 1L, 20L * 60L)),
        s"control run should credit the click: $kept")
      // 1s TTL, 4s idle -> LastClick evicted, purchase uncredited: the
      // attribution-window policy IS the state bound (PLANS: active
      // users, not all users ever seen)
      val evicted = run("attr_ttl_evict", 1000L, 4000L)
      assert(evicted.isEmpty,
        s"expired state must not credit the purchase: $evicted")
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
    }
  }
}
