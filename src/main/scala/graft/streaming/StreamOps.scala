package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One funnel-relevant event (input row of `StreamOps.funnelStages`). */
case class FunnelEvent(user_id: Long, event_type: String, ts: java.sql.Timestamp)

/** Accumulating per-user session state for [[StreamOps.sessionFinalize]]:
  * bounds are epoch millis, count is the events folded so far. */
case class SessionAcc(start: Long, end: Long, n: Long)

/** A closed session: emitted exactly once, when the user has been idle
  * past the gap relative to the event-time watermark. */
case class SessionOut(user_id: Long, sess_start: java.sql.Timestamp,
                      sess_end: java.sql.Timestamp, n_events: Long)

/** Per-user funnel state: earliest qualifying ms-epoch per stage
  * (Long.MaxValue = not reached). Three longs — bounded by construction. */
case class FunnelProgress(view: Long, click: Long, buy: Long)

/** attributionStream rows/state/output (batch twin: Relational.attribution). */
case class AttrEvent(user_id: Long, event_id: Long, event_type: String,
                     ts: java.sql.Timestamp)
case class LastClick(click_id: Long, click_ms: Long)
case class Attribution(user_id: Long, purchase_id: Long, click_id: Long,
                       latency_s: Long)

/** E-STREAM-WIN / E-WATERMARK / E-STATE — the streaming
  * transformations, written as `DataFrame => DataFrame` so the SAME logical
  * pipeline runs in batch (oracle-checked: q_crowd_alert, q_session) and
  * under `readStream` (IncrementalExecution). That one-definition-two-modes
  * shape is the engine's answer to the reference's copy-pasted pipeline
  * (`main.py` vs `app/views.py:76-210` — SURVEY §0 duplication map).
  * Besides the windowed aggregates (crowd alerts, sessions) it holds the
  * stream-stream click/purchase joins, the custom-state operators
  * (funnel stages, session finalizer, last-touch attribution) and the
  * two relational sinks (JDBC and lake upsert).
  *
  * Expected input schema: the events fixture (ts TIMESTAMP, user_id BIGINT,
  * event_type STRING, value DOUBLE, ...).
  */
object StreamOps {

  /** Crowd alert (`main.py:226-233` spine): filter → tumbling-window count
    * per key → threshold. Watermark bounds state: windows older than the
    * delay are finalized and evicted — the principled version of the
    * reference's drop-late-implicitly behavior (SURVEY §2.2 note). */
  def crowdAlert(events: DataFrame,
                 windowDur: String = "1 day",
                 watermarkDelay: String = "1 hour",
                 threshold: Int = 3): DataFrame =
    events
      .filter(col("event_type") =!= "error")
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") > threshold)
      .select(col("window.start").as("win_start"), col("user_id"), col("n_events"))

  /** Session windows per user (30-minute gap) — streaming twin of
    * Relational.sessionize / q_session. */
  def sessions(events: DataFrame,
               gap: String = "30 minutes",
               watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("sess_start"), col("user_id"), col("n_events"))

  /** Stream-stream range join — the streaming twin of
    * graft.operators.RangeJoin: purchases enriched with the clicks in the
    * hour before them, joined as two live streams. Watermarks on BOTH
    * sides plus the time-range join condition let Spark bound and evict
    * join state (a click older than purchase-watermark − 1 h can never
    * match again); without them a stream-stream join's state grows
    * forever. Expects two event-shaped streams (ts, user_id, event_id). */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                        watermarkDelay: String = "2 hours"): DataFrame =
    clickPurchaseJoined(clicks, purchases, watermarkDelay, "inner")

  /** LEFT OUTER stream-stream join: every purchase emits — matched rows
    * as they pair, UNMATCHED purchases as null-extended rows once the
    * watermark proves no in-window click can still arrive. The outer
    * side is exactly where streaming semantics bite: an inner join can
    * emit eagerly, but "no match" is only decidable when the click
    * watermark passes purchase_ts (state-expiry-driven emission), so
    * unmatched results trail the data by the watermark delay. Same
    * conditions as [[clickPurchaseJoin]] — watermarks on BOTH sides +
    * the time-range predicate keep join state bounded. */
  def clickPurchaseJoinOuter(clicks: DataFrame, purchases: DataFrame,
                             watermarkDelay: String = "2 hours"): DataFrame =
    clickPurchaseJoined(clicks, purchases, watermarkDelay, "leftOuter")

  /** Shared body of the inner and LEFT OUTER variants — one definition
    * of the projections, watermarks and range predicate, so widening the
    * click window (or the delay) cannot silently make the two variants
    * answer different questions. */
  private def clickPurchaseJoined(clicks: DataFrame, purchases: DataFrame,
                                  watermarkDelay: String,
                                  joinType: String): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("click_id"))
      .withWatermark("c_ts", watermarkDelay)
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
      .withWatermark("p_ts", watermarkDelay)
    p.join(c, expr(
      "c_user = p_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"),
      joinType)
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"))
  }

  /** Streaming conversion funnel (the stream face of q_funnel): per-user
    * ordered-sequence detection — view, then a click strictly after the
    * earliest view, then a purchase strictly after that click — with
    * BOUNDED state: three timestamps per user, nothing else. Each
    * micro-batch's rows sort by event time before folding (delivery order
    * is not event order); timestamps only ever move EARLIER, and the
    * strictly-after conditions are monotone under that (an earlier first
    * view never invalidates a recorded click), so cross-batch order is
    * tolerated with one documented exception: a click REJECTED because no
    * earlier view was known yet is not revisited when a late view
    * arrives — the bounded-state tradeoff every streaming sequence
    * matcher makes (re-sending the click after the view converts it).
    * Emits the user's currently reached stage (update mode). */
  def funnelStages(events: DataFrame): Dataset[(Long, Int)] = {
    val sess = events.sparkSession
    import sess.implicits._
    events.select(col("user_id").cast("long").as("user_id"),
        col("event_type"), col("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelProgress, (Long, Int)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[FunnelEvent],
         state: org.apache.spark.sql.streaming.GroupState[FunnelProgress]) =>
          val none = Long.MaxValue
          var s = state.getOption.getOrElse(FunnelProgress(none, none, none))
          for (r <- rows.toSeq.sortBy(r => (r.ts.getTime, r.event_type))) {
            val t = r.ts.getTime
            r.event_type match {
              case "view" if t < s.view => s = s.copy(view = t)
              case "click" if t > s.view && t < s.click => s = s.copy(click = t)
              case "purchase" if t > s.click && t < s.buy => s = s.copy(buy = t)
              case _ => ()
            }
          }
          state.update(s)
          val stage = if (s.buy != none) 3 else if (s.click != none) 2
            else if (s.view != none) 1 else 0
          (uid, stage)
      }
  }

  /** Idle-timeout session finalizer: the custom-state sibling of the
    * `session_window` aggregate ([[sessions]]) — one summary row per
    * CLOSED session, emitted exactly once, when the user has been idle
    * longer than `gap` relative to the event-time watermark. This is the
    * state-EVICTION pattern the other stateful ops here don't exercise
    * (AlarmLatch and funnelStages hold state forever under NoTimeout):
    * `GroupStateTimeout.EventTimeTimeout` + `setTimeoutTimestamp(end +
    * gap)` makes Spark itself call the function with `hasTimedOut` once
    * the watermark passes the deadline; the state is removed there, so
    * per-user memory is bounded by session activity, not stream lifetime,
    * and a user's NEXT event starts a fresh session. Late rows inside the
    * watermark extend or backdate the open session (min/max fold — order
    * within a batch is irrelevant); rows later than that were already
    * declared impossible by the watermark contract.
    *
    * Use `session_window` when a plain count/sum per session is enough
    * (aggregate state, restart-cheap); use this shape when the per-session
    * fold needs custom logic (distinct pages, path signatures, fraud
    * scores) that aggregates can't express. Expects (ts, user_id). */
  def sessionFinalize(events: DataFrame, gap: String = "30 minutes",
                      watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    val sess = events.sparkSession
    import sess.implicits._
    val gapMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    // month-bearing intervals have no fixed millisecond value; silently
    // reading only days+micros would turn gap "1 month" into 0 ms and
    // time every session out immediately — fail loudly instead
    require(gapMs.months == 0,
      s"sessionFinalize gap '$gap' must not contain month units")
    val gapMillis = gapMs.days * 86400000L + gapMs.microseconds / 1000L
    events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").cast("long").as("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionAcc, SessionOut](
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: org.apache.spark.sql.streaming.GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            // watermark passed end + gap: the session is closed — emit
            // its one summary row and evict the state
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(uid,
              new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.end), s.n))
          } else {
            val ts = rows.map(_._2.getTime).toSeq
            val wm = state.getCurrentWatermarkMs()
            // a session whose deadline (end + gap) the watermark has
            // already STRICTLY passed is closed by contract — the timeout
            // just hadn't fired yet because the user's next rows landed in
            // the very batch that would have fired it. Close it here and
            // start a fresh session from these rows; silently extending it
            // would merge two sessions separated by more than the gap
            // (the batch twin sessionReplayOn splits on exactly
            // prev-end + gap < wm-at-arrival).
            val stale = state.getOption.filter(p => p.end + gapMillis < wm)
            val prev =
              if (stale.isDefined) SessionAcc(Long.MaxValue, Long.MinValue, 0L)
              else state.getOption.getOrElse(SessionAcc(Long.MaxValue, Long.MinValue, 0L))
            val next = SessionAcc(math.min(prev.start, ts.min),
              math.max(prev.end, ts.max), prev.n + ts.size)
            state.update(next)
            // clamp: when gap < watermarkDelay, a legally-late row can
            // put end + gap BEHIND the current watermark, and Spark
            // rejects a timeout at-or-before the watermark (query
            // failure). The clamped deadline fires at the next possible
            // instant — the session is already due to close
            state.setTimeoutTimestamp(math.max(next.end + gapMillis, wm + 1))
            stale.iterator.map(s => SessionOut(uid,
              new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.end), s.n))
          }
      }
  }

  /** Streaming last-touch attribution — the live twin of
    * `Relational.attribution`: per-user state carries the most recent
    * click (id + millis); each purchase emits one credited row the
    * moment it arrives, instead of waiting for a batch window scan. The
    * state is ONE fixed-size record per user (the carry-forward column
    * of the batch window, made explicit), so memory is user-cardinality
    * regardless of stream length. Rows inside a micro-batch replay in
    * lex (ts, event_id) order — the same total order the batch window
    * sorts by — so a single-batch replay reproduces the batch result
    * row-for-row; across batches the funnelStages caveat applies (a
    * click arriving AFTER a purchase already processed does not
    * retro-credit it — the bounded-state tradeoff). The mirror-image
    * cross-batch case — a LATE purchase arriving after state already
    * holds an event-time-later click — is guarded explicitly: a purchase
    * only credits a click at or before it in (ts, event_id) order, the
    * same strictly-preceding frame the batch window uses, so negative
    * latencies cannot be emitted. */
  def attributionStream(events: DataFrame): Dataset[Attribution] = {
    val sess = events.sparkSession
    import sess.implicits._
    events.select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        col("event_type"), col("ts"))
      .as[AttrEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastClick, Attribution](
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[AttrEvent],
         state: org.apache.spark.sql.streaming.GroupState[LastClick]) =>
          val (last, out) = attributionFold(uid, rows, state.getOption)
          state.update(last)
          out.iterator
      }
  }

  /** One user's last-touch fold, shared by [[attributionStream]] and
    * [[AttributionV2]]: rows replay in (ts, event_id) order from the
    * stored click (`None` = never seen, or expired); returns the new
    * state and the credited purchases. */
  private[streaming] def attributionFold(uid: Long, rows: Iterator[AttrEvent],
      stored: Option[LastClick]): (LastClick, Seq[Attribution]) = {
    var last = stored.getOrElse(LastClick(-1L, Long.MinValue))
    val out = Seq.newBuilder[Attribution]
    for (r <- rows.toSeq.sortBy(r => (r.ts.getTime, r.event_id))) {
      val t = r.ts.getTime
      r.event_type match {
        case "click"
            if t > last.click_ms
              || (t == last.click_ms && r.event_id > last.click_id) =>
          last = LastClick(r.event_id, t)
        case "purchase"
            if last.click_id >= 0
              && (last.click_ms < t
                || (last.click_ms == t && last.click_id < r.event_id)) =>
          // floor-second latency, matching the batch twin's
          // unix_timestamp difference; the (ts, event_id) guard
          // keeps a late purchase from crediting a click whose
          // event time is after it (cross-batch arrival order)
          out += Attribution(uid, r.event_id, last.click_id,
            t / 1000L - last.click_ms / 1000L)
        case _ => ()
      }
    }
    (last, out.result())
  }

  /** S5 streaming face: micro-batched stream → relational store, the
    * streaming twin of the batch `Writers.writeJdbc` (reference
    * registration sink, `app/views.py:49-52` — new rows land in the RDBMS
    * as they arrive). `foreachBatch` is Spark's JDBC-sink recipe: each
    * micro-batch appends through the batch writer, stamped with its
    * batchId. Replay safety — after a crash the last batch can be
    * re-delivered — comes from the stamp: a batch first DELETEs its own
    * batch_id rows, so re-appending is idempotent (delete of a batch_id
    * that never landed is a no-op; the first-ever batch tolerates the
    * table not existing yet). */
  def jdbcSink(stream: DataFrame, url: String, table: String,
               checkpoint: String,
               driver: String = "org.apache.derby.jdbc.EmbeddedDriver"): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        jdbcSinkBatch(batch.toDF(), batchId, url, table, driver)
      }
      .start()

  /** Keyed-correction sink into a partitioned lake table: each micro-batch
    * MERGEs (`Writers.mergeUpsert`) instead of appending, so a late row
    * re-stating a key SUPERSEDES the stored row — the streaming face of
    * the upsert verb (q_merge), and the lake-side twin of [[jdbcSink]].
    * Only partition directories containing a batch's keys are rewritten.
    * Replay safety: merging the same batch twice is a fixpoint (second
    * merge replaces rows with identical content), so post-crash
    * re-delivery cannot duplicate. Contract: at most one row per key per
    * micro-batch (dedupe upstream — `dropDuplicatesWithinWatermark` —
    * otherwise which duplicate wins is arbitrary); the partition value is
    * part of row identity, as in `Writers.mergeUpsert`. */
  def upsertSink(stream: DataFrame, path: String, key: String,
                 partitionCols: Seq[String], checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        upsertSinkBatch(batch.toDF(), path, key, partitionCols)
      }
      .start()

  /** One micro-batch of [[upsertSink]] (visible so the first-batch and
    * empty-batch contracts are directly testable — the jdbcSinkBatch
    * precedent). "Table exists" must mean a COMMITTED data file, not a
    * bare directory: an empty or crashed first batch leaves a directory
    * holding only _SUCCESS / _temporary, and mergeUpsert's read of it
    * dies on schema inference — permanently, since replay repeats the
    * probe. Until a data file is committed, (re)write the initial
    * layout; an empty batch before that is skipped outright (nothing
    * to upsert, no schema worth pinning). */
  private[graft] def upsertSinkBatch(df: DataFrame, path: String, key: String,
                                     partitionCols: Seq[String]): Unit = {
    def hasDataFile(f: java.io.File): Boolean = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
      kids.exists(k => k.isFile && k.getName.endsWith(".parquet")) ||
        kids.exists(hasDataFile)
    }
    if (hasDataFile(new java.io.File(path)))
      graft.sources.Writers.mergeUpsert(df.sparkSession, path, df, key, partitionCols)
    else if (!df.isEmpty)
      graft.sources.Writers.writePartitioned(df, path, partitionCols)
  }

  /** One micro-batch of [[jdbcSink]] (visible so the replay contract is
    * directly testable): clear this batchId's rows, then append stamped.
    * Calling it twice with the same id leaves exactly one copy. */
  private[graft] def jdbcSinkBatch(batch: DataFrame, batchId: Long,
                                   url: String, table: String,
                                   driver: String = "org.apache.derby.jdbc.EmbeddedDriver"): Unit = {
    // the DELETE needs the driver class loaded exactly like the append
    // path does — and a REAL delete failure (lock timeout, connection
    // refused) must PROPAGATE and fail the batch, not be swallowed:
    // append-after-skipped-delete is precisely the replay duplication
    // the batch_id stamp exists to prevent. Only the legitimately-absent
    // table (first batch, nothing to clear) is skipped, detected via
    // metadata rather than by catching every SQLException.
    Class.forName(driver)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val meta = conn.getMetaData
      // getTables' name arguments are LIKE patterns: a literal '_' or '%'
      // in the sink table name acts as a wildcard, so a similarly-named
      // table could satisfy the probe while the real target is absent —
      // the DELETE would then throw table-not-found and fail the batch.
      // Escape metacharacters so the probe matches the exact name only.
      def escapePattern(name: String): String = {
        val esc = meta.getSearchStringEscape
        if (esc == null || esc.isEmpty) name
        else name.replace(esc, esc + esc)
          .replace("_", esc + "_").replace("%", esc + "%")
      }
      def tableExists(name: String): Boolean = {
        // scope the probe to the connection's CURRENT schema: a null
        // schema pattern searches every schema, so a same-named table
        // elsewhere (e.g. Derby's SYS.*) would satisfy the probe while
        // the unqualified DELETE still resolves to the current schema
        // and fails with table-not-found
        val schemaPattern = Option(conn.getSchema).map(escapePattern).orNull
        val rs = meta.getTables(null, schemaPattern, escapePattern(name), null)
        try rs.next() finally rs.close()
      }
      // Spark's JDBC writer creates the table unquoted → Derby stores it
      // upper-cased; probe both spellings
      if (tableExists(table.toUpperCase) || tableExists(table)) {
        val st = conn.createStatement()
        // Spark's JDBC writer quotes column identifiers at CREATE TABLE, so
        // the stamp column is case-sensitive "batch_id" — an unquoted
        // batch_id would normalize to BATCH_ID and miss (the miss surfaced
        // as silent non-idempotence, caught by the replay spec)
        try st.executeUpdate(s"""DELETE FROM $table WHERE "batch_id" = $batchId""")
        finally st.close()
      }
    } finally conn.close()
    graft.sources.Writers.writeJdbc(
      batch.withColumn("batch_id", lit(batchId)), url, table, driver = driver)
  }
}
