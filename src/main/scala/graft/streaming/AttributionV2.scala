package graft.streaming

import java.time.Duration
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Last-touch attribution on Spark 4's `transformWithState` — the
  * arbitrary-state twin of [[StreamOps.attributionStream]] (which rides
  * `flatMapGroupsWithState`), with the one capability that API cannot
  * express: PER-STATE TTL. The per-user LastClick record expires after
  * `ttl` of processing-time inactivity, so at 100 TB the state store is
  * bounded by ACTIVE users, not all users ever seen — the
  * attribution-window policy ("a click older than N days credits
  * nothing") and the state-size bound are the same mechanism.
  * Mirrors the sessionFinalize eviction story (StreamOps.scala:282,
  * EventTimeTimeout) on the processing-time axis, which is what a
  * click-attribution window is in production systems.
  *
  * Both operators run one fold, [[StreamOps.attributionFold]] (same
  * (ts, event_id) in-batch total order, same late-purchase guard); the
  * spec replays the same sequence through both APIs and the batch twin
  * and asserts equal outputs, then replays across an expired TTL window and asserts the
  * purchase goes uncredited (state evicted, not carried). */
class AttributionProcessor extends StatefulProcessor[Long, AttrEvent, Attribution] {

  @transient private var last: ValueState[LastClick] = _
  // set via constructor-less init path: Spark serializes the processor,
  // so the TTL rides in a field assigned before the query starts
  var ttlMillis: Long = -1L

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    val cfg = if (ttlMillis <= 0) TTLConfig.NONE
              else TTLConfig(Duration.ofMillis(ttlMillis))
    last = getHandle.getValueState[LastClick]("last_click",
      Encoders.product[LastClick], cfg)
  }

  override def handleInputRows(uid: Long, rows: Iterator[AttrEvent],
                               timerValues: TimerValues): Iterator[Attribution] = {
    // expired TTL ⇒ get() returns null ⇒ same as never-seen
    val (lc, out) = StreamOps.attributionFold(uid, rows, Option(last.get()))
    last.update(lc)
    out.iterator
  }
}

object AttributionV2 {
  /** Apply via transformWithState. `ttl` ≤ 0 disables expiry (exact
    * attributionStream semantics); a positive ttl bounds state to users
    * active within the window. TimeMode.ProcessingTime is required for
    * TTL-bearing state in Spark 4, and is used ONLY then: under
    * ProcessingTime the exec always reports "run another batch", so a
    * ttl-less query would spin no-data micro-batches forever with the
    * default `noDataMicroBatches` setting — TimeMode.None otherwise. */
  def apply(events: DataFrame, ttlMillis: Long = -1L): Dataset[Attribution] = {
    val sess = events.sparkSession
    import sess.implicits._
    val proc = new AttributionProcessor
    proc.ttlMillis = ttlMillis
    val timeMode = if (ttlMillis > 0) TimeMode.ProcessingTime() else TimeMode.None()
    events.select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        col("event_type"), col("ts"))
      .as[AttrEvent]
      .groupByKey(_.user_id)
      .transformWithState(proc, timeMode, OutputMode.Append())
  }
}
