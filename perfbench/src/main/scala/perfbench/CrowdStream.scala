package perfbench

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.{CrowdPipeline, Det}
import graft.streaming.{Alert, AlarmLatch, FireSignal}

/** One camera frame as the generator emits it. `ts` is the frame's
  * scheduled creation time, so latency counts any wait the generator's
  * schedule imposed. */
final case class Frame(camera_id: String, frame_id: Long, ts: Timestamp, image: Array[Byte])

/** Time, calls and bytes of the scorer, when the traced run wraps it.
  * Executors share one JVM in local mode, so plain counters do. */
object ScoreMeter {
  val ns, calls, bytes = new AtomicLong
  def reset(): Unit = { ns.set(0); calls.set(0); bytes.set(0) }
  val traced: Array[Byte] => Seq[Det] = { image =>
    val t0 = System.nanoTime()
    val out = CrowdPipeline.scoreHeavy(image)
    ns.addAndGet(System.nanoTime() - t0); calls.incrementAndGet(); bytes.addAndGet(image.length)
    out
  }
}

/** `crowd_stream`: the paper's real-time path. One generator thread emits
  * seeded 16 KB frames from 8 cameras on a fixed open-loop schedule into a
  * `MemoryStream`; the query scores them (`scoreBatched(scoreHeavy)`),
  * counts persons, latches rising crowd edges per camera (`AlarmLatch`)
  * and a `foreachBatch` sink stamps each alert's emission. A drain phase
  * then times a fixed backlog. Every alert is checked against a batch
  * replay of the same frames through `AlarmLatch`. */
object CrowdStream {
  val Cameras = 8
  val PayloadBytes = 16 * 1024
  val PoolSize = 256
  /** Open-loop rate: under a third of the drain capacity on 4 cores
    * (~1 300 frames/s), high enough for 1 000 alerts in 8 seconds. */
  val FramesPerSec = 400
  /** Streaming before the measured window, while the JIT warms. */
  val WarmupSecs = 10
  /** A fixed processing-time trigger, as a deployment would run it. */
  val TriggerMs = 1000L
  /** Each drain is one backlog of this many frames; the figure is frames
    * over the summed batch time of `Drains` drains. */
  val DrainFrames = 2000
  val Drains = 3
  val SetupRepeats = 3

  /** Payload pool, split by what the pipeline decides for each payload,
    * so the generator can steer each camera's crowd signal. */
  final case class Pool(crowded: IndexedSeq[Array[Byte]], calm: IndexedSeq[Array[Byte]])

  // one clock for frame stamps and alert emission: wall time at start,
  // advanced by the monotonic clock
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis() * 1000L
  private def microsAt(nanos: Long): Long = epochBase + (nanos - nanoBase) / 1000L
  private def epochMicros(): Long = microsAt(System.nanoTime())

  def makePool(spark: SparkSession, seed: Long): Pool = {
    import spark.implicits._
    val rng = new java.util.Random(seed)
    val payloads = IndexedSeq.fill(PoolSize) {
      val b = new Array[Byte](PayloadBytes); rng.nextBytes(b); b
    }
    val frames = payloads.zipWithIndex.map { case (p, i) =>
      Frame("pool", i.toLong, new Timestamp(i.toLong), p) }.toDS().toDF()
    val crowded = CrowdPipeline.personCounts(CrowdPipeline.scoreBatched(frames))
      .select("frame_id", "crowded").as[(Long, Boolean)].collect().toMap
    val (c, n) = payloads.indices.partition(i => crowded(i.toLong))
    require(c.nonEmpty && n.nonEmpty, "payload pool lacks crowded or calm frames")
    Pool(c.map(payloads), n.map(payloads))
  }

  /** Seeded frame source: camera interleave, each camera's crowd signal
    * (runs of 1 or 2 frames, so about a third of frames is a rising edge)
    * and the payload drawn for it. */
  final class Source(pool: Pool, seed: Long) {
    private val rng = new java.util.Random(seed * 31 + 7)
    private val fire = Array.fill(Cameras)(false)
    private val left = Array.fill(Cameras)(0)
    private var next = 0L
    def frame(tsMicros: Long): (Frame, Boolean) = {
      val cam = rng.nextInt(Cameras)
      if (left(cam) == 0) { fire(cam) = !fire(cam); left(cam) = 1 + rng.nextInt(2) }
      left(cam) -= 1
      val from = if (fire(cam)) pool.crowded else pool.calm
      val f = Frame(s"cam$cam", next, new Timestamp(tsMicros / 1000L), from(rng.nextInt(from.size)))
      f.ts.setNanos(((tsMicros % 1000000L) * 1000L).toInt)
      next += 1
      (f, fire(cam))
    }
  }

  /** A running pipeline and what its sink saw. */
  final class Pipeline(val input: MemoryStream[Frame],
                       val query: StreamingQuery,
                       val alerts: ArrayBuffer[(Long, String, Long, Long)])

  def start(spark: SparkSession, a: Args, name: String, traced: Boolean): Pipeline = {
    import spark.implicits._
    val input = MemoryStream[Frame](spark, spark.sparkContext.defaultParallelism)
    val scorer = if (traced) ScoreMeter.traced else CrowdPipeline.scoreHeavy _
    val signals = CrowdPipeline.personCounts(CrowdPipeline.scoreBatched(input.toDF(), scorer))
      .select(col("camera_id"), col("ts"), col("crowded").as("fire")).as[FireSignal]
    // (batch id, camera, frame ts µs, emission µs)
    val seen = ArrayBuffer.empty[(Long, String, Long, Long)]
    val sink: (Dataset[Alert], Long) => Unit = { (ds, id) =>
      val got = ds.collect()
      val emit = epochMicros()
      seen.synchronized {
        got.foreach(al => seen += ((id, al.camera_id, micros(al.ts), emit)))
      }
    }
    val q = AlarmLatch(signals).writeStream.foreachBatch(sink)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", s"${a.work}/checkpoints/$name").start()
    new Pipeline(input, q, seen)
  }

  /** Feed a backlog and return the seconds its micro-batch took, from
    * trigger to sink, without the wait for the trigger. */
  def drain(p: Pipeline, frames: Seq[Frame]): Double = {
    p.input.addData(frames)
    p.query.processAllAvailable()
    val batch = p.query.recentProgress.reverse.find(_.numInputRows == frames.size).getOrElse(
      throw new IllegalStateException(s"no micro-batch of ${frames.size} frames"))
    batch.durationMs.get("triggerExecution").longValue / 1000.0
  }

  private def micros(t: Timestamp): Long = t.getTime / 1000L * 1000000L + t.getNanos / 1000L

  def run(a: Args, tracer: Tracer, r: Report): Unit = {
    var spark: SparkSession = null
    var p: Pipeline = null
    var pool: Pool = null
    var source: Source = null
    // every frame fed to the measured query, with its fire signal, for the
    // replay check
    val fed = ArrayBuffer.empty[(String, Long, Boolean)]
    def feed(frames: Seq[(Frame, Boolean)]): Unit = {
      p.input.addData(frames.map(_._1))
      fed ++= frames.map { case (f, fire) => (f.camera_id, micros(f.ts), fire) }
    }
    // set-up: session, payload pool classification, query start and the
    // first micro-batch through every operator; the last one is measured
    for (rep <- 1 to SetupRepeats) {
      if (p != null) { p.query.stop(); Harness.stop(spark) }
      val t0 = System.nanoTime()
      tracer.span("setup") {
        spark = Harness.session(a, a.cores)
        pool = makePool(spark, a.seed)
        p = start(spark, a, s"setup-$rep", a.trace)
        source = new Source(pool, a.seed + rep)
        fed.clear()
        val base = epochMicros()
        feed((0 until Cameras * 2).map(i => source.frame(base + i * 1000L)))
        p.query.processAllAvailable()
      }
      r.setupSecs += (System.nanoTime() - t0) / 1e9
    }
    val meter = new Meter(tracer)
    val progress = new ProgressLog(tracer)
    if (a.trace) { meter.attach(spark); spark.streams.addListener(progress) }

    val addedNs = ArrayBuffer.empty[Long]
    val lagNs = ArrayBuffer.empty[Long]

    /** Open loop: frame k is due at t0 + k / rate and is stamped with its
      * due time; a late generator never skips or slows the schedule. */
    def openLoop(secs: Int): (Long, Long) = {
      val n = secs * FramesPerSec
      val periodNs = 1000000000L / FramesPerSec
      val nano0 = System.nanoTime() + 5000000L
      val epoch0 = microsAt(nano0)
      val gen = new Thread(() => {
        var k = 0
        while (k < n) {
          val due = nano0 + k * periodNs
          var now = System.nanoTime()
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          val (f, fire) = source.frame(microsAt(due))
          p.input.addData(f)
          val done = System.nanoTime()
          fed.synchronized { fed += ((f.camera_id, micros(f.ts), fire)); addedNs += done; lagNs += now - due }
          k += 1
        }
      }, "perfbench-loadgen")
      gen.start(); gen.join()
      p.query.processAllAvailable()
      (epoch0, epoch0 + n * periodNs / 1000L)
    }

    tracer.span("warmup")(openLoop(WarmupSecs))
    val lagFrom = lagNs.size
    val addedFrom = addedNs.size
    if (a.trace) { meter.drain(spark); meter.reset() }
    val batchesFrom = progress.snapshot.size
    val m0 = System.nanoTime()
    val (w0, w1) = tracer.span("open_loop")(openLoop(a.seconds))
    val openWallNs = System.nanoTime() - m0
    if (a.trace) meter.drain(spark)
    val openBatches = progress.snapshot.drop(batchesFrom)
    val windowAlerts = p.alerts.synchronized(p.alerts.filter { case (_, _, ts, _) => ts >= w0 && ts < w1 }.toSeq)
    r.latenciesMs ++= windowAlerts.map { case (_, _, ts, emit) => (emit - ts) / 1000.0 }
    r.attempted += windowAlerts.size

    // drain: pre-generated backlogs, each due at once
    val runMs0 = meter.runMs
    ScoreMeter.reset()
    val drainSecs = (1 to Drains).map { _ =>
      // stamps after every frame fed so far, so each camera's signal stays
      // in time order across drains
      val base = math.max(epochMicros(), fed.last._2 + 1000L)
      val backlog = (0 until DrainFrames).map(i => source.frame(base + i * 1000L))
      fed ++= backlog.map { case (f, fire) => (f.camera_id, micros(f.ts), fire) }
      tracer.span("drain")(drain(p, backlog.map(_._1)))
    }
    r.throughput = DrainFrames * Drains / drainSecs.sum
    r.timings ++= drainSecs.map(d => "drain batch" -> d)
    r.timings ++= p.query.recentProgress.filter(_.numInputRows > 0).map(b =>
      s"batch ${b.batchId} (${b.numInputRows} frames)" -> b.durationMs.get("triggerExecution") / 1000.0)
    p.query.stop()
    if (a.trace) meter.drain(spark)
    val drainRunMs = meter.runMs - runMs0
    if (a.trace) {
      Harness.sparkLayer(meter, r, openWallNs + (drainSecs.sum * 1e9).toLong, a.cores)
    }

    // replay: the same frames' fire signals through AlarmLatch in batch
    val replayed = tracer.span("replay") {
      val session = spark
      import session.implicits._
      val sigs = fed.toSeq.map { case (c, ts, fire) =>
        val t = new Timestamp(ts / 1000L); t.setNanos(((ts % 1000000L) * 1000L).toInt)
        FireSignal(c, t, fire)
      }
      AlarmLatch(spark.createDataset(sigs)).collect().map(al => (al.camera_id, micros(al.ts))).toSet
    }
    val streamed = p.alerts.map { case (_, c, ts, _) => (c, ts) }
    if (streamed.size != streamed.toSet.size || streamed.toSet != replayed) {
      val missing = (replayed -- streamed).size
      val extra = (streamed.toSet -- replayed).size
      r.failed += windowAlerts.count { case (_, c, ts, _) => !replayed((c, ts)) } max 1
      r.notes += s"alerts differ from the batch replay: $missing missing, $extra extra, " +
        s"${streamed.size - streamed.toSet.size} duplicated"
    }
    r.notes += s"${fed.size} frames, ${p.alerts.size} alerts, ${windowAlerts.size} in the measured window"

    if (a.trace) {
      def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      def dur(b: Progress, k: String) = b.durations.getOrElse(k, 0L).toDouble
      val startOf = openBatches.map(b => b.batchId -> b.startMs * 1000L).toMap
      val queueWait = windowAlerts.flatMap { case (id, _, ts, _) => startOf.get(id).map(s => (s - ts) / 1000.0) }
      // backlog at each batch end: frames added so far minus frames processed
      val added = addedNs.drop(addedFrom)
      var processed = 0L
      val backlogs = openBatches.map { b =>
        processed += b.rows
        added.count(_ <= b.atNs) - processed
      }
      val lags = lagNs.drop(lagFrom).map(_ / 1e6)
      r.layer ++= Seq(
        "streaming.batches" -> openBatches.size.toDouble,
        "streaming.empty_batch_frac" -> (if (openBatches.isEmpty) 0.0
          else openBatches.count(_.rows == 0).toDouble / openBatches.size),
        "streaming.batch_ms_p50" -> p50(openBatches.map(dur(_, "triggerExecution"))),
        "streaming.add_batch_ms_p50" -> p50(openBatches.map(dur(_, "addBatch"))),
        "streaming.planning_ms_p50" -> p50(openBatches.map(dur(_, "queryPlanning"))),
        "streaming.commit_ms_p50" -> p50(openBatches.map(b => dur(b, "walCommit") + dur(b, "commitOffsets"))),
        "streaming.queue_wait_ms_p50" -> p50(queueWait),
        "streaming.state_rows" -> openBatches.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
        "streaming.state_bytes" -> openBatches.lastOption.map(_.stateBytes.toDouble).getOrElse(0.0),
        "streaming.backlog_frames_max" -> (if (backlogs.isEmpty) 0.0 else backlogs.max.toDouble),
        "loadgen.lag_ms_p99" -> Stats.percentile(lags.toSeq, 99.0),
        "pipeline.score_ms" -> ScoreMeter.ns.get / 1e6,
        "pipeline.score_calls" -> ScoreMeter.calls.get.toDouble,
        "pipeline.score_bytes" -> ScoreMeter.bytes.get.toDouble,
        "pipeline.score_share" -> (if (drainRunMs == 0) 0.0 else ScoreMeter.ns.get / 1e6 / drainRunMs))
      if (openBatches.lastOption.exists(_.stateRows != Cameras)) {
        r.failed += 1
        r.notes += s"latch state holds ${openBatches.last.stateRows} rows for $Cameras cameras"
      }
    }
    Harness.stop(spark)

    if (a.trace) {
      // single-core drain, the stream baseline for parallel speed-up: the
      // same traced scorer, listeners and drain count as the 4-core drains
      val one = Harness.session(a, 1)
      new Meter(new Tracer(false)).attach(one)
      one.streams.addListener(new ProgressLog(new Tracer(false)))
      val single = start(one, a, "single-core", traced = true)
      val s = new Source(pool, a.seed + 99)
      var next = epochMicros()
      single.input.addData((0 until Cameras * 4).map(i => s.frame(next + i * 1000L)._1))
      next += Cameras * 4 * 1000L
      single.query.processAllAvailable()
      val secs1 = (1 to Drains).map { _ =>
        // stamps stay in time order across drains, as in the 4-core drains
        val base = math.max(epochMicros(), next)
        next = base + DrainFrames * 1000L
        val frames = (0 until DrainFrames).map(i => s.frame(base + i * 1000L)._1)
        tracer.span("drain_1core")(drain(single, frames))
      }
      val fps1 = DrainFrames * Drains / secs1.sum
      single.query.stop()
      Harness.stop(one)
      r.layer ++= Seq(
        "streaming.drain_1core_frames_per_s" -> fps1,
        "spark.parallel_speedup" -> r.throughput / fps1)
    }
  }
}
