package graft

import graft.sources.StreamSource
import org.apache.spark.sql.functions._

/** One record in the kafka connector's fixed output shape (top-level for
  * the MemoryStream encoder): key/value binary, topic, partition, offset,
  * timestamp, timestampType — what `.load()` yields with the jar. */
case class KafkaRec(key: Array[Byte], value: Array[Byte], topic: String,
                    partition: Int, offset: Long,
                    timestamp: java.sql.Timestamp, timestampType: Int)

/** S1 source matrix (SURVEY §2.2): the rate source drives a live
  * multi-camera union with no external broker; the Kafka wiring is present
  * behind the same surface and fails loudly (not silently) when the
  * connector jar is absent, which is this container's deploy contract. */
class StreamSourceSpec extends SparkSpec {

  test("rate source: two synthetic cameras union into one live stream") {
    val cams = Seq("cam_a", "cam_b").map(StreamSource.rateEvents(spark, 200, _))
    val unioned = StreamSource.multiCamera(cams)
      .groupBy("camera_id", "event_type")
      .agg(count(lit(1)).as("n"))
    val q = unioned.writeStream
      .outputMode("complete").format("memory").queryName("rate_cams").start()
    try {
      // rate is wall-clock-driven: give it time to emit, then drain
      val deadline = System.currentTimeMillis() + 20000
      var done = false
      while (!done && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        q.processAllAvailable()
        done = spark.table("rate_cams")
          .select(countDistinct("camera_id")).head().getLong(0) == 2
      }
    } finally q.stop()
    val rows = spark.table("rate_cams").collect()
    val cameras = rows.map(_.getString(0)).toSet
    assert(cameras == Set("cam_a", "cam_b"), s"missing cameras in $cameras")
    assert(rows.map(_.getLong(2)).sum > 0)
  }

  test("rate source rows carry the events schema downstream pipelines expect") {
    val df = StreamSource.rateEvents(spark, 1, "c")
    assert(df.isStreaming)
    assert(df.columns.toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "value", "camera_id"))
  }

  test("kafka projection: a canned record batch parses end-to-end, poison and tombstones drop") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = spark.sqlContext
    def rec(off: Long, payload: String): KafkaRec =
      KafkaRec(null, if (payload == null) null else payload.getBytes("UTF-8"),
        "events", 0, off, new java.sql.Timestamp(1704100000000L + off), 0)
    val records = Seq(
      rec(0, """{"event_id":1,"ts":"2024-01-01T08:00:00.000Z","user_id":7,""" +
        """"event_type":"click","value":12.5,"props":"{}"}"""),
      rec(1, """{"event_id":2,"ts":"2024-01-01T08:30:00.000Z","user_id":8,""" +
        """"event_type":"purchase","value":99.0,"props":"{\"k\":1}"}"""),
      rec(2, "not json at all"), // poison message: dropped, not all-null
      rec(3, null),              // tombstone: null value, dropped
      rec(4, """{"event_id":3,"ts":"2024-01-01T09:00:00.000Z","user_id":7,""" +
        """"event_type":"view","value":0.0,"props":"{}"}"""))
    val input = MemoryStream[KafkaRec]
    val q = StreamSource.kafkaProject(input.toDF(), Schemas.events)
      .writeStream.outputMode("append").format("memory")
      .queryName("kafka_project_out").start()
    // two micro-batches, like two polls of the broker
    try Seq(records.take(3), records.drop(3)).foreach { b =>
      input.addData(b); q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("kafka_project_out")
    assert(out.columns.toSeq == Schemas.events.fieldNames.toSeq,
      "projection must land exactly on the declared events schema")
    val rows = out
      .select(col("event_id"), unix_timestamp(col("ts")), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .as[(Long, Long, Long, String, Double, String)].collect().sortBy(_._1).toSeq
    assert(rows == Seq(
      (1L, 1704096000L, 7L, "click", 12.5, "{}"),
      (2L, 1704097800L, 8L, "purchase", 99.0, "{\"k\":1}"),
      (3L, 1704099600L, 7L, "view", 0.0, "{}")),
      s"parsed rows drifted: $rows")
  }

  private def eventJson(id: Long, hour: Int): String =
    s"""{"event_id":$id,"ts":"2024-01-01T0$hour:00:00.000Z","user_id":$id,""" +
      s""""event_type":"click","value":1.0,"props":"{}"}"""

  test("filelog DSv2 source: offset-ranged partitions feed kafkaProject end-to-end") {
    import graft.sources.FileLog
    val dir = java.nio.file.Files.createTempDirectory("graft-filelog").toString + "/events"
    FileLog.appendValues(dir, 0, Seq(eventJson(1, 1), eventJson(2, 2)), tsMillis = 1704100000000L)
    FileLog.appendValues(dir, 1, Seq(eventJson(3, 3)), tsMillis = 1704100000000L)
    // raw record shape first: the connector's fixed columns, offsets
    // monotone per partition from 0
    val raw = FileLog.stream(spark, dir)
    assert(raw.isStreaming)
    assert(raw.columns.toSeq == Seq("key", "value", "topic", "partition",
      "offset", "timestamp", "timestampType"))
    val rawQ = raw.writeStream.outputMode("append").format("memory")
      .queryName("filelog_raw").start()
    try rawQ.processAllAvailable() finally rawQ.stop()
    val recs = spark.table("filelog_raw")
      .select("topic", "partition", "offset").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(recs == Seq(("events", 0, 0L), ("events", 0, 1L), ("events", 1, 0L)),
      s"record coordinates drifted: $recs")
    // the SAME Spark-side projection the kafka source uses, end-to-end
    val q = StreamSource.kafkaProject(FileLog.stream(spark, dir), Schemas.events)
      .writeStream.outputMode("append").format("memory")
      .queryName("filelog_events").start()
    try q.processAllAvailable() finally q.stop()
    val ids = spark.table("filelog_events")
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("filelog source: restart from checkpoint reprocesses nothing, poison still drops") {
    import graft.sources.FileLog
    val base = java.nio.file.Files.createTempDirectory("graft-filelog-restart").toString
    val dir = base + "/events"
    val ckpt = base + "/ckpt"
    // (batchId, event_id) audit trail across both query incarnations
    val seen = new scala.collection.mutable.ArrayBuffer[(Long, Long)]
    def start() = StreamSource.kafkaProject(FileLog.stream(spark, dir), Schemas.events)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val ids = b.select("event_id").collect().map(_.getLong(0))
        seen.synchronized { seen ++= ids.map(id -> _) }
        ()
      }
      .start()
    FileLog.appendValues(dir, 0, Seq(eventJson(1, 1)))
    FileLog.appendValues(dir, 1, Seq(eventJson(2, 2)))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val phase1 = seen.synchronized { seen.toSet }
    assert(phase1.map(_._2) == Set(1L, 2L))
    // offline appends while no query runs: new valid rows on both
    // partitions plus one poison payload and one tombstone
    FileLog.appendValues(dir, 0, Seq(eventJson(4, 4), "not json at all"))
    FileLog.appendValues(dir, 1, Seq(eventJson(5, 5), null))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val all = seen.synchronized { seen.toSeq }
    assert(all.map(_._2).sorted == Seq(1L, 2L, 4L, 5L),
      s"restart must process exactly the new valid records once: $all")
    // and the catch-up batch is a NEW batch id, not a redelivery of 0
    assert(all.filter(t => t._2 == 4L || t._2 == 5L).forall(_._1 > 0L))
    // a CORRUPT FRAME (no tab separators — truncated disk / torn
    // producer) must degrade to a tombstone, not wedge the stream: a
    // reader throw here replays forever on the same offset range
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/p0.log"),
      "totally corrupt frame no tabs\n".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    FileLog.appendValues(dir, 0, Seq(eventJson(6, 6)))
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    val after = seen.synchronized { seen.toSeq }
    assert(after.map(_._2).sorted == Seq(1L, 2L, 4L, 5L, 6L),
      s"a corrupt frame must be dropped, records after it still read: $after")
  }

  test("filelog startingOffsets=latest: a fresh query tails only post-start records") {
    import graft.sources.FileLog
    val base = java.nio.file.Files.createTempDirectory("graft-filelog-latest").toString
    val dir = base + "/events"
    FileLog.appendValues(dir, 0, Seq(eventJson(1, 1), eventJson(2, 2))) // backlog
    def stream() = spark.readStream
      .format(classOf[graft.sources.FileLogSourceProvider].getName)
      .option("path", dir)
      .option("startingOffsets", "latest")
      .load()
    val seen = new scala.collection.mutable.ArrayBuffer[Long]
    def start() = StreamSource.kafkaProject(stream(), Schemas.events)
      .writeStream.outputMode("append")
      .option("checkpointLocation", base + "/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        seen.synchronized { seen ++= b.select("event_id").collect().map(_.getLong(0)) }
        ()
      }.start()
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(seen.synchronized(seen.isEmpty), "pre-start backlog must be skipped")
      FileLog.appendValues(dir, 0, Seq(eventJson(3, 3)))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(seen.synchronized(seen.toSeq) == Seq(3L))
    // latest only governs the FIRST start: a checkpointed restart
    // resumes from its own offsets, not from a fresh log end
    FileLog.appendValues(dir, 0, Seq(eventJson(4, 4))) // while down
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(seen.synchronized(seen.toSeq.sorted) == Seq(3L, 4L),
      "a restart must catch up from its checkpoint, not skip to latest")
  }

  test("filelog batch read: the backfill twin sees exactly the streamed records") {
    import graft.sources.FileLog
    val dir = java.nio.file.Files.createTempDirectory("graft-filelog-batch").toString + "/events"
    FileLog.appendValues(dir, 0, Seq(eventJson(1, 1), eventJson(2, 2)))
    FileLog.appendValues(dir, 1, Seq(eventJson(3, 3)))
    // the kafka backfill shape: spark.read over the same log — one
    // pipeline definition serves live tailing AND historical reprocessing
    val batch = spark.read
      .format(classOf[graft.sources.FileLogSourceProvider].getName)
      .option("path", dir).load()
    assert(!batch.isStreaming)
    val coords = batch.select("topic", "partition", "offset").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(coords == Seq(("events", 0, 0L), ("events", 0, 1L), ("events", 1, 0L)))
    val parsed = StreamSource.kafkaProject(batch, Schemas.events)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(parsed == Seq(1L, 2L, 3L))
  }

  test("filelog admission control: maxRecordsPerTrigger bounds every micro-batch, both partitions drain") {
    import graft.sources.FileLog
    val base = java.nio.file.Files.createTempDirectory("graft-filelog-cap").toString
    val dir = base + "/events"
    // 10 + 5 records appended BEFORE the query starts: an unbounded
    // first batch would take all 15 at once (the catch-up hazard the
    // knob exists for)
    FileLog.appendValues(dir, 0, (1L to 10L).map(i => eventJson(i, 1)))
    FileLog.appendValues(dir, 1, (11L to 15L).map(i => eventJson(i, 2)))
    val batches = new scala.collection.mutable.ArrayBuffer[Seq[Long]]
    val q = StreamSource.kafkaProject(
      spark.readStream
        .format(classOf[graft.sources.FileLogSourceProvider].getName)
        .option("path", dir)
        .option("maxRecordsPerTrigger", "6")
        .load(), Schemas.events)
      .writeStream.outputMode("append")
      .option("checkpointLocation", base + "/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val ids = b.select("event_id").collect().map(_.getLong(0)).toSeq
        batches.synchronized { batches += ids }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = batches.synchronized { batches.toSeq }
    assert(got.flatten.sorted == (1L to 15L),
      s"rate-limited catch-up must still drain everything exactly once: $got")
    assert(got.filter(_.nonEmpty).forall(_.size <= 6),
      s"no micro-batch may exceed the record cap: ${got.map(_.size)}")
    assert(got.count(_.nonEmpty) >= 3, // ceil(15/6)
      s"15 records under cap 6 need >= 3 batches: ${got.map(_.size)}")
    // proportional allocation: the first capped batch must advance BOTH
    // partitions (backlog 10 vs 5 → 4 + 2 under Kafka's rule), not
    // drain the first-listed partition alone
    val first = got.find(_.nonEmpty).get.toSet
    assert(first.exists(_ <= 10) && first.exists(_ > 10),
      s"first capped batch must take from both partitions: $first")
  }

  test("filelog tailing is constant-cost: polls scan only the appended delta; restarts seek via the sidecar") {
    // r14 verdict task #4: the first cut re-read the whole file per
    // latestOffset() poll and per range seek — quadratic over a tailing
    // query's life. Pin (a) per-poll scan cost ∝ appended bytes even as
    // the log grows 10×, (b) a FRESH stream (restart) resolves a tail
    // range to a sidecar seek base instead of byte 0, and (c) the seeked
    // read returns exactly the right records.
    import graft.sources.{FileLog, FileLogMicroBatchStream, FileLogInputPartition, FileLogOffset, FileLogReaderFactory}
    val dir = java.nio.file.Files.createTempDirectory("graft-filelog-scale").toString + "/t"
    def rec(i: Long) = s"payload-$i-${"x" * 40}" // ~50 B/record
    val s1 = new FileLogMicroBatchStream(dir)
    var produced = 0L
    def appendN(n: Int): Long = { // returns appended byte size
      val before = new java.io.File(dir, "p0.log").length()
      FileLog.appendValues(dir, 0, (produced until produced + n).map(rec).toSeq)
      produced += n
      new java.io.File(dir, "p0.log").length() - before
    }
    // backlog poll: scans everything once
    appendN(1000)
    s1.latestOffset()
    val afterBacklog = s1.scannedBytes.get()
    // tail polls: each must cost ~the delta, not the (growing) file
    var tailScanned = 0L; var tailAppended = 0L
    for (_ <- 1 to 9) {
      val before = s1.scannedBytes.get()
      tailAppended += appendN(100)
      assert(s1.latestOffset().asInstanceOf[FileLogOffset].counts(0) == produced)
      tailScanned += s1.scannedBytes.get() - before
    }
    assert(tailScanned == tailAppended,
      s"tail polls must scan exactly the appended bytes (got $tailScanned of $tailAppended; backlog was $afterBacklog)")
    // restart: a FRESH stream resolves the live tail range from the
    // sidecar — seek base at the last polled line, not 0 — and reading
    // the range yields exactly the tail records
    val s2 = new FileLogMicroBatchStream(dir)
    appendN(10)
    val parts = s2.planInputPartitions(
      FileLogOffset(Map(0 -> (produced - 10))), FileLogOffset(Map(0 -> produced)))
    val ip = parts.head.asInstanceOf[FileLogInputPartition]
    assert(ip.baseByte > 0 && ip.baseLine == produced - 10,
      s"restart must seek from the sidecar base, got (${ip.baseLine}, ${ip.baseByte})")
    // the fresh stream's own first poll also starts from the sidecar
    assert(s2.latestOffset().asInstanceOf[FileLogOffset].counts(0) == produced)
    assert(s2.scannedBytes.get() <= 10 * 120,
      s"fresh-stream poll over a sidecar'd log must scan only past the last index entry (${s2.scannedBytes.get()} B)")
    val reader = new FileLogReaderFactory().createReader(ip)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    while (reader.next()) {
      val r = reader.get()
      got += ((r.getLong(4), new String(r.getBinary(1), java.nio.charset.StandardCharsets.UTF_8)))
    }
    reader.close()
    assert(got.toSeq == (produced - 10 until produced).map(i => (i, rec(i))).toSeq,
      s"seeked range must replay exactly its records: ${got.take(3)}...")
  }

  test("filelog sidecar is an accelerator only: a corrupt or lying index never changes what is read") {
    // the byte-index sidecar's contract: entries are VALIDATED (within
    // the live file, monotone in both coordinates, parseable) and a
    // sidecar that fails validation only degrades seeks to scan-from-0 —
    // it can never desynchronize offsets or alter record content
    import graft.sources.{FileLog, FileLogMicroBatchStream, FileLogInputPartition, FileLogOffset, FileLogReaderFactory}
    val dir = java.nio.file.Files.createTempDirectory("graft-filelog-idx").toString + "/t"
    FileLog.appendValues(dir, 0, (0L until 50L).map(i => s"v$i"))
    def readAll(): Seq[(Long, String)] = {
      val s = new FileLogMicroBatchStream(dir)
      val end = s.latestOffset().asInstanceOf[FileLogOffset].counts(0)
      val ip = s.planInputPartitions(
        FileLogOffset(Map(0 -> 0L)), FileLogOffset(Map(0 -> end)))
        .head.asInstanceOf[FileLogInputPartition]
      val r = new FileLogReaderFactory().createReader(ip)
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      while (r.next()) {
        val row = r.get()
        got += ((row.getLong(4),
          new String(row.getBinary(1), java.nio.charset.StandardCharsets.UTF_8)))
      }
      r.close(); got.toSeq
    }
    val clean = readAll() // also writes a valid sidecar
    assert(clean == (0L until 50L).map(i => (i, s"v$i")))
    val idx = new java.io.File(dir, "p0.log.idx")
    assert(idx.isFile, "the poll must have written the sidecar")
    // overwrite the sidecar with every corruption class the loader must
    // survive — garbage, torn tail, non-monotone rows, entries past the
    // live file's length — around ONE genuine entry (line 30 at its true
    // byte; every record here is the same width). NOTE the trust
    // boundary: an IN-RANGE entry is trusted (Kafka's .index model) —
    // only our own counting code writes them under the append-only
    // contract — so the survivable classes are exactly the ones a torn
    // write or a replaced file can produce, all validated away here.
    val logLen = new java.io.File(dir, "p0.log").length()
    val lineLen = logLen / 50
    val lying = s"not\tparseable\n5\tnine\n30\t${30 * lineLen}\n" +
      s"40\t${logLen + 999}\n10\t9999999\n7\t" // torn tail
    java.nio.file.Files.write(idx.toPath, lying.getBytes("UTF-8"))
    assert(readAll() == clean,
      "a corrupt sidecar must degrade validation-failed entries away, never read wrong data")
    // only the genuine (30 -> true byte) entry survived validation —
    // verify a seeked tail range through it still replays exactly
    val s2 = new FileLogMicroBatchStream(dir)
    val parts = s2.planInputPartitions(
      FileLogOffset(Map(0 -> 45L)), FileLogOffset(Map(0 -> 50L)))
    val ip = parts.head.asInstanceOf[FileLogInputPartition]
    val r = new FileLogReaderFactory().createReader(ip)
    val tail = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    while (r.next()) {
      val row = r.get()
      tail += ((row.getLong(4),
        new String(row.getBinary(1), java.nio.charset.StandardCharsets.UTF_8)))
    }
    r.close()
    assert(tail.toSeq == (45L until 50L).map(i => (i, s"v$i")),
      s"seek from a partially-valid sidecar must still replay exactly: $tail")
  }

  test("filelog sidecar identity: a REPLACED equal-or-longer log resets the index instead of desyncing") {
    // r15 advice: the entry validation (≤ length, monotone) catches a
    // SHRUNK replacement but not an equal-or-longer one — such a
    // sidecar passes validation yet its byte positions point mid-line
    // into the new file, silently desynchronizing offsets. The #id
    // header (first-line hash) closes exactly this class.
    import graft.sources.{FileLog, FileLogMicroBatchStream, FileLogInputPartition, FileLogOffset, FileLogReaderFactory}
    val tmp = java.nio.file.Files.createTempDirectory("graft-filelog-replace").toString
    val dir = tmp + "/t"
    FileLog.appendValues(dir, 0, (0L until 50L).map(i => "v" * 40 + i))
    val s1 = new FileLogMicroBatchStream(dir)
    assert(s1.latestOffset().asInstanceOf[FileLogOffset].counts(0) == 50L)
    val idx = new java.io.File(dir, "p0.log.idx")
    assert(idx.isFile, "the poll must have written the sidecar")
    assert(scala.io.Source.fromFile(idx).getLines().next().startsWith("#id\t"),
      "the sidecar's first write must seed the identity header")
    // adversarial replacement: LONGER than the original with different
    // line widths, so every stale entry is in-range but mid-line
    val other = tmp + "/o"
    FileLog.appendValues(other, 0, (0L until 300L).map(i => s"wwwwww$i"))
    val log = new java.io.File(dir, "p0.log")
    val repl = new java.io.File(other, "p0.log")
    assert(repl.length() > log.length(), "fixture must exercise the equal-or-longer class")
    java.nio.file.Files.copy(repl.toPath, log.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // a FRESH stream detects the identity mismatch, discards the
    // sidecar, and recounts the replacement from byte 0
    val s2 = new FileLogMicroBatchStream(dir)
    val end = s2.latestOffset().asInstanceOf[FileLogOffset].counts(0)
    assert(end == 300L, s"replaced log must be recounted from scratch, got $end")
    // and the records read under the fresh count are the REPLACEMENT's
    val ip = s2.planInputPartitions(
      FileLogOffset(Map(0 -> 0L)), FileLogOffset(Map(0 -> 3L)))
      .head.asInstanceOf[FileLogInputPartition]
    val r = new FileLogReaderFactory().createReader(ip)
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    while (r.next())
      got += new String(r.get().getBinary(1), java.nio.charset.StandardCharsets.UTF_8)
    r.close()
    assert(got.toSeq == Seq("wwwwww0", "wwwwww1", "wwwwww2"), s"got $got")
  }

  test("filelog: two streams tailing one log agree on offsets and both write compatible sidecars") {
    // concurrent consumers (two independent queries on one topic) each
    // keep their own scan state and may interleave sidecar appends — the
    // loader's monotone validation must keep every later stream correct
    import graft.sources.{FileLog, FileLogMicroBatchStream, FileLogOffset}
    val dir = java.nio.file.Files.createTempDirectory("graft-filelog-two").toString + "/t"
    val s1 = new FileLogMicroBatchStream(dir)
    val s2 = new FileLogMicroBatchStream(dir)
    var produced = 0L
    for (_ <- 1 to 5) {
      FileLog.appendValues(dir, 0, (produced until produced + 20L).map(i => s"r$i"))
      produced += 20
      // interleaved polls: s1 sees this batch now, s2 lags a batch
      assert(s1.latestOffset().asInstanceOf[FileLogOffset].counts(0) == produced)
      if (produced > 20)
        assert(s2.latestOffset().asInstanceOf[FileLogOffset].counts(0) == produced)
    }
    assert(s2.latestOffset().asInstanceOf[FileLogOffset].counts(0) == produced)
    // a THIRD, fresh stream must load the (interleaved) sidecar and
    // agree without rescanning the whole file
    val s3 = new FileLogMicroBatchStream(dir)
    assert(s3.latestOffset().asInstanceOf[FileLogOffset].counts(0) == produced)
    // index entries are SPACED (Kafka's index.interval.bytes): a fresh
    // stream scans at most one interval past the last recorded entry
    assert(s3.scannedBytes.get() <= FileLog.IndexIntervalBytes,
      s"a fresh stream over an indexed log scans at most one index interval (${s3.scannedBytes.get()} B)")
  }

  test("filelog line framing: '\\n' is the only record boundary — interior CR is data, CRLF tolerated") {
    // r14 advice: the offset counter counted '\n' bytes while the reader
    // used BufferedReader.readLine (which also splits at a bare '\r') — a
    // foreign producer emitting a stray CR desynchronized offsets from
    // record indexes. Reader and counter now share one line definition.
    import graft.sources.{FileLog, FileLogMicroBatchStream, FileLogInputPartition, FileLogOffset, FileLogReaderFactory}
    import java.util.Base64
    val dir = java.nio.file.Files.createTempDirectory("graft-filelog-cr").toString + "/t"
    new java.io.File(dir).mkdirs()
    def b64(s: String) = Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    // a FOREIGN producer writes three records; record 0's value field
    // contains a raw interior '\r' (not valid base64 → degrades to a
    // tombstone, never to a phantom extra record), record 1 ends CRLF
    val raw = s"-\tAB\rCD\t111\n" + s"-\t${b64("crlf")}\t222\r\n" + s"-\t${b64("plain")}\t333\n"
    val out = new java.io.FileOutputStream(new java.io.File(dir, "p0.log"), true)
    try out.write(raw.getBytes("UTF-8")) finally out.close()
    val s = new FileLogMicroBatchStream(dir)
    val end = s.latestOffset().asInstanceOf[FileLogOffset].counts(0)
    assert(end == 3, s"three '\\n'-terminated records, counted $end")
    val ip = s.planInputPartitions(FileLogOffset(Map(0 -> 0L)), FileLogOffset(Map(0 -> 3L)))
      .head.asInstanceOf[FileLogInputPartition]
    val reader = new FileLogReaderFactory().createReader(ip)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[String], Long)]
    while (reader.next()) {
      val r = reader.get()
      got += ((r.getLong(4),
        Option(r.getBinary(1)).map(new String(_, "UTF-8")),
        r.getLong(5)))
    }
    reader.close()
    assert(got.toSeq == Seq(
      (0L, None, 111000L),          // interior CR: one record, tombstoned value
      (1L, Some("crlf"), 222000L),  // CRLF framing: trailing CR stripped
      (2L, Some("plain"), 333000L)),
      s"record framing drifted: $got")
  }

  test("filelog transport drives the dedup-admission sink: swap-in source, same admissions") {
    // the scaladoc claim made concrete: sources are interchangeable
    // DataFrames, so the crawl head from DailyCrawlSpec runs unchanged
    // over the file-log transport — records arrive as JSON payloads on
    // two log partitions, kafkaProject parses them, the dedup sink
    // admits; a mid-crawl restart resumes from the checkpoint
    import graft.sources.{FileLog, StreamSource}
    import graft.operators.TextOps
    val sess = spark
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    // JSON payloads rendered by the engine itself (escaping-safe)
    val payloads = docs
      .select(col("doc_id"), to_json(struct(col("doc_id"), col("text"))).as("j"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val (day1, day2) = payloads.splitAt(payloads.length / 2)
    val base = java.nio.file.Files.createTempDirectory("graft-filelog-dedup").toString
    val dir = base + "/crawl"
    val idx = base + "/index.parquet"
    val out = base + "/admitted"
    // each day split across BOTH log partitions by doc_id parity — the
    // batch-grain admission decision is partition-layout-agnostic
    def appendDay(day: Array[(Long, String)]): Unit = {
      FileLog.appendValues(dir, 0, day.filter(_._1 % 2 == 0).map(_._2).toSeq)
      FileLog.appendValues(dir, 1, day.filter(_._1 % 2 == 1).map(_._2).toSeq)
    }
    def start() = graft.streaming.StreamOps.dedupIncrementSink(
      StreamSource.kafkaProject(FileLog.stream(spark, dir), docSchema),
      idx, out, base + "/ckpt")
    appendDay(day1)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    appendDay(day2) // arrives while the head is down
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val admitted = spark.read.parquet(out + "/batch_id=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val oneShot = TextOps.dedupIncrement(spark,
        java.nio.file.Files.createTempDirectory("graft-filelog-dedup-ref")
          .toString + "/index.parquet", docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == oneShot && admitted.nonEmpty,
      "the file-log transport must admit exactly the one-shot set")
  }

  test("kafka wiring: parses to the events schema with the connector jar, fails loudly without it") {
    // deploy-adaptive: the connector (spark-sql-kafka-0-10) is a
    // deploy-time jar. When a deployment ships it, building the source
    // needs no broker until .start(), so the declared-schema projection is
    // checkable right here; in this container (jar absent) the same call
    // must fail with the standard missing-data-source error, not degrade
    // silently.
    val jarPresent =
      try { Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider"); true }
      catch { case _: ClassNotFoundException => false }
    if (jarPresent) {
      val df = StreamSource.kafka(spark, "localhost:9092", "events", Schemas.events)
      assert(df.isStreaming)
      assert(df.columns.toSeq == Schemas.events.fieldNames.toSeq)
    } else {
      val e = intercept[Exception] {
        StreamSource.kafka(spark, "localhost:9092", "events", Schemas.events)
      }
      val msg = e.getMessage.toLowerCase
      assert(msg.contains("kafka"), s"unexpected error: $msg")
    }
  }
}
