package graft

import org.apache.spark.sql.functions
import graft.streaming.EventsStream
import graft.tables.Tables

/** Structured Streaming parity: the windowed aggregation over the events
  * table must produce identical results through the streaming path
  * (memory sink, processAllAvailable) and the batch path.
  */
class StreamingSpec extends SparkTestBase {

  test("stateful sessionization == batch window sessionization") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val typed = events
      .select(col("user_id"), col("ts"), col("value"))
      .as[EventsStream.SessionEvent]
    val stateful = EventsStream.sessionizeStateful(typed, 30)
      .collect()
      .map(s => (s.user_id, s.session_start, s.session_end, s.n_events,
                 s.sum_value))
      .toSet
    val batch = EventsStream.sessionizeBatch(events, 30)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getDouble(4)))
      .toSet
    assert(stateful == batch)
    assert(batch.nonEmpty)
  }

  test("stateful sessionizer carries the open session ACROSS micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(user: Long, tSec: Long, v: Double) =
      EventsStream.SessionEvent(user, new java.sql.Timestamp(tSec * 1000L), v)

    val input = MemoryStream[EventsStream.SessionEvent]
    val q = EventsStream
      .sessionizeStateful(input.toDS().withWatermark("ts", "0 seconds"),
        gapMinutes = 30, finalFlush = false)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_xbatch").start()
    try {
      // t0 above 0: the initial watermark is 0 and the stateful late-data
      // filter drops events at or below it
      val t0 = 10000L
      // micro-batch 1: two events, session open at the batch boundary
      input.addData(ev(1L, t0, 1.0), ev(1L, t0 + 600L, 2.0))
      q.processAllAvailable()
      assert(spark.table("sess_xbatch").count() == 0,
        "open session must NOT flush at the micro-batch boundary")
      // micro-batch 2: within the gap → extends the SAME session
      input.addData(ev(1L, t0 + 1200L, 3.0))
      q.processAllAvailable()
      assert(spark.table("sess_xbatch").count() == 0)
      // micro-batch 3: beyond the gap → closes the carried session
      input.addData(ev(1L, t0 + 1200L + 1801L, 9.0))
      q.processAllAvailable()
      val out = spark.table("sess_xbatch")
        .as[EventsStream.UserSession].collect()
      assert(out.toSeq == Seq(
        EventsStream.UserSession(1L, t0, t0 + 1200L, 3L, 6.0)),
        s"expected one session spanning micro-batches 1-2, got ${out.toSeq}")
    } finally q.stop()
  }

  test("stateful sessionizer merges an out-of-order late event with min/max") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(user: Long, tSec: Long, v: Double) =
      EventsStream.SessionEvent(user, new java.sql.Timestamp(tSec * 1000L), v)

    val input = MemoryStream[EventsStream.SessionEvent]
    // 2h watermark delay so an out-of-order event from an earlier point
    // in time is still admitted in a later micro-batch
    val q = EventsStream
      .sessionizeStateful(input.toDS().withWatermark("ts", "2 hours"),
        gapMinutes = 30, finalFlush = false)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_late").start()
    try {
      val t0 = 20000L
      input.addData(ev(1L, t0, 1.0))
      q.processAllAvailable()
      // late event 10 min EARLIER than the open session's end: must
      // min/max-merge (not regress end backward to t0-600)
      input.addData(ev(1L, t0 - 600L, 2.0))
      q.processAllAvailable()
      assert(spark.table("sess_late").count() == 0)
      // past the gap → closes the merged session
      input.addData(ev(1L, t0 + 1801L, 9.0))
      q.processAllAvailable()
      val out = spark.table("sess_late")
        .as[EventsStream.UserSession].collect()
      assert(out.toSeq == Seq(
        EventsStream.UserSession(1L, t0 - 600L, t0, 2L, 3.0)),
        s"late event must extend the session backward, got ${out.toSeq}")
    } finally q.stop()
  }

  test("stateful sessionizer emits a straggler older than the gap as its own session") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(user: Long, tSec: Long, v: Double) =
      EventsStream.SessionEvent(user, new java.sql.Timestamp(tSec * 1000L), v)

    val input = MemoryStream[EventsStream.SessionEvent]
    val q = EventsStream
      .sessionizeStateful(input.toDS().withWatermark("ts", "2 hours"),
        gapMinutes = 30, finalFlush = false)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_straggler").start()
    try {
      val t0 = 20000L
      input.addData(ev(1L, t0, 1.0))
      q.processAllAvailable()
      // 50 min before the open session's start (> gap): cannot belong to
      // it — emitted as a complete single-event session immediately, the
      // open session untouched
      input.addData(ev(1L, t0 - 3000L, 5.0))
      q.processAllAvailable()
      val afterStraggler = spark.table("sess_straggler")
        .as[EventsStream.UserSession].collect()
      assert(afterStraggler.toSeq == Seq(
        EventsStream.UserSession(1L, t0 - 3000L, t0 - 3000L, 1L, 5.0)),
        s"straggler must emit alone, got ${afterStraggler.toSeq}")
      input.addData(ev(1L, t0 + 1801L, 9.0))
      q.processAllAvailable()
      val all = spark.table("sess_straggler")
        .as[EventsStream.UserSession].collect().sortBy(_.session_start)
      assert(all.toSeq == Seq(
        EventsStream.UserSession(1L, t0 - 3000L, t0 - 3000L, 1L, 5.0),
        EventsStream.UserSession(1L, t0, t0, 1L, 1.0)),
        s"open session must survive the straggler, got ${all.toSeq}")
    } finally q.stop()
  }

  test("stream-static enrichment join matches the batch form across " +
       "micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val customers = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val batchEvents = Seq(
      (1L, "click", 1.5), (1L, "click", 2.5), (2L, "buy", 10.0),
      (1L, "buy", 4.0), (99L, "click", 7.0)) // 99 has no dim row → dropped
      .toDF("user_id", "event_type", "value")

    val input = MemoryStream[(Long, String, Double)]
    val q = EventsStream
      .enrichedCounts(input.toDS().toDF("user_id", "event_type", "value"),
                      customers)
      .writeStream.outputMode("complete").format("memory")
      .queryName("enrich_out").start()
    try {
      input.addData((1L, "click", 1.5), (1L, "click", 2.5),
                    (2L, "buy", 10.0))
      q.processAllAvailable()
      input.addData((1L, "buy", 4.0), (99L, "click", 7.0))
      q.processAllAvailable()
      val streamed = spark.table("enrich_out")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
                             r.getDouble(3))).toSet
      val batch = EventsStream.enrichedCounts(batchEvents, customers)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
                             r.getDouble(3))).toSet
      assert(streamed == batch && batch.size == 3,
        s"stream/batch enrichment must agree, got $streamed vs $batch")
    } finally q.stop()
  }

  test("streaming dedup drops duplicate ids arriving in LATER micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, tSec: Long) =
      (id, new java.sql.Timestamp(tSec * 1000L), 1.0)

    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = graft.streaming.EventsStream
      .streamingDeduped(input.toDS().toDF("event_id", "ts", "value"))
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_xbatch").start()
    try {
      input.addData(ev(1L, 10000L), ev(2L, 10010L), ev(2L, 10011L))
      q.processAllAvailable()
      // batch 2: id 2 repeats across the batch boundary, id 3 is new
      input.addData(ev(2L, 10020L), ev(3L, 10030L))
      q.processAllAvailable()
      val ids = spark.table("dedup_xbatch")
        .select("event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L),
        s"cross-batch duplicate must be dropped, got ${ids.toSeq}")
    } finally q.stop()
  }

  test("stream-stream interval join matches batch, with a view and its " +
       "purchase arriving in DIFFERENT micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, user: Long, typ: String, tSec: Long) =
      (id, user, typ, new java.sql.Timestamp(tSec * 1000L))
    val t0 = 100000L
    val rows = Seq(
      ev(1L, 1L, "view", t0),                // matched by purchase 3 and 5
      ev(2L, 2L, "view", t0 + 60),           // other user
      ev(3L, 1L, "purchase", t0 + 600),      // batch 1: same-batch match
      ev(4L, 2L, "purchase", t0 + 7200),     // > 1h after view 2 → no pair
      ev(5L, 1L, "purchase", t0 + 3000),     // batch 2: view 1 from batch 1
      ev(6L, 1L, "view", t0 + 2900))         // batch 2: matches purchase 5

    val input = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val q = EventsStream
      .streamingAttribution(
        input.toDS().toDF("event_id", "user_id", "event_type", "ts"))
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_out").start()
    try {
      input.addData(rows.take(4): _*)
      q.processAllAvailable()
      input.addData(rows.drop(4): _*)
      q.processAllAvailable()
      val streamed = spark.table("attr_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                             r.getLong(3))).toSet
      val batchE = rows.toDF("event_id", "user_id", "event_type", "ts")
      val batch = EventsStream.attributionJoin(
          batchE.filter($"event_type" === "view"),
          batchE.filter($"event_type" === "purchase"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                             r.getLong(3))).toSet
      assert(streamed == batch,
        s"stream/batch attribution must agree, got $streamed vs $batch")
      // purchases 3 and 5 each attribute to view 1; 5 also to view 6
      assert(batch.map(t => (t._2, t._3)) ==
        Set((3L, 1L), (5L, 1L), (5L, 6L)))
    } finally q.stop()
  }

  test("streaming windowed counts == batch windowed counts") {
    val batchEvents = Tables.events(spark, "/root/testdata/sf0.001")
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    batchEvents.write.mode("overwrite").parquet(s"$tmp/events")

    val streamed = EventsStream.runOnce(spark, s"$tmp/events")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = EventsStream.batchDemo(batchEvents)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming spike detection: hour finalizes at the watermark, " +
       "trailing-24 integer rule matches the batch semantics") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.SpikeStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(h: Long) =
      SpikeStream.TypedEvent("a", new java.sql.Timestamp(h * 3600000L))
    val input = MemoryStream[SpikeStream.TypedEvent]
    val q = SpikeStream
      .detectStateful(input.toDS().withWatermark("ts", "0 seconds"))
      .writeStream.outputMode("append").format("memory")
      .queryName("spikes").start()
    try {
      // 26 calm hours (1 event each), then a 5-event spike at hour 26
      input.addData((0L to 25L).map(ev): _*)
      q.processAllAvailable()
      input.addData(Seq.fill(5)(ev(26L)): _*)
      q.processAllAvailable()
      // sentinels advance the watermark so hours 25 and 26 finalize
      input.addData(ev(31L)); q.processAllAvailable()
      input.addData(ev(32L)); q.processAllAvailable()
      val out = spark.table("spikes").as[SpikeStream.Spike].collect().toSeq
      // hour 26: n=5 against 24 trailing ones → 5·24 > 2·24 → spike;
      // every calm hour: 1·k > 2·k never holds
      assert(out == Seq(SpikeStream.Spike("a", 26L, 5L, 24L, 24L)),
        s"expected exactly the hour-26 spike, got $out")
      // a straggler for a long-closed hour is dropped, not re-judged
      input.addData(Seq.fill(9)(ev(20L)): _*); q.processAllAvailable()
      assert(spark.table("spikes").count() == 1,
        "late event re-opened a finalized hour")
    } finally q.stop()
  }

  test("spike lapse reap: trail survives short idles (spikes on resume), " +
       "reaps after the 7-day lapse, and matches detectBatch exactly") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.SpikeStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(k: String, h: Long, n: Int = 1) = Seq.fill(n)(
      SpikeStream.TypedEvent(k, new java.sql.Timestamp(h * 3600000L)))
    // a: 3 calm hours, resumes with a burst AFTER the 168h lapse → its
    //    trail must be gone, so the resume burst must NOT spike.
    // c: same 3 calm hours, resumes with the same burst at hour 100
    //    (idle ~97h < lapse) → trail must have SURVIVED the idle
    //    batches (the premature-reap fix), so the burst spikes.
    // b: single events that only advance the watermark between steps.
    // hours start at 10, not 0: an event at ts=0 is judged late
    // against the initial watermark (also 0) and dropped on arrival
    val batches = Seq(
      ev("a", 10) ++ ev("a", 11) ++ ev("a", 12) ++
        ev("c", 10) ++ ev("c", 11) ++ ev("c", 12) ++ ev("b", 13),
      ev("b", 14),
      ev("c", 110, 5) ++ ev("b", 111),
      ev("b", 112),
      ev("b", 300),
      ev("b", 301), // a's lapse deadline (13h+168h) long passed → reap
      ev("a", 310, 5) ++ ev("b", 311),
      ev("b", 312),
      ev("b", 313))
    val input = MemoryStream[SpikeStream.TypedEvent]
    val q = SpikeStream
      .detectStateful(input.toDS().withWatermark("ts", "0 seconds"))
      .writeStream.outputMode("append").format("memory")
      .queryName("lapse_spikes").start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      val streamed = spark.table("lapse_spikes").as[SpikeStream.Spike]
        .collect().toSet
      // c's resume spikes against its surviving 3-hour trail; a's does
      // not — its trail lapsed. No other hour comes close.
      assert(streamed == Set(SpikeStream.Spike("c", 110L, 5L, 3L, 3L)),
        s"got $streamed")
      // batch parity: detectBatch's epoch split renders the same lapse
      val batchDf = batches.flatten
        .map(e => (e.event_type, e.ts)).toDF("event_type", "ts")
      val batch = SpikeStream.detectBatch(batchDf)
        .as[SpikeStream.Spike].collect().toSet
      assert(batch == streamed,
        s"batch $batch != streamed $streamed")
    } finally q.stop()
  }

  test("checkpoint recovery: sessionizeStateful killed with a session " +
       "OPEN in state resumes from the checkpoint and emits the carried " +
       "session exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(user: Long, tSec: Long, v: Double) =
      EventsStream.SessionEvent(user, new java.sql.Timestamp(tSec * 1000L), v)
    val tmp = java.nio.file.Files.createTempDirectory("graft-sess-ckpt")
    val (out, ckpt) = (s"$tmp/out", s"$tmp/ckpt")
    val input = MemoryStream[EventsStream.SessionEvent]
    // exactly-once sink: parquet file sink (its commit log dedups
    // replayed batches); same checkpoint dir across both incarnations
    def start() = EventsStream
      .sessionizeStateful(input.toDS().withWatermark("ts", "0 seconds"),
        gapMinutes = 30, finalFlush = false)
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .start()
    val t0 = 10000L
    val q1 = start()
    try {
      input.addData(ev(1L, t0, 1.0), ev(1L, t0 + 600L, 2.0))
      q1.processAllAvailable()
    } finally q1.stop() // kill with the session still open in state
    val q2 = start()    // restart from the checkpoint
    try {
      // within the gap → must extend the RESTORED session, not a new one
      input.addData(ev(1L, t0 + 1200L, 3.0))
      q2.processAllAvailable()
      // beyond the gap → closes the session carried across the restart
      input.addData(ev(1L, t0 + 1200L + 1801L, 9.0))
      q2.processAllAvailable()
    } finally q2.stop()
    val got = spark.read.parquet(out)
      .as[EventsStream.UserSession].collect().toSeq
    assert(got == Seq(
      EventsStream.UserSession(1L, t0, t0 + 1200L, 3L, 6.0)),
      s"expected exactly one session spanning the restart, got $got")
  }

  test("checkpoint recovery: nearDupIngest killed between micro-batches " +
       "resumes, flags against pre-restart history, and appends history " +
       "exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.DocsStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest-ckpt")
    val (hist, flags, bands, ckpt) =
      (s"$tmp/hist", s"$tmp/flags", s"$tmp/bands", s"$tmp/ckpt")
    val b1 = Seq(
      DocsStream.Doc(1L, "the quick brown fox jumps over the lazy dog " +
        "again and again in the morning"),
      DocsStream.Doc(2L, "completely unrelated text about spark " +
        "catalyst optimizer internals and shuffles"))
    val b2 = Seq(
      DocsStream.Doc(10L, "the quick brown fox jumps over the lazy dog " +
        "again and again in the evening"),
      DocsStream.Doc(11L, "another novel document with fresh content " +
        "nothing like history at all"))
    val input = MemoryStream[DocsStream.Doc]
    val q1 = DocsStream.nearDupIngest(spark, input.toDF(), hist, flags,
      bands, ckpt, threshold = 0.3)
    try {
      input.addData(b1: _*); q1.processAllAvailable()
    } finally q1.stop() // kill after history is seeded
    val q2 = DocsStream.nearDupIngest(spark, input.toDF(), hist, flags,
      bands, ckpt, threshold = 0.3)
    try {
      input.addData(b2: _*); q2.processAllAvailable()
    } finally q2.stop()
    val got = spark.read.parquet(flags)
      .select("id", "dup_of").as[(Long, Long)].collect().toSet
    val ref = graft.extensions.TextDedup.incrementalNearDups(
        b2.toDF(), b1.toDF(), "doc_id", "text", 0.3)
      .select("id", "dup_of").as[(Long, Long)].collect().toSet
    assert(got == ref,
      s"flags across restart $got != batch reference $ref")
    assert(got.contains((10L, 1L)))
    // history appended exactly once per batch across the restart
    assert(spark.read.parquet(hist).count() == 4,
      "history must not double-append after recovery")
  }

  test("streaming near-dup ingest flags batch-2 dups against batch-1 " +
       "history and matches the batch incremental reference") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.DocsStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest")
    val (hist, flags, bands, ckpt) =
      (s"$tmp/hist", s"$tmp/flags", s"$tmp/bands", s"$tmp/ckpt")
    val b1 = Seq(
      DocsStream.Doc(1L, "the quick brown fox jumps over the lazy dog " +
        "again and again in the morning"),
      DocsStream.Doc(2L, "completely unrelated text about spark " +
        "catalyst optimizer internals and shuffles"))
    val b2 = Seq(
      DocsStream.Doc(10L, "the quick brown fox jumps over the lazy dog " +
        "again and again in the evening"),
      DocsStream.Doc(11L, "another novel document with fresh content " +
        "nothing like history at all"))
    val input = MemoryStream[DocsStream.Doc]
    val q = DocsStream.nearDupIngest(spark, input.toDF(), hist, flags,
      bands, ckpt, threshold = 0.3)
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // batch 1 seeds history (no flags); batch 2's near-dup of doc 1 flags
    val got = spark.read.parquet(flags)
      .select("id", "dup_of").as[(Long, Long)].collect().toSet
    val ref = graft.extensions.TextDedup.incrementalNearDups(
        b2.toDF(), b1.toDF(), "doc_id", "text", 0.3)
      .select("id", "dup_of").as[(Long, Long)].collect().toSet
    assert(got == ref, s"streaming flags $got != batch reference $ref")
    assert(got.contains((10L, 1L)))
    assert(!got.exists(_._1 == 11L))
    // history accumulated both batches
    assert(spark.read.parquet(hist).count() == 4)
  }

  test("near-dup ingest micro-batches release what they persist: the " +
       "persistent RDD count does not grow with the number of batches") {
    import spark.implicits._
    import graft.streaming.DocsStream
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest-cache")
    // every batch near-duplicates the first, so batches >= 1 run the
    // full staged flag path against a non-empty history
    def run(b: Long): Unit = DocsStream.flagBatch(spark,
      Seq(b * 10 -> s"the quick brown fox jumps over the lazy dog $b",
          (b * 10 + 1) -> s"unrelated text about catalyst number $b")
        .toDF("doc_id", "text"),
      b, s"$tmp/hist", s"$tmp/flags", s"$tmp/bands", threshold = 0.3)
    def persisted = spark.sparkContext.getPersistentRDDs.size
    run(0L); run(1L)
    val base = persisted
    (2L to 5L).foreach(run)
    assert(persisted == base,
      s"persistent RDDs grew from $base to $persisted over 4 batches")
    assert(spark.read.parquet(s"$tmp/flags").count() > 0)
  }

  test("streaming quality-drift monitor: an in-distribution micro-batch " +
       "scores low, a garbage batch scores high, partitions are " +
       "batch-addressed") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.DocsStream
    import graft.extensions.TextAnalysis
    import org.apache.spark.sql.functions.{col, sum}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-qdrift")
    val (drift, ckpt) = (s"$tmp/drift", s"$tmp/ckpt")
    def prose(i: Int) = s"the quick brown fox number $i jumps over one " +
      "lazy dog and writes a plain sentence about it"
    val refScores = (0 until 50).map(prose).toDF("text")
      .select(TextAnalysis.qualityScore(col("text")).as("score"))
    val inDist = (100 until 130).map(i => DocsStream.Doc(i.toLong, prose(i)))
    val garbage = (200 until 230).map(i =>
      DocsStream.Doc(i.toLong, "!!! ??? *** %%% $$$ ### @@@ &&& ^^^ ~~~"))
    val input = MemoryStream[DocsStream.Doc]
    val q = DocsStream.qualityDriftIngest(spark, input.toDF(), refScores,
      drift, ckpt)
    try {
      input.addData(inDist: _*); q.processAllAvailable()
      input.addData(garbage: _*); q.processAllAvailable()
    } finally q.stop()
    def chi2(batch: Int): Double = spark.read
      .parquet(s"$drift/batch=$batch")
      .agg(sum("chi2_term")).head().getDouble(0)
    val (ok, bad) = (chi2(0), chi2(1))
    assert(ok < 0.5, s"in-distribution batch drift $ok")
    assert(bad > 2 * ok && bad > 1.0, s"garbage batch drift $bad vs $ok")
  }

  test("streaming decontamination gate flags quoted benchmark windows " +
       "across micro-batches and replays idempotently") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.DocsStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-decontam")
    val (flags, ckpt) = (s"$tmp/flags", s"$tmp/ckpt")
    val benchText = "alpha bravo charlie delta echo foxtrot golf hotel " +
      "india juliet kilo lima mike"              // exactly 13 tokens
    val bench = Seq((0L, benchText)).toDF("doc_id", "text")
    // batch 1: one doc QUOTING the benchmark inside a larger page, one
    // clean doc; batch 2: another quoting doc (stateless gate must flag
    // it identically — no cross-batch state to warm up)
    val b1 = Seq(
      DocsStream.Doc(1L, s"page header $benchText page footer trailing"),
      DocsStream.Doc(2L, "twelve little tokens that never quote any " +
        "benchmark text at all here"))
    val b2 = Seq(
      DocsStream.Doc(10L, s"$benchText and then some commentary"))
    val input = MemoryStream[DocsStream.Doc]
    val q = DocsStream.decontamIngest(spark, input.toDF(), bench, flags,
      ckpt)
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def readFlags() = spark.read.parquet(flags)
      .select("doc_id", "n_hits").as[(Long, Long)].collect().toSet
    val got = readFlags()
    // the quoting docs flag (exactly one distinct benchmark window
    // each), the clean doc does not
    assert(got == Set((1L, 1L), (10L, 1L)), s"got $got")
    // parity with the one-shot batch rule
    val ref = graft.extensions.Decontam.flagNgramContaminated(
        (b1 ++ b2).toDF(), "doc_id", "text", bench, "text")
      .as[(Long, Long)].collect().toSet
    assert(got == ref)
    // replaying batch 0 (foreachBatch redelivery) overwrites its own
    // partition — no duplicate flags
    DocsStream.decontamBatch(b1.toDF(), 0L, bench, flags)
    assert(readFlags() == got)
  }

  test("checkpoint recovery: ivfIngest killed between micro-batches " +
       "resumes with batch ids intact — lists and advisories land " +
       "exactly once per batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.VecsStream
    import graft.extensions.Ivf
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivfing-ckpt")
    val (lists, adv, ckpt) = (s"$tmp/lists", s"$tmp/adv", s"$tmp/ckpt")
    val index = Ivf.IvfIndex(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    val hist = (0 until 10).map(i =>
      (i.toLong, if (i % 2 == 0) v(1.0, 0.05) else v(0.05, 1.0)))
      .toDF("vec_id", "embedding")
    val histStats = Ivf.cellStats(
      Ivf.assign(hist, "vec_id", "embedding", index), index)
    val input = MemoryStream[VecsStream.Vec]
    def start() = VecsStream.ivfIngest(input.toDF(), index, histStats,
      lists, adv, ckpt)
    val q1 = start()
    try {
      input.addData((100 until 110).map(i =>
        VecsStream.Vec(i.toLong, v(1.0, 0.05))): _*)
      q1.processAllAvailable()
    } finally q1.stop() // kill between micro-batches
    val q2 = start()    // restart from the checkpoint
    try {
      input.addData((200 until 210).map(i =>
        VecsStream.Vec(i.toLong, v(0.05, 1.0))): _*)
      q2.processAllAvailable()
    } finally q2.stop()
    // each batch landed exactly once, under its own batch id, with no
    // re-delivery duplicates after the restart
    val landed = spark.read.parquet(lists)
    assert(landed.count() == 20)
    assert(landed.select("batch").distinct().collect()
      .map(_.get(0).toString.toLong).toSet == Set(0L, 1L))
    assert(landed.select("id").distinct().count() == 20)
    val advBatches = spark.read.parquet(adv).select("batch").distinct()
      .collect().map(_.get(0).toString.toLong).toSet
    assert(advBatches == Set(0L, 1L))
  }

  test("streaming IVF ingest: in-distribution batch passes, a drifted " +
       "batch flips the refit advisory, replays are idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.VecsStream
    import graft.extensions.Ivf
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivfing")
    val (lists, adv, ckpt) = (s"$tmp/lists", s"$tmp/adv", s"$tmp/ckpt")
    // frozen 2-cell index on the axes; history hugs the centroids with a
    // small, nonzero quantization error
    val index = Ivf.IvfIndex(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    def nearAxis(i: Int) = if (i % 2 == 0) v(1.0, 0.05) else v(0.05, 1.0)
    val hist = (0 until 20).map(i => (i.toLong, nearAxis(i)))
      .toDF("vec_id", "embedding")
    val histStats = Ivf.cellStats(
      Ivf.assign(hist, "vec_id", "embedding", index), index)
    val inDist = (100 until 110).map(i =>
      VecsStream.Vec(i.toLong, nearAxis(i)))
    // 45° off both centroids: quantization error ~0.29 vs history's
    // ~0.00125 — far past the 1.5x advisory threshold
    val offAxis = (200 until 210).map(i =>
      VecsStream.Vec(i.toLong, v(1.0, 1.0)))
    val input = MemoryStream[VecsStream.Vec]
    val q = VecsStream.ivfIngest(input.toDF(), index, histStats, lists,
      adv, ckpt)
    try {
      input.addData(inDist: _*); q.processAllAvailable()
      input.addData(offAxis: _*); q.processAllAvailable()
    } finally q.stop()
    def advisory(batch: Int): Map[Int, (Long, Boolean)] = spark.read
      .parquet(s"$adv/batch=$batch")
      .select("cell", "batch_n", "drifted").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // batch 0 repeats the history distribution: both cells healthy
    val a0 = advisory(0)
    assert(a0 == Map(0 -> ((5L, false)), 1 -> ((5L, false))), s"a0=$a0")
    // batch 1: every vector ties to the larger cell id (topCells tie
    // rule) and its error explodes -> advisory flips on cell 1 only
    val a1 = advisory(1)
    assert(a1 == Map(1 -> ((10L, true))), s"a1=$a1")
    // the lists table accumulated both batches cell-keyed
    val landed = spark.read.parquet(lists)
    assert(landed.count() == 20)
    assert(landed.filter(col("batch") === 1 && col("cell") === 1)
      .count() == 10)
    // foreachBatch replay of batch 1 overwrites its own partitions —
    // advisory and lists unchanged
    VecsStream.ivfIngestBatch(offAxis.toDF(), 1L, index, histStats,
      lists, adv)
    assert(advisory(1) == a1)
    assert(spark.read.parquet(lists).count() == 20)
  }

  test("streaming mixture curation re-solves the cap on cumulative " +
       "totals per micro-batch, tightens as the dominant language " +
       "accumulates, and replays idempotently") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.DocsStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-mixstream")
    val (totals, kept, ckpt) = (s"$tmp/totals", s"$tmp/kept", s"$tmp/ckpt")
    def doc(id: Long, lang: String, n: Int) =
      DocsStream.LangDoc(id, lang, Seq.fill(n)("tok").mkString(" "))
    // SHIFTING proportions so a cumulative solve and an independent
    // per-batch solve give DIFFERENT keep sets (a same-proportions
    // fixture could not detect a regression to per-batch caps):
    // batch 0 is en-dominated (en 100, sw 20), batch 1 is ALL sw
    // (300) — cumulatively sw becomes the dominant language (320 vs
    // 100), so batch 1's cumulative cap (70) is much tighter than a
    // per-batch-only solve of the same batch (cap 100) would be.
    val b0 = (1L to 10L).map(doc(_, "en", 10)) ++
      (101L to 102L).map(doc(_, "sw", 10))
    val b1 = (103L to 132L).map(doc(_, "sw", 10))
    val input = MemoryStream[DocsStream.LangDoc]
    val q = DocsStream.mixtureIngest(spark, input.toDF(), totals, kept,
      ckpt, 1L, 3L)
    try {
      input.addData(b0: _*); q.processAllAvailable()
      input.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    // totals artifact: per-batch per-lang sums (state = m rows/batch)
    val t = spark.read.parquet(totals)
      .select(functions.col("batch").cast("int"), functions.col("lang"), functions.col("ng"))
      .as[(Int, String, Long)].collect().toSet
    assert(t == Set((0, "en", 100L), (0, "sw", 20L),
      (1, "sw", 300L)), s"totals=$t")
    // independent reference of the exact cumulative semantics: flat
    // waterfill cap on the CUMULATIVE totals, Mixture.keeps h16 rule
    def capOf(ns: Seq[Long]): (Long, Long, Boolean) = {
      val live = ns.filter(_ > 0).sorted
      val tot = live.sum
      val budget = tot / 3
      if (tot <= budget) (budget, live.max, true)
      else (budget, live.indices.map { i =>
        (budget - live.take(i).sum) / (live.length - i) }.max, false)
    }
    def h16(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(2).map(b => f"$b%02x").mkString, 16)
    def keepRef(batch: Seq[DocsStream.LangDoc], batchId: Int,
                groupTot: Map[String, Long]): Set[(Long, Int)] = {
      val (_, cap, keepAll) = capOf(groupTot.values.toSeq)
      batch.filter { dd =>
        val ng = groupTot(dd.lang)
        keepAll || ng <= cap || h16(dd.doc_id) * ng < cap * 65536L
      }.map(dd => (dd.doc_id, batchId)).toSet
    }
    val cumRef =
      keepRef(b0, 0, Map("en" -> 100L, "sw" -> 20L)) ++
        keepRef(b1, 1, Map("en" -> 100L, "sw" -> 320L))
    val perBatchRef =
      keepRef(b0, 0, Map("en" -> 100L, "sw" -> 20L)) ++
        keepRef(b1, 1, Map("sw" -> 300L))
    assert(cumRef != perBatchRef,
      "fixture must discriminate cumulative from per-batch caps")
    def keptSet(dir: String) = spark.read.parquet(dir)
      .select(functions.col("doc_id"), functions.col("batch").cast("int"))
      .as[(Long, Int)].collect().toSet
    val got = keptSet(kept)
    assert(got == cumRef, s"got=$got cumRef=$cumRef")
    // parity with the sequential batch faces (same dirs re-derived)
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-mixseq")
    DocsStream.mixtureBatch(spark, b0.toDF(), 0L, s"$tmp2/t",
      s"$tmp2/k", 1L, 3L)
    DocsStream.mixtureBatch(spark, b1.toDF(), 1L, s"$tmp2/t",
      s"$tmp2/k", 1L, 3L)
    assert(got == keptSet(s"$tmp2/k"))
    // replaying batch 0 (foreachBatch redelivery) reads only totals
    // with batch < 0 = none — identical cap, identical keeps
    DocsStream.mixtureBatch(spark, b0.toDF(), 0L, totals, kept, 1L, 3L)
    assert(keptSet(kept) == got)
  }

  test("streaming online k-means: state evolves across micro-batches — " +
       "batch 1 folds into batch 0's UPDATED state, landed partitions " +
       "equal the driver-computed chain, replay is idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.VecsStream
    import graft.extensions.Kmeans
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-kming")
    val (state, ckpt) = (s"$tmp/state", s"$tmp/ckpt")
    val hist = Seq(0L -> Array(0f, 0f), 1L -> Array(10f, 10f),
      2L -> Array(1f, 0f), 3L -> Array(0f, 1f))
      .toDF("vec_id", "embedding")
    val m0 = Kmeans.lloyd(hist, "vec_id", "embedding", k = 2, rounds = 1)
    val b0 = Seq(VecsStream.Vec(4L, Array(2f, 2f)),
                 VecsStream.Vec(5L, Array(9f, 9f)))
    val b1 = Seq(VecsStream.Vec(6L, Array(0f, 2f)))
    val input = MemoryStream[VecsStream.Vec]
    val q = VecsStream.kmeansIngest(input.toDF(), m0, state, ckpt)
    try {
      input.addData(b0: _*); q.processAllAvailable()
      input.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    // the driver-computed reference chain: r1 folds into r0, not m0
    def df(vs: Seq[VecsStream.Vec]) =
      vs.map(v => (v.vec_id, v.embedding)).toDF("vec_id", "embedding")
    val r0 = Kmeans.incrementalUpdate(m0, df(b0), "embedding")
    val r1 = Kmeans.incrementalUpdate(r0, df(b1), "embedding")
    def landed(b: Int) = spark.read.parquet(s"$state/batch=$b")
      .select("cluster", "pos", "sq", "n").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    def ref(m: Kmeans.KmeansModel) = m.sums.toSeq.flatMap {
      case (c, sq, n) =>
        sq.toSeq.zipWithIndex.map { case (s, p) => (c, p.toLong, s, n) }
    }.toSet
    assert(landed(0) == ref(r0))
    assert(landed(1) == ref(r1))
    // n accumulated across the chain: 4 hist/batch members in cluster 0
    // (3 hist + (2,2)) + (0,2) from batch 1 = 5
    assert(r1.sums.map { case (c, _, n) => c -> n }.toMap ==
      Map(0 -> 5L, 1 -> 2L))
    // foreachBatch replay (redelivery of batch 0) overwrites its own
    // partition with identical state — idempotent
    VecsStream.kmeansIngestBatch(df(b0), 0L, m0, state)
    assert(landed(0) == ref(r0))
    assert(landed(1) == ref(r1))
  }

  test("streaming framed SemDeDup ingest: new vectors flag against " +
       "history-of-their-cell only, batch 0's staged rows become " +
       "batch 1's history, and a batch-0 replay re-derives identical " +
       "flags from the pre-batch history view") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.VecsStream
    import graft.extensions.Kmeans
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-sding")
    val (stage0, stage, flags, ckpt) =
      (s"$tmp/stage0", s"$tmp/stage", s"$tmp/flags", s"$tmp/ckpt")
    // frozen cells: c0 = (1,0), c1 = (0,10) — one history member each
    val hist = Seq(0L -> Array(1f, 0f), 1L -> Array(0f, 10f))
      .toDF("vec_id", "embedding")
    val m0 = Kmeans.lloyd(hist, "vec_id", "embedding", k = 2, rounds = 1)
    val routing = Kmeans.framedRoutingFor(
      Kmeans.lastCentroidsFrame(spark, m0), "cluster", "cv", nSupers = 1)
    val st0 = Kmeans.semStage(hist, "vec_id", "embedding",
      Kmeans.Assigner.Routed(routing))
    st0.write.mode("overwrite").parquet(stage0)
    st0.unpersist(false)
    // b0: id 10 lands in cell 0, cos vs hist 0 ≈ 0.9988 → flagged;
    //     id 11 lands in cell 1 (L2: 61 vs 50), cos vs hist 1 ≈ 0.707
    //     → below the 0.9 threshold, no flag
    val b0 = Seq(VecsStream.Vec(10L, Array(2f, 0.1f)),
                 VecsStream.Vec(11L, Array(-5f, 5f)))
    // b1: id 20 lands in cell 1 (L2: 72 vs 41), cos vs hist 1 ≈ 0.768
    //     but cos vs BATCH-0's id 11 ≈ 0.9958 → flagged dup_of=11:
    //     batch 0's staged rows really are batch 1's history
    val b1 = Seq(VecsStream.Vec(20L, Array(-5f, 6f)))
    val input = MemoryStream[VecsStream.Vec]
    val q = VecsStream.semdedupIngest(input.toDF(),
      Kmeans.Assigner.Routed(routing), stage0,
      stage, flags, ckpt, threshold = 0.9)
    try {
      input.addData(b0: _*); q.processAllAvailable()
      input.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    def flagRows() = spark.read.parquet(flags)
      .select(functions.col("batch").cast("long"), functions.col("id"),
        functions.col("dup_of"), functions.col("n_matches"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val got = flagRows()
    assert(got == Set((0L, 10L, 0L, 1L), (1L, 20L, 11L, 1L)), s"got $got")
    val cos = spark.read.parquet(flags)
      .select(functions.col("id"), functions.col("best_cos"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(cos(10L) - 2.0 / math.sqrt(4.01)) < 1e-3)
    assert(cos(20L) > 0.99 && cos(20L) < 1.0)
    // staged lists accumulated cell-keyed history: stage0 2 rows,
    // batch 0 two rows, batch 1 one row
    assert(spark.read.parquet(stage).count() == 3)
    // replay of batch 0 (foreachBatch redelivery AFTER batch 1 landed)
    // lists only staged batches < 0 → history is stage0 alone, flags
    // identical — idempotent even with later partitions present
    def df0 = b0.map(v => (v.vec_id, v.embedding))
      .toDF("vec_id", "embedding")
    VecsStream.semdedupIngestBatch(df0, 0L,
      Kmeans.Assigner.Routed(routing), stage0, stage,
      flags, threshold = 0.9)
    assert(flagRows() == got)
  }

  test("streaming THREE-LEVEL SemDeDup ingest (VERDICT r17 #5): the " +
       "frozen FramedRouting3 drives the same multi-batch " +
       "new-vs-history contract through super -> mid -> leaf (here a " +
       "real mid split, 1 super x 2 mids, exact decision), with " +
       "identical flags to the two-level run on the same data and " +
       "idempotent batch replay") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.VecsStream
    import graft.extensions.Kmeans
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-sd3ing")
    val (stage0, stage, flags, ckpt) =
      (s"$tmp/stage0", s"$tmp/stage", s"$tmp/flags", s"$tmp/ckpt")
    val hist = Seq(0L -> Array(1f, 0f), 1L -> Array(0f, 10f))
      .toDF("vec_id", "embedding")
    val m0 = Kmeans.lloyd(hist, "vec_id", "embedding", k = 2, rounds = 1)
    val routing = Kmeans.framedRoutingFor3(
      Kmeans.lastCentroidsFrame(spark, m0), "cluster", "cv",
      nSupers = 1, nMids = 2)
    // the mid level genuinely splits: 2 populated mids of 1 leaf each
    assert(routing.mids.count() == 2 &&
      routing.members.groupBy("super", "mid").count()
        .agg(functions.max("count")).collect().head.getLong(0) == 1L)
    val st0 = Kmeans.semStage(hist, "vec_id", "embedding",
      Kmeans.Assigner.Routed3(routing))
    st0.write.mode("overwrite").parquet(stage0)
    st0.unpersist(false)
    // same batches as the two-level test — the 1×2 hierarchy is the
    // exact decision here, so the flags must come out IDENTICAL
    val b0 = Seq(VecsStream.Vec(10L, Array(2f, 0.1f)),
                 VecsStream.Vec(11L, Array(-5f, 5f)))
    val b1 = Seq(VecsStream.Vec(20L, Array(-5f, 6f)))
    val input = MemoryStream[VecsStream.Vec]
    val q = VecsStream.semdedupIngest(input.toDF(),
      Kmeans.Assigner.Routed3(routing), stage0,
      stage, flags, ckpt, threshold = 0.9)
    try {
      input.addData(b0: _*); q.processAllAvailable()
      input.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    def flagRows() = spark.read.parquet(flags)
      .select(functions.col("batch").cast("long"), functions.col("id"),
        functions.col("dup_of"), functions.col("n_matches"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val got = flagRows()
    assert(got == Set((0L, 10L, 0L, 1L), (1L, 20L, 11L, 1L)), s"got $got")
    assert(spark.read.parquet(stage).count() == 3)
    // replay of batch 0 after batch 1 landed: history = stage0 alone,
    // identical flags — the shared ingest tail's idempotence argument
    // holds at depth 3 verbatim
    VecsStream.semdedupIngestBatch(
      b0.map(v => (v.vec_id, v.embedding)).toDF("vec_id", "embedding"),
      0L, Kmeans.Assigner.Routed3(routing), stage0, stage, flags,
      threshold = 0.9)
    assert(flagRows() == got)
  }

  test("streaming SemDeDup dense-cell cap (VERDICT r18 #2): a mega " +
       "cell's history collapses to its min-id representative — per-" +
       "batch candidates linear in the batch, dup_of unchanged for " +
       "true dups — while at-or-under-cap cells flag bit-identically " +
       "to the uncapped join") {
    import spark.implicits._
    import graft.streaming.VecsStream
    import graft.extensions.Kmeans
    val tmp = java.nio.file.Files.createTempDirectory("graft-sdcap")
    // cell 0: 12 near-identical history vectors (ids 0..11) — the §12d
    // mass-duplicate pathology; cell 1: one history vector (id 100)
    val hist = ((0L to 11L).map(i => i -> Array(1f, 0f)) :+
        (100L -> Array(0f, 10f))).toDF("vec_id", "embedding")
    // explicit frozen centroids (a lloyd fit on a 12-vs-1 fixture may
    // not separate the blobs) — the routing is frozen structure anyway
    val routing = Kmeans.framedRoutingFor(
      Seq(0 -> Array(1.0, 0.0), 1 -> Array(0.0, 10.0))
        .toDF("cluster", "cv"), "cluster", "cv", nSupers = 1)
    val st0 = Kmeans.semStage(hist, "vec_id", "embedding",
      Kmeans.Assigner.Routed(routing))
    st0.write.mode("overwrite").parquet(s"$tmp/stage0")
    st0.unpersist(false)
    // batch: id 200 → mega cell (cos vs (1,0) ≈ 0.9988), id 201 →
    // small cell (cos vs (0,10) = 1.0)
    val batch = Seq(200L -> Array(2f, 0.1f), 201L -> Array(0f, 9f))
      .toDF("vec_id", "embedding")
    def run(sub: String, maxCell: Int) = {
      VecsStream.semdedupIngestBatch(batch, 0L,
        Kmeans.Assigner.Routed(routing), s"$tmp/stage0",
        s"$tmp/$sub/stage", s"$tmp/$sub/flags", threshold = 0.9,
        maxCell = maxCell)
      spark.read.parquet(s"$tmp/$sub/flags")
        .select(functions.col("id"), functions.col("dup_of"),
          functions.col("n_matches"), functions.col("best_cos"))
        .as[(Long, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    }
    val uncapped = run("full", Int.MaxValue)
    val capped = run("capped", maxCell = 8)
    // uncapped: the mega cell pays |hist∩cell| = 12 matches
    assert(uncapped(200L)._1 == 0L && uncapped(200L)._2 == 12L)
    // capped: ONE representative match — candidates linear in the
    // batch — with dup_of still the cell's min history id and the
    // identical best_cos (identical history vectors)
    assert(capped(200L) == ((0L, 1L, uncapped(200L)._3)))
    // the at-cap cell (1 ≤ maxCell) is bit-identical either way
    assert(capped(201L) == uncapped(201L) &&
      capped(201L)._1 == 100L && capped(201L)._2 == 1L)
  }
}
