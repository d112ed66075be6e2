package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import java.sql.Timestamp

/** A streamed event row for MemoryStream tests. */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

/** Structured Streaming semantics (SURVEY.md §2d): the same window shapes
  * produce identical results streaming vs batch, the watermark drops late
  * rows in append mode, and dropDuplicatesWithinWatermark suppresses
  * duplicates — all over MemoryStream so batch boundaries are controlled.
  */
class StreamingSpec extends SparkSpec {

  private def t(h: Int, m: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")

  private def run[A](q: StreamingQuery)(body: => A): A =
    try body finally q.stop()

  test("streaming tumbling counts (complete mode) equal the batch plan on the same rows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = Seq(
      Ev(1, t(10, 5), 1, "click", 1.0), Ev(2, t(10, 40), 2, "view", 2.0),
      Ev(3, t(11, 10), 1, "click", 3.0), Ev(4, t(11, 50), 3, "click", 4.0),
      Ev(5, t(12, 30), 2, "view", 5.0))
    val mem = MemoryStream[Ev]
    val query = StreamOps.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("tumble_eq")
      .outputMode("complete").start()
    run(query) {
      mem.addData(events.take(2)); query.processAllAvailable()
      mem.addData(events.drop(2)); query.processAllAvailable()
      val streamed = spark.table("tumble_eq")
        .select(col("w.start").as("s"), col("event_type"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val batch = events.toDF()
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("s"), col("event_type"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    }
  }

  test("append mode + watermark: a row later than the watermark is dropped") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    val query = StreamOps.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("late_drop")
      .outputMode("append").start()
    run(query) {
      // Window [10:00, 11:00): two on-time rows.
      mem.addData(Ev(1, t(10, 5), 1, "click", 1.0), Ev(2, t(10, 20), 1, "click", 1.0))
      query.processAllAvailable()
      // Advance event time far past the window; watermark = 13:00 - 10 min.
      mem.addData(Ev(3, t(13, 0), 2, "view", 1.0))
      query.processAllAvailable()
      val closed = spark.table("late_drop")
        .filter(col("event_type") === "click").collect()
      assert(closed.length == 1 && closed.head.getAs[Long]("n") == 2,
        "the 10:00 window must close with exactly the 2 on-time rows")
      // A straggler inside the long-closed window: must be discarded.
      mem.addData(Ev(4, t(10, 30), 1, "click", 1.0))
      query.processAllAvailable()
      val after = spark.table("late_drop")
        .filter(col("event_type") === "click").collect()
      assert(after.length == 1 && after.head.getAs[Long]("n") == 2,
        "late row must not reopen or change the closed window")
    }
  }

  test("dropDuplicatesWithinWatermark suppresses key duplicates") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    val query = StreamOps.dedupWithinWatermark(mem.toDF())
      .writeStream.format("memory").queryName("dedup_wm")
      .outputMode("append").start()
    run(query) {
      mem.addData(
        Ev(1, t(10, 0), 1, "click", 1.0),
        Ev(2, t(10, 1), 1, "click", 2.0), // dup key (1, click) within watermark
        Ev(3, t(10, 2), 2, "view", 3.0))
      query.processAllAvailable()
      val keys = spark.table("dedup_wm")
        .select(col("user_id"), col("event_type"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(keys.length == 2 && keys.toSet == Set((1L, "click"), (2L, "view")))
    }
  }

  test("session windows merge rows within the gap and split across it") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    val query = StreamOps.sessionCounts(mem.toDF())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    run(query) {
      mem.addData(
        Ev(1, t(10, 0), 1, "click", 1.0),
        Ev(2, t(10, 10), 1, "click", 1.0),  // same session (gap 30 min)
        Ev(3, t(11, 30), 1, "click", 1.0),  // new session
        Ev(4, t(10, 0), 2, "view", 1.0))
      query.processAllAvailable()
      val byUser = spark.table("sessions").collect()
        .groupBy(_.getAs[Long]("user_id"))
        .view.mapValues(_.map(_.getAs[Long]("n")).sorted.toSeq).toMap
      assert(byUser == Map(1L -> Seq(1L, 2L), 2L -> Seq(1L)))
    }
  }

  test("flatMapGroupsWithState sessionizer: watermark-driven close, agrees with session_window") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    val query = StreamOps.sessionizeWithState(mem.toDF())
      .writeStream.format("memory").queryName("fmgws")
      .outputMode("append").start()
    run(query) {
      // user 1: two events 10 min apart (one session), then one 80 min
      // later (a second session). Sessions may only emit once the
      // watermark passes their end — never eagerly, because a late-but-
      // valid row could still extend them.
      val u1 = Seq(
        Ev(1, t(10, 0), 1, "click", 2.0),
        Ev(2, t(10, 10), 1, "click", 3.0),
        Ev(3, t(11, 30), 1, "click", 5.0))
      mem.addData(u1)
      query.processAllAvailable()
      // Advance the watermark past both sessions' ends (11:30 + 30 min);
      // both must close (data-batch flush or event-time timeout).
      mem.addData(Ev(4, t(14, 0), 2, "view", 1.0))
      query.processAllAvailable()
      mem.addData(Ev(5, t(14, 30), 2, "view", 1.0))
      query.processAllAvailable()
      val emitted = spark.table("fmgws").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString,
                   r.getLong(3), r.getDouble(4))).toSet
      val viaBuiltin = u1.toDF()
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
        .select(col("user_id"), col("sw.start"), col("sw.end"), col("n"), col("sum_v"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString,
                   r.getLong(3), r.getDouble(4))).toSet
      assert(emitted.filter(_._1 == 1L) == viaBuiltin,
        s"custom sessionizer differs from session_window: $emitted vs $viaBuiltin")
    }
  }

  test("flatMapGroupsWithState sessionizer: out-of-order row extends a session backward; late row drops") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    val query = StreamOps.sessionizeWithState(mem.toDF())
      .writeStream.format("memory").queryName("fmgws_ooo")
      .outputMode("append").start()
    run(query) {
      mem.addData(Ev(1, t(10, 0), 3, "click", 1.0))
      query.processAllAvailable() // watermark → 09:50
      // 09:55 arrives out of order but above the watermark: merges and
      // extends the open session backward. 08:00 is below the watermark:
      // dropped (Spark filters late rows before the state operator — rows
      // exactly AT the watermark are dropped too).
      mem.addData(Ev(2, t(9, 55), 3, "click", 1.0), Ev(3, t(8, 0), 3, "click", 1.0))
      query.processAllAvailable()
      // Advance watermark past the session end to force the close.
      mem.addData(Ev(4, t(12, 0), 4, "view", 1.0))
      query.processAllAvailable()
      mem.addData(Ev(5, t(12, 30), 4, "view", 1.0))
      query.processAllAvailable()
      val u3 = spark.table("fmgws_ooo").collect()
        .filter(_.getLong(0) == 3L)
        .map(r => (r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getLong(3)))
        .toSet
      assert(u3 == Set(("2026-01-01 09:55:00.0", "2026-01-01 10:30:00.0", 2L)),
        s"expected one backward-extended session without the late row: $u3")
    }
  }

  test("sessionizer runs on the RocksDB state store with identical results") {
    // The scaladocs' "RocksDB in production" claim, made real: the same
    // flatMapGroupsWithState sessionizer, state held in RocksDB instead of
    // the default HDFS-backed in-memory provider. A sibling session keeps
    // the provider conf from leaking into concurrently running suites.
    val rocks = spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import rocks.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = rocks.sqlContext
    val mem = MemoryStream[Ev]
    val query = StreamOps.sessionizeWithState(mem.toDF())
      .writeStream.format("memory").queryName("fmgws_rocks")
      .outputMode("append").start()
    run(query) {
      mem.addData(
        Ev(1, t(10, 0), 1, "click", 2.0),
        Ev(2, t(10, 10), 1, "click", 3.0),
        Ev(3, t(11, 30), 1, "click", 5.0))
      query.processAllAvailable()
      mem.addData(Ev(4, t(14, 0), 2, "view", 1.0))
      query.processAllAvailable()
      mem.addData(Ev(5, t(14, 30), 2, "view", 1.0))
      query.processAllAvailable()
      val u1 = rocks.table("fmgws_rocks").collect()
        .filter(_.getLong(0) == 1L)
        .map(r => (r.getTimestamp(1).toString, r.getTimestamp(2).toString,
                   r.getLong(3), r.getDouble(4))).toSet
      assert(u1 == Set(
        ("2026-01-01 10:00:00.0", "2026-01-01 10:40:00.0", 2L, 5.0),
        ("2026-01-01 11:30:00.0", "2026-01-01 12:00:00.0", 1L, 5.0)),
        s"RocksDB-backed sessionizer emitted: $u1")
    }
  }

  test("union of two watermarked sources: the global watermark is the LAGGING source's") {
    // Multi-source semantics every union-of-feeds pipeline depends on:
    // with the default multipleWatermarkPolicy=min, a window may only
    // close once EVERY source's watermark passes it — a lagging feed
    // holds the line for all, so a slow source delays emission but never
    // causes data loss. (The max policy trades that for latency.)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fast = MemoryStream[Ev]
    val slow = MemoryStream[Ev]
    // Each source carries ITS OWN withWatermark node before the union —
    // one watermark on the unioned stream would track the single global
    // max event time and a lagging source couldn't hold anything back.
    val unioned = fast.toDF().withWatermark("ts", "10 minutes")
      .unionByName(slow.toDF().withWatermark("ts", "10 minutes"))
    val query = unioned
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("union_wm")
      .outputMode("append").start()
    run(query) {
      // Both sources contribute to the 10:00 window.
      fast.addData(Ev(1, t(10, 5), 1, "click", 1.0))
      slow.addData(Ev(2, t(10, 10), 2, "click", 1.0))
      query.processAllAvailable()
      // The fast source races ahead to 14:00 (its watermark 13:50); the
      // slow source is still at 10:10 (watermark 10:00). Global = MIN →
      // the 10:00 window must NOT emit yet.
      fast.addData(Ev(3, t(14, 0), 1, "view", 1.0))
      query.processAllAvailable()
      assert(spark.table("union_wm").filter(col("event_type") === "click").isEmpty,
        "a window must not close while the lagging source could still feed it")
      // A late row from the slow source inside the window is still VALID
      // (the min policy kept the window open for exactly this row)...
      slow.addData(Ev(4, t(10, 20), 3, "click", 1.0))
      query.processAllAvailable()
      // ...and once the slow source catches up past the window, it closes
      // with ALL three click rows counted.
      slow.addData(Ev(5, t(14, 30), 3, "view", 1.0))
      query.processAllAvailable()
      val clicks = spark.table("union_wm")
        .filter(col("event_type") === "click").collect()
      assert(clicks.length == 1 && clicks.head.getAs[Long]("n") == 3,
        s"window must close with all sources' rows: ${clicks.toSeq}")
    }
  }

  test("transformWithState sessionizer: agrees with session_window; closes via the timer path") {
    // The arbitrary-state port (SessionProcessor). TWS only runs on the
    // RocksDB provider, so a sibling session pins it without leaking conf.
    val rocks = spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import rocks.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = rocks.sqlContext
    val mem = MemoryStream[Ev]
    val query = StreamOps.sessionizeTws(mem.toDF())
      .writeStream.format("memory").queryName("tws")
      .outputMode("append").start()
    run(query) {
      val u1 = Seq(
        Ev(1, t(10, 0), 1, "click", 2.0),
        Ev(2, t(10, 10), 1, "click", 3.0),
        Ev(3, t(11, 30), 1, "click", 5.0))
      mem.addData(u1)
      query.processAllAvailable()
      // Watermark advances on OTHER keys only, so handleInputRows is never
      // again invoked for user 1 — its two sessions can only emit through
      // handleExpiredTimer (the event-time timer registered at the earliest
      // open session end). This pins the timer path structurally, not just
      // the output.
      mem.addData(Ev(4, t(14, 0), 2, "view", 1.0))
      query.processAllAvailable()
      mem.addData(Ev(5, t(14, 30), 2, "view", 1.0))
      query.processAllAvailable()
      val emitted = rocks.table("tws").collect()
        .filter(_.getLong(0) == 1L)
        .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString,
                   r.getLong(3), r.getDouble(4))).toSet
      val viaBuiltin = u1.toDF()
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
        .select(col("user_id"), col("sw.start"), col("sw.end"), col("n"), col("sum_v"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString,
                   r.getLong(3), r.getDouble(4))).toSet
      assert(emitted == viaBuiltin,
        s"transformWithState sessionizer differs from session_window: $emitted vs $viaBuiltin")
    }
  }

  test("transformWithState sessionizer: backward extension, late drop, and no state resurrection") {
    val rocks = spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import rocks.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = rocks.sqlContext
    val mem = MemoryStream[Ev]
    val query = StreamOps.sessionizeTws(mem.toDF())
      .writeStream.format("memory").queryName("tws_ooo")
      .outputMode("append").start()
    run(query) {
      mem.addData(Ev(1, t(10, 0), 3, "click", 1.0))
      query.processAllAvailable() // watermark → 09:50
      // 09:55 is out of order but above the watermark: extends the open
      // session BACKWARD. 08:00 is below: dropped before it can merge.
      mem.addData(Ev(2, t(9, 55), 3, "click", 1.0), Ev(3, t(8, 0), 3, "click", 1.0))
      query.processAllAvailable()
      mem.addData(Ev(4, t(12, 0), 4, "view", 1.0))
      query.processAllAvailable()
      mem.addData(Ev(5, t(12, 30), 4, "view", 1.0))
      query.processAllAvailable()
      val u3 = rocks.table("tws_ooo").collect()
        .filter(_.getLong(0) == 3L)
        .map(r => (r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getLong(3)))
        .toSet
      assert(u3 == Set(("2026-01-01 09:55:00.0", "2026-01-01 10:30:00.0", 2L)),
        s"expected one backward-extended session without the late row: $u3")
      // State must be GONE after emission: a fresh row for user 3 starts a
      // new 1-row session rather than resurrecting the closed one.
      mem.addData(Ev(6, t(13, 0), 3, "click", 1.0))
      query.processAllAvailable()
      mem.addData(Ev(7, t(15, 0), 4, "view", 1.0))
      query.processAllAvailable()
      mem.addData(Ev(8, t(15, 30), 4, "view", 1.0))
      query.processAllAvailable()
      val u3b = rocks.table("tws_ooo").collect()
        .filter(_.getLong(0) == 3L)
        .map(r => (r.getTimestamp(1).toString, r.getLong(3))).toSet
      assert(u3b == Set(("2026-01-01 09:55:00.0", 2L), ("2026-01-01 13:00:00.0", 1L)),
        s"closed session must not resurrect: $u3b")
    }
  }

  test("ProcessingTime trigger drives the steady-state tick loop across batches") {
    // The reference's actual cadence is a 60 s refresh loop — this is that
    // loop with the interval compressed to 1 s: two arrivals processed in
    // (at least) two separate ProcessingTime ticks, not one backlog drain.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    val query = StreamOps.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("proc_time")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      .start()
    run(query) {
      val events1 = Seq(Ev(1, t(10, 5), 1, "click", 1.0), Ev(2, t(10, 40), 2, "view", 2.0))
      val events2 = Seq(Ev(3, t(11, 10), 1, "click", 3.0))
      mem.addData(events1); query.processAllAvailable()
      mem.addData(events2); query.processAllAvailable()
      val dataBatches = query.recentProgress.filter(_.numInputRows > 0)
      assert(dataBatches.length >= 2,
        s"expected two separate ticks with data, saw ${dataBatches.length}")
      val streamed = spark.table("proc_time")
        .select(col("w.start").as("s"), col("event_type"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val batch = (events1 ++ events2).toDF()
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("s"), col("event_type"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch && streamed.nonEmpty)
    }
  }

  test("q_stream_tick (file replay) equals the equivalent batch aggregation") {
    val streamed = StreamOps.qStreamTick(spark, sfDir).collect().toSeq
    val batch = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(Tables.tsSeconds(col("w.start")).as("w_start"), col("event_type"), col("n"))
      .orderBy(col("w_start"), col("event_type"))
      .collect().toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("DSv2 replay source: per-file micro-batches, results equal the file-source replay") {
    // The custom MicroBatchStream must replay the same rows as the
    // built-in file source over the same staged dir — and actually honor
    // maxFilesPerTrigger=1 (two staged files -> two data micro-batches).
    val replay = StreamOps.stageReplayDir(spark, sfDir)
    val query = StreamOps.tumblingCounts(StreamOps.eventsStreamDsv2(spark, replay))
      .writeStream.format("memory").queryName("dsv2_tick")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    run(query) {
      query.awaitTermination()
      val dataBatches = query.recentProgress.filter(_.numInputRows > 0)
      assert(dataBatches.length == 2,
        s"expected 2 one-file micro-batches, saw ${dataBatches.length}")
      val streamed = spark.table("dsv2_tick")
        .select(col("w.start").as("s"), col("event_type"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val batch = Tables.events(spark, sfDir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("s"), col("event_type"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch && streamed.nonEmpty)
    }
  }

  test("q_stream_distinct shape: cross-batch same-hour duplicates count once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    val query = StreamOps.distinctUsersPerWindow(mem.toDF())
      .writeStream.format("memory").queryName("stream_distinct_dup")
      .outputMode("append").start()
    run(query) {
      // Batch 1: user 1 twice in hour 10 (in-batch dup), user 2 once.
      mem.addData(
        Ev(1, t(10, 5), 1, "click", 1.0),
        Ev(2, t(10, 10), 1, "click", 1.0),
        Ev(3, t(10, 20), 2, "click", 1.0))
      query.processAllAvailable()
      // Batch 2: user 1 AGAIN in hour 10 (cross-batch dup at the tail of
      // the hour — the case the 70-min dedup horizon must still suppress:
      // with a 10-min horizon user 1's 10:05 state would already be
      // evicted here). Then advance event time far enough to close the
      // hour-10 window (watermark = max ts − 70 min > 11:00).
      mem.addData(Ev(4, t(10, 58), 1, "click", 1.0))
      query.processAllAvailable()
      mem.addData(Ev(5, t(12, 30), 3, "view", 1.0))
      query.processAllAvailable()
      val rows = spark.table("stream_distinct_dup")
        .select(col("w.start").as("s"), col("event_type"), col("n_users"))
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
      assert(rows.toSet == Set(("2026-01-01 10:00:00.0", "click", 2L)),
        s"hour-10 clicks must count users {1, 2} exactly once each: ${rows.toSeq}")
    }
  }

  test("DSv2 replay source: pruneColumns and the columns option both narrow the read schema") {
    import org.apache.spark.sql.types.StructType
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val replay = StreamOps.stageReplayDir(spark, sfDir)
    val full = StreamOps.eventsRawSchema

    // 1. The DSv2 pushdown contract: pruneColumns narrows readSchema, in
    //    TABLE-schema order regardless of the requested order.
    val provider = new graft.sources.ReplaySourceProvider
    val table = provider.getTable(null, Array.empty,
        java.util.Map.of("path", replay))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
    val builder = table.newScanBuilder(CaseInsensitiveStringMap.empty())
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns]
    builder.pruneColumns(StructType(Seq(full("event_type"), full("ts"))))
    val scan = builder.asInstanceOf[org.apache.spark.sql.connector.read.ScanBuilder].build()
    assert(scan.readSchema().fieldNames.toSeq == Seq("ts", "event_type"),
      s"pruned scan must read only (ts, event_type): ${scan.readSchema().simpleString}")

    // 2. The streaming path (q_stream_tick_dsv2's form): the columns
    //    option narrows the TABLE schema itself, and the projected replay
    //    still aggregates to the same result as the full-schema batch.
    val pruned = StreamOps.eventsStreamDsv2(spark, replay, columns = Some("ts,event_type"))
    assert(pruned.schema.fieldNames.toSeq == Seq("ts", "event_type"),
      s"columns option must narrow the stream schema: ${pruned.schema.simpleString}")
    val query = StreamOps.tumblingCounts(pruned)
      .writeStream.format("memory").queryName("dsv2_pruned")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    run(query) {
      query.awaitTermination()
      val streamed = spark.table("dsv2_pruned")
        .select(col("w.start").as("s"), col("event_type"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val batch = Tables.events(spark, sfDir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("s"), col("event_type"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch && streamed.nonEmpty)
    }

    // 3. A column-less required schema (count(*)-style push) must still
    //    read: no column is decoded, batches carry only a row count.
    val builder0 = table.newScanBuilder(CaseInsensitiveStringMap.empty())
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns]
    builder0.pruneColumns(StructType(Nil))
    val scan0 = builder0.asInstanceOf[org.apache.spark.sql.connector.read.ScanBuilder].build()
    assert(scan0.readSchema().isEmpty)
    val stream0 = scan0.toMicroBatchStream(
      java.nio.file.Files.createTempDirectory("graft_ckpt_prune_").toString)
    val parts = stream0.planInputPartitions(
      graft.sources.FileIndexOffset(0), stream0.asInstanceOf[
        org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow] match {
          case _ => graft.sources.FileIndexOffset(1)
        })
    val reader0 = stream0.createReaderFactory().createColumnarReader(parts.head)
    var nRows = 0
    while (reader0.next()) {
      assert(reader0.get().numCols == 0, "pruned-to-empty batches must have no columns")
      nRows += reader0.get().numRows
    }
    reader0.close()
    assert(nRows > 0, "empty-projection scan must still iterate the file's rows")

    // 4. A typo'd projection fails loudly, never widens to a full read.
    val err = intercept[IllegalArgumentException] {
      graft.sources.ReplaySource.projectedSchema("ts,event_typo")
    }
    assert(err.getMessage.contains("event_typo"))
  }

  test("stream-stream join pairs a click with a later-batch view; outside-window view excluded") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    val query = StreamOps.clickViewPairs(mem.toDF())
      .writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    run(query) {
      // Batch 1: the click only. Its join state must survive into batch 2.
      mem.addData(Ev(1, t(10, 0), 1, "click", 1.0))
      query.processAllAvailable()
      // Batch 2: one view inside the 30-min follow window (match), one
      // outside it (no match), one matching view for another user's
      // never-sent click (no match).
      mem.addData(
        Ev(2, t(10, 20), 1, "view", 1.0),
        Ev(3, t(11, 0), 1, "view", 1.0),
        Ev(4, t(10, 10), 2, "view", 1.0))
      query.processAllAvailable()
      val got = spark.table("ss_join").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((1L, 1L, 2L)),
        s"expected exactly the cross-batch in-window pair, got $got")
    }
  }

  test("outer stream-stream join emits the NULL row only after state eviction") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    val query = StreamOps.clickViewPairsOuter(mem.toDF())
      .writeStream.format("memory").queryName("ss_outer")
      .outputMode("append").start()
    run(query) {
      // A click with no view. Nothing may emit yet: a matching view could
      // still arrive until the watermark passes 10:00 + 30 min.
      mem.addData(Ev(1, t(10, 0), 1, "click", 1.0))
      query.processAllAvailable()
      // Keep both sides' watermarks low (view side would otherwise hold
      // the global watermark at its initial value forever).
      mem.addData(Ev(2, t(10, 1), 9, "view", 1.0))
      query.processAllAvailable()
      assert(spark.table("ss_outer").isEmpty,
        "no-match click must not emit before its window is provably closed")
      // Push BOTH watermarks past 10:30: the click's state evicts and the
      // (click, NULL) row appears.
      mem.addData(Ev(3, t(11, 0), 9, "click", 1.0), Ev(4, t(11, 0), 9, "view", 1.0))
      query.processAllAvailable()
      mem.addData(Ev(5, t(11, 30), 9, "click", 1.0), Ev(6, t(11, 30), 9, "view", 1.0))
      query.processAllAvailable()
      val u1 = spark.table("ss_outer").collect()
        .filter(_.getLong(0) == 1L)
        .map(r => (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      assert(u1.toSeq == Seq((1L, -1L)),
        s"expected exactly the evicted click's NULL row, got ${u1.toSeq}")
    }
  }

  test("q_deadletter routes exactly the poison rows") {
    val dlq = StreamOps.qDeadletter(spark, sfDir).collect()
    val expected = Tables.events(spark, sfDir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .collect()
      .filter(r => r.isNullAt(1) || r.getLong(1) % 13 == 0)
      .map(_.getLong(0)).sorted.toSeq
    assert(dlq.map(_.getLong(0)).toSeq == expected && expected.nonEmpty)
  }

  test("CDC merge fold: idempotent under batch retries and invariant to batch boundaries") {
    import spark.implicits._
    // Includes a same-timestamp tie (events 4 and 5) so the event_id
    // tie-break is exercised, and a late-arriving OLDER row (event 6 in
    // batch b2 with an earlier ts) that must NOT overwrite the snapshot.
    val b1 = Seq(
      Ev(1, t(10, 0), 1, "view", 1.0), Ev(2, t(10, 5), 2, "view", 2.0),
      Ev(3, t(10, 9), 1, "click", 3.0)).toDF()
    val b2 = Seq(
      Ev(4, t(10, 30), 2, "click", 4.0), Ev(5, t(10, 30), 2, "purchase", 5.0),
      Ev(6, t(9, 55), 1, "view", 0.5)).toDF()
    def snap(df: org.apache.spark.sql.DataFrame): Seq[(Long, Timestamp, Long, String, Double)] =
      StreamOps.latestPerUser(df).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
          r.getString(3), r.getDouble(4)))
        .sortBy(_._1).toSeq
    val folded = snap(StreamOps.latestPerUser(b1).unionByName(b2))
    // Batch-boundary invariance: folding per batch == one query over the log.
    assert(folded == snap(b1.unionByName(b2)))
    // Retry idempotency both ways the runtime can replay a batch: against
    // the pre-merge snapshot and against the already-merged one.
    assert(snap(StreamOps.latestPerUser(
      StreamOps.latestPerUser(b1).unionByName(b2)).unionByName(b2)) == folded)
    // The tie broke to the higher event_id and the late older row lost.
    assert(folded == Seq(
      (1L, t(10, 9), 3L, "click", 3.0),
      (2L, t(10, 30), 5L, "purchase", 5.0)))
  }

  test("q_stream_topk leaderboard equals the batch top-3 with exact value totals") {
    val got = StreamOps.qStreamTopk(spark, sfDir).collect()
    assert(got.length == 3)
    val batch = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), Tables.exactSum(col("value")).as("sum_v"))
      .orderBy(col("n").desc, col("event_type"))
      .limit(3).collect()
    got.zip(batch).foreach { case (g, b) =>
      assert(g.getString(0) == b.getString(0))
      assert(g.getLong(1) == b.getLong(1))
      assert(g.getDouble(2) == b.getDouble(2),
        s"${g.getString(0)}: streamed decimal total must be bit-equal to batch")
    }
  }

  test("q_stream_kmv final sketch equals the batch k-minimum-values over the drained replay") {
    val got = StreamOps.qStreamKmv(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getDouble(3))).toSeq
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val events = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val want = events.groupBy(_._1).map { case (tpe, rs) =>
      val hs = rs.map(_._2).distinct
        .map(u => java.lang.Long.parseLong(md5Hex(u.toString).take(15), 16) %
          2147483647L)
        .distinct.sorted
      val k = StreamOps.StreamKmvK
      val hk = if (hs.size >= k) Some(hs(k - 1)) else None
      val est = hk.map(h => (k - 1).toDouble * 2147483647.0 / h.toDouble)
        .getOrElse(hs.size.toDouble)
      (tpe, math.min(hs.size, k).toLong, hk, est)
    }.toSeq.sortBy(_._1)
    assert(got == want)
    // Whichever regime the fixture scale puts each type in, the branch
    // contract must hold: in-regime types carry a real kth hash, under-k
    // types serve their exact retained count with zero-error estimate.
    got.foreach {
      case (tpe, n, Some(hk), est) =>
        assert(n == StreamOps.StreamKmvK.toLong && hk > 0 && est > 0.0, tpe)
      case (tpe, n, None, est) =>
        assert(est == n.toDouble, s"$tpe: under-k estimate must be exact")
    }
  }

  test("q_stream_winnow admission equals the batch first-owner rule over fingerprints") {
    // Independent derivation from the BATCH winnowing output (itself
    // brute-force-verified): lost(doc, h) ⟺ the global min owner of h
    // precedes doc — the declarative form of the online claim rule.
    val fps = graft.operators.TextOps.qWinnowing(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).distinct
    val owner = fps.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val want = fps.groupBy(_._1).map { case (doc, hs) =>
      val nLost = hs.map(_._2).distinct.count(h => owner(h) < doc).toLong
      (doc, nLost, nLost < graft.operators.TextOps.WinnowSharedMin)
    }.toSeq.sortBy(_._1)
    val got = StreamOps.qStreamWinnow(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got == want)
    assert(got.exists(!_._3) && got.count(_._3) > got.length / 2,
      "admission must reject the near-dup tail and keep the majority")
  }

  test("q_stream_neardup admission equals the batch LSH pair rule (kept = never a doc_b)") {
    // Independent derivation from the BATCH candidate stage: minhashPairs
    // emits (doc_a < doc_b) for every band-sharing pair, so a document is
    // admitted by the online rule iff it never appears as doc_b. Also
    // pins that the verdict domain is exactly the banded (signature-
    // bearing) documents and that cross-tick state rejects tick-2 dups.
    val got = StreamOps.qStreamNeardup(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    val banded = graft.operators.TextOps.qMinhashSig(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    assert(got.keySet == banded, "verdict domain = signature-bearing docs")
    val pairs = graft.operators.TextOps.qMinhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val losers = pairs.map(_._2).toSet
    got.foreach { case (d, (kept, nLost)) =>
      assert(kept == !losers.contains(d), s"doc $d admission mismatch")
      assert(kept == (nLost == 0L))
    }
    // Non-vacuous both ways, and the dedup actually crossed the replay
    // tick boundary (some tick-2 doc lost to a tick-1 claim).
    assert(got.values.exists(_._1) && got.values.exists(!_._1))
    val cut = {
      val ids = banded.toSeq.sorted; ids(ids.size / 2 - 1)
    }
    assert(got.exists { case (d, (kept, _)) => d > cut && !kept },
      "a newer-half doc must have been rejected against older-half state")
  }

  test("q_stream_quality: quality gates first, dedup claims only among passers") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val stop = Set("the", "a")
    val quality = docs.map { case (id, t) =>
      val toks = t.split(" ", -1)
      val keep = toks.length >= 10 &&
        toks.count(stop) * 2 <= toks.length &&
        toks.distinct.length * 25 >= toks.length * 8
      id -> ((toks.length.toLong, keep))
    }.toMap
    val passers = quality.collect { case (id, (_, true)) => id }.toSet
    // Band-sharing pairs from the BATCH candidate stage; the online rule
    // among passers: d is rejected iff an earlier PASSER shares a band.
    val pairs = graft.operators.TextOps.qMinhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val passerLosers = pairs.collect {
      case (a, b) if passers(a) && passers(b) => b
    }.toSet
    val got = StreamOps.qStreamQuality(spark, sfDir).collect()
      .map(r => (r.getLong(0),
        (r.getLong(1), r.getBoolean(2), r.getLong(3), r.getBoolean(4))))
    assert(got.map(_._1).toSeq == docs.map(_._1).sorted.toSeq,
      "verdict domain must be the whole corpus, in doc_id order")
    got.foreach { case (id, (nTok, qKeep, nLost, admitted)) =>
      val (wantTok, wantKeep) = quality(id)
      assert(nTok == wantTok && qKeep == wantKeep, s"doc $id quality")
      assert((nLost == 0L) == !passerLosers(id), s"doc $id band verdict")
      assert(admitted == (wantKeep && !passerLosers(id)), s"doc $id admission")
    }
    // Non-vacuous in all three cells: quality rejects, dedup rejects a
    // passer, and the majority is admitted.
    assert(got.exists(!_._2._2), "no quality rejects — gate vacuous")
    assert(got.exists(g => g._2._2 && !g._2._4), "no dedup rejects among passers")
    assert(got.count(_._2._4) > got.length / 2, "majority must be admitted")
    // The gate-ordering semantics (claims AFTER the filter): any global
    // near-dup loser whose only earlier band-sharers were quality-REJECTED
    // must be admitted — its duplicate never entered the store.
    val rescued = pairs.map(_._2).toSet.diff(passerLosers).intersect(passers)
    rescued.foreach { id =>
      assert(got.toMap.apply(id)._4, s"doc $id must be rescued by the gate order")
    }
  }

  test("transformWithState EWMA: recurrence crosses batch and timer boundaries") {
    val rocks = spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import rocks.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = rocks.sqlContext
    val mem = MemoryStream[Ev]
    val query = StreamOps.ewmaWithState(mem.toDF())
      .writeStream.format("memory").queryName("ewma_tws")
      .outputMode("append").start()
    run(query) {
      // Hour 10: 3 clicks. Hour 11: 1 click. Batch 1 watermark stays at
      // 11:50-10m, so only hour 10 can close.
      mem.addData(
        Ev(1, t(10, 5), 1, "click", 1.0), Ev(2, t(10, 10), 2, "click", 1.0),
        Ev(3, t(10, 40), 3, "click", 1.0), Ev(4, t(11, 50), 1, "click", 1.0))
      query.processAllAvailable()
      val after1 = rocks.table("ewma_tws").collect()
        .map(r => (r.getTimestamp(1).toString, r.getLong(2), r.getDouble(3)))
      assert(after1.toSeq == Seq(("2026-01-01 10:00:00.0", 3L, 3.0)),
        s"only hour 10 closes in batch 1, seeding the EWMA at x: $after1")
      // Advancing the watermark on ANOTHER key leaves the click key's
      // hour 11 to close through its armed TIMER — and its EWMA must
      // continue from hour 10's state (0.2·1 + 0.8·3), proving the
      // recurrence survived both the batch boundary and the timer path.
      mem.addData(Ev(5, t(14, 0), 9, "view", 1.0))
      query.processAllAvailable()
      val clicks = rocks.table("ewma_tws").collect()
        .filter(_.getString(0) == "click")
        .map(r => (r.getTimestamp(1).toString, r.getLong(2), r.getDouble(3)))
      assert(clicks.toSeq.sortBy(_._1) == Seq(
        ("2026-01-01 10:00:00.0", 3L, 3.0),
        ("2026-01-01 11:00:00.0", 1L, 0.2 * 1.0 + 0.8 * 3.0)), s"got $clicks")
    }
  }

  test("q_stream_curate verdicts equal the per-row batch predicate for every doc") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val got = graft.streaming.StreamOps.qStreamCurate(spark, sfDir).collect()
    assert(got.length == docs.size)
    got.foreach { r =>
      val toks = docs(r.getLong(0)).split(" ", -1)
      val stop = toks.count(t => t == "the" || t == "a")
      val reason =
        if (toks.length < 10) "too_short"
        else if (stop * 2 > toks.length) "low_quality"
        else "ok"
      assert(r.getInt(1) == toks.length, s"doc ${r.getLong(0)} n_tokens")
      assert(r.getInt(2) == stop, s"doc ${r.getLong(0)} stop_cnt")
      assert(r.getString(3) == reason, s"doc ${r.getLong(0)} reason")
      assert(r.getBoolean(4) == (reason == "ok"))
    }
  }


  test("q_stream_firstk admits exactly each user's first-3 by (ts,event_id), state surviving the tick cut") {
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      es.sortBy(e => (e._2, e._3)).zipWithIndex.map { case (e, i) =>
        (u, e._3) -> (i + 1L, i + 1L <= StreamOps.FirstK)
      }
    }.toMap
    val got = StreamOps.qStreamFirstk(spark, sfDir).collect()
    assert(got.length == rows.length)
    got.foreach { r =>
      val (seq, adm) = expected((r.getLong(0), r.getLong(1)))
      assert(r.getLong(2) == seq && r.getBoolean(3) == adm,
        s"user ${r.getLong(0)} event ${r.getLong(1)}")
    }
    // The replay has two ticks; busy users span the cut, so the quota
    // must have filled in tick 1 for some user and rejected tick-2
    // arrivals — i.e. the ValueState genuinely crossed batches.
    assert(got.count(!_.getBoolean(3)) > 0)
  }

  test("q_stream_ohlc bars equal the batch OHLC bit-exactly") {
    val got = StreamOps.qStreamOhlc(spark, sfDir).collect()
    val batch = graft.operators.Series.qOhlc(spark, sfDir).collect()
    assert(got.length == batch.length && got.nonEmpty)
    got.zip(batch).foreach { case (g, b) =>
      (0 until b.length).foreach { i =>
        assert(g.get(i) == b.get(i),
          s"bar ${b.getLong(0)}/${b.getString(1)} col $i")
      }
    }
  }


  test("q_stream_gap stamps equal the batch lag() recomputation") {
    val got = StreamOps.qStreamGap(spark, sfDir).collect()
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = rows.groupBy(_._1).toSeq.flatMap { case (u, rs) =>
      var prev = -1L
      rs.sortBy(r => (r._2, r._3)).toSeq.map { case (_, us, eid) =>
        val first = prev < 0L
        val gap = if (first) -1L else us - prev
        prev = us
        (u, eid, gap, first, !first && gap > StreamOps.GapThresholdUs)
      }
    }.sortBy(r => (r._1, r._2))
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, (u, eid, gap, first, big)) =>
      assert(g.getLong(0) == u && g.getLong(1) == eid &&
        g.getLong(2) == gap && g.getBoolean(3) == first &&
        g.getBoolean(4) == big, s"event $eid")
    }
    assert(got.exists(_.getBoolean(4)) && got.exists(r =>
      !r.getBoolean(4) && !r.getBoolean(3)), "both gap classes populated")
  }

  test("q_stream_locf fills equal the batch IGNORE NULLS window") {
    val got = StreamOps.qStreamLocf(spark, sfDir).collect()
    val rows = Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val want = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      var carry: Option[Double] = None
      rs.sortBy(r => (r._2, r._3)).toSeq.map { case (u, _, eid, v) =>
        val masked = eid % 5L == 0L
        if (!masked) carry = Some(v)
        (u, eid, if (masked) None else Some(v), carry)
      }
    }.sortBy(r => (r._1, r._2))
    assert(got.length == want.length && got.nonEmpty)
    var filled = 0
    got.zip(want).foreach { case (g, (u, eid, v, ff)) =>
      assert(g.getLong(0) == u && g.getLong(1) == eid, s"event $eid")
      val gv = if (g.isNullAt(2)) None else Some(g.getDouble(2))
      val gff = if (g.isNullAt(3)) None else Some(g.getDouble(3))
      assert(gv == v && gff == ff, s"event $eid fill")
      if (gv.isEmpty && gff.isDefined) filled += 1
    }
    assert(filled > 0, "the stream fill must close real gaps")
  }

  test("q_stream_funnel histogram equals the batch windowed funnel") {
    val got = StreamOps.qStreamFunnel(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = graft.operators.Behavior.qWindowFunnel(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want && got.nonEmpty)
    assert(got.keys.exists(_ >= 2L),
      "the stream must advance real multi-step chains")
  }

  test("q_stream_anomaly flags equal the causal-prefix batch recomputation") {
    val got = StreamOps.qStreamAnomaly(spark, sfDir).collect()
    val rows = Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        math.floor(r.getDouble(3) * 100.0 + 0.5).toLong))
    val want = rows.groupBy(_._1).toSeq.flatMap { case (t, rs) =>
      var n = 0L; var s = 0L; var ss = 0L
      rs.sortBy(r => (r._2, r._3)).toSeq.map { case (_, _, eid, c) =>
        val flag = n >= 30L && {
          val nd = n.toDouble
          val mean = s.toDouble / nd
          val varr = (ss.toDouble - s.toDouble * s.toDouble / nd) / nd
          val dev = c.toDouble - mean
          dev * dev > 9.0 * varr
        }
        val res = (t, eid, n, flag)
        n += 1; s += c; ss += c * c
        res
      }
    }.toSeq.sortBy(r => (r._1, r._2))
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, (t, eid, np, f)) =>
      assert(g.getString(0) == t && g.getLong(1) == eid &&
        g.getLong(2) == np && g.getBoolean(3) == f, s"event $eid")
    }
    assert(got.exists(_.getBoolean(3)), "fixture must flag at least one event")
    assert(got.exists(r => !r.getBoolean(3) && r.getLong(2) >= 30),
      "and leave mature in-band events unflagged")
  }

  test("q_stream_throttle shape: verdicts are slicing-independent and reset per window") {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val rocks = spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import rocks.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = rocks.sqlContext
    val day = StreamOps.ThrottleWinUs
    // user 1: 4 events on day 0 (quota 2 → 2 admitted, 2 rejected), then
    // 1 event on day 1 (quota RESETS → admitted). user 2: 2 on day 0.
    val rows = Seq(
      (1L, 1000L, 10L), (1L, 2000L, 11L), (1L, 3000L, 12L),
      (2L, 3500L, 20L), (1L, 4000L, 13L), (2L, 4500L, 21L),
      (1L, day + 1000L, 14L))
    def drain(slices: Seq[Seq[(Long, Long, Long)]], name: String) = {
      val mem = MemoryStream[(Long, Long, Long)]
      val query = mem.toDS()
        .groupByKey(r => (r._1, r._2 / day * day))
        .transformWithState(
          new graft.streaming.WindowQuotaProcessor(StreamOps.ThrottleK),
          TimeMode.None(), OutputMode.Append())
        .toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      run(query) {
        slices.foreach { s => mem.addData(s); query.processAllAvailable() }
        rocks.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getBoolean(4))).toSet
      }
    }
    val oneBatch = drain(Seq(rows), "thr_a")
    val sliced = drain(Seq(rows.take(3), rows.slice(3, 5), rows.drop(5)), "thr_b")
    assert(oneBatch == sliced, "verdicts depend on batch slicing")
    val expected = rows.groupBy(r => (r._1, r._2 / day * day)).toSeq.flatMap {
      case ((u, w), rs) => rs.sortBy(r => (r._2, r._3)).zipWithIndex.map {
        case ((_, _, eid), i) =>
          (u, w, eid, i + 1L, i + 1L <= StreamOps.ThrottleK)
      }
    }.toSet
    assert(oneBatch == expected)
    // Both verdicts and the reset must be real on this input.
    assert(expected.exists(!_._5) && expected.exists(r => r._2 == day && r._5))
  }

  test("q_stream_quantile: emitted medians match the sketch contract on the replay") {
    val got = StreamOps.qStreamQuantile(spark, sfDir).collect()
    assert(got.nonEmpty)
    val raw = Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .select(date_format(date_trunc("day", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("d"), col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val byKey = raw.groupBy(r => (r._1, r._2))
    got.foreach { r =>
      val vs = byKey((r.getString(0), r.getString(1))).map(_._3).sorted
      assert(r.getLong(2) == vs.length, "n_values")
      // The min-bin rule picks the bin holding the LOWER median, so the
      // ±0.5 midpoint estimate must share that element's integer floor.
      val lower = vs((vs.length + 1) / 2 - 1)
      assert(r.getDouble(3) == math.floor(lower) + 0.5,
        s"(${r.getString(0)},${r.getString(1)}): est ${r.getDouble(3)} vs lower-median $lower")
    }
    // The watermark must withhold the tail day: fewer emitted keys than
    // raw (day,type) keys.
    assert(got.length < byKey.size)
  }

  test("q_stream_bitmap popcounts equal brute-force distinct users per closed day") {
    val rows = Tables.events(spark, sfDir)
      .select(date_trunc("day", col("ts")), col("user_id"),
        unix_micros(col("ts"))).collect()
      .map(r => (r.getAs[java.sql.Timestamp](0).getTime, r.getLong(1),
        r.getLong(2)))
    // watermark cutoff: max ts (ms precision) - 10 min; closed days have
    // day end <= cutoff
    val cutoffMs = rows.map(_._3 / 1000L).max - 10L * 60000L
    val byDay = rows.groupBy(_._1).view
      .filterKeys(_ + 86400000L <= cutoffMs)
      .mapValues(_.map(_._2).distinct.size.toLong).toMap
    val got = StreamOps.qStreamBitmap(spark, sfDir).collect()
    assert(got.length == byDay.size, "one row per closed day")
    got.foreach { r =>
      val dayMs = java.sql.Timestamp.valueOf(r.getString(0)).getTime
      assert(byDay(dayMs) == r.getLong(1),
        s"DAU at ${r.getString(0)}: bitmap ${r.getLong(1)} vs exact ${byDay(dayMs)}")
      // word compression: never more words than users, at least one word
      assert(r.getLong(2) >= 1L && r.getLong(2) <= byDay(dayMs))
    }
    // the bitmap must actually compress: with 63 users/word, strictly
    // fewer words than distinct users whenever a day has >1 user sharing
    // a bucket (true on every fixture day)
    assert(got.exists(r => r.getLong(2) < r.getLong(1)))
  }

  test("q_state_read: state-store rows equal the batch tumbling aggregate") {
    val batch = Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(Tables.tsSeconds(col("h")).as("w_start"), col("event_type"),
        col("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = StreamOps.qStateRead(spark, sfDir).collect()
    assert(got.length == batch.size,
      s"state rows ${got.length} vs batch groups ${batch.size}")
    got.foreach { r =>
      assert(batch((r.getString(0), r.getString(1))) == r.getLong(2),
        s"count at (${r.getString(0)}, ${r.getString(1)})")
    }
  }

}
