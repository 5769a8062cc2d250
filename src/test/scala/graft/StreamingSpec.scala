package graft

import java.sql.Timestamp
import graft.streaming.StreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** True-streaming behavior over MemoryStream (FIXTURES.md §C): the
  * parts a batch oracle cannot check — watermark late-data drop and
  * cross-micro-batch state.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("watermark drops late rows once it has passed their window") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val agg = in.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("n"))
    val q = agg.writeStream.format("memory").queryName("wm_sink")
      .outputMode(OutputMode.Update()).start()
    try {
      // Two on-time rows in the 10:00-10:10 window.
      in.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // Advance the watermark past 10:10 (10:25 - 10min = 10:15).
      in.addData((3L, ts("2024-01-01 10:25:00")))
      q.processAllAvailable()
      // Late row into the closed 10:00 window: must be dropped.
      in.addData((4L, ts("2024-01-01 10:04:00")))
      q.processAllAvailable()
      val counts = spark.table("wm_sink")
        .groupBy("ws").agg(max("n").as("n"))
        .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      assert(counts("2024-01-01 10:00:00.0") == 2L,
        s"late row must not bump the closed window: $counts")
    } finally q.stop()
  }

  test("stream-stream interval join matches pairs across micro-batches, within the window only") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)] // (user, click_id, ts)
    val buys = MemoryStream[(Long, Long, Timestamp)]   // (user, buy_id, ts)
    val c = clicks.toDF().toDF("user_id", "click_id", "click_ts")
      .withWatermark("click_ts", "10 minutes")
    val b = buys.toDF().toDF("b_user", "buy_id", "buy_ts")
      .withWatermark("buy_ts", "10 minutes")
    val joined = c.join(b, col("user_id") === col("b_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select("user_id", "click_id", "buy_id")
    val q = joined.writeStream.format("memory").queryName("ssj_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      // Click in batch 1; matching purchase arrives a batch LATER —
      // the join must buffer the click and still emit the pair.
      clicks.addData((1L, 100L, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      buys.addData((1L, 200L, ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      // Outside the 30-minute window and other user: no pairs.
      buys.addData((1L, 201L, ts("2024-01-01 11:00:00")),
                   (2L, 202L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      val got = spark.table("ssj_sink")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((1L, 100L, 200L)),
        s"exactly the in-window cross-batch pair: $got")
    } finally q.stop()
  }

  test("flatMapGroupsWithState carries running counts across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)] // (user_id, event_id)
    val out = in.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, StreamOps.UserCount](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          Iterator(StreamOps.UserCount(uid, n))
      }
    val q = out.writeStream.format("memory").queryName("st_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((7L, 1L), (7L, 2L), (8L, 3L))
      q.processAllAvailable()
      in.addData((7L, 4L))
      q.processAllAvailable()
      val last = spark.table("st_sink")
        .groupBy("user_id").agg(max("n_events").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(last == Map(7L -> 3L, 8L -> 1L),
        s"state must accumulate across batches: $last")
    } finally q.stop()
  }

  test("transformWithState (Spark 4 API) keeps RocksDB-backed state across batches") {
    import org.apache.spark.sql.streaming.TimeMode
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      // The PRODUCTION processor (r8: stream_stateful's key runs it in
      // batch mode) — the spec must exercise the shipped class, not a
      // lookalike.
      val in = MemoryStream[(Long, Long)]
      val out = in.toDS().groupByKey(_._1)
        .transformWithState(new StreamOps.RunningCountProcessor,
          TimeMode.None(), OutputMode.Update())
      val q = out.writeStream.format("memory").queryName("tws_sink")
        .outputMode(OutputMode.Update()).start()
      try {
        in.addData((1L, 10L), (1L, 11L))
        q.processAllAvailable()
        in.addData((1L, 12L), (2L, 13L))
        q.processAllAvailable()
        val last = spark.table("tws_sink")
          .groupBy("user_id").agg(max("n_events").as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(last == Map(1L -> 3L, 2L -> 1L), last.toString)
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stream_decay: day map bridges micro-batches and the horizon " +
    "eviction is lossless") {
    import org.apache.spark.sql.streaming.TimeMode
    // Two named state variables (the day map + the running total) =
    // multiple column families — RocksDB provider required in
    // streaming mode (the HDFS-backed default rejects them; batch
    // TWS takes a different store path, which is why the KEY runs
    // fine without this).
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      // The PRODUCTION processor. Batch 1 plants days 0 and 1; batch 2
      // adds day 2 (shifting every age) plus a day already BEYOND the
      // 50-half-life horizon (day 2 − 60) whose weight must be exactly
      // 0 and whose arrival must not disturb the live days. Expected
      // after batch 2 for type a: ages {2,1,1,0} + one dead row →
      // (2^48 + 2·2^49 + 2^50) / 2^50 = 0.25 + 1 + 1 = 2.25, n = 5.
      val in = MemoryStream[(String, Int)]
      val out = in.toDS().groupByKey(_._1)
        .transformWithState(new StreamOps.DecayProcessor,
          TimeMode.None(), OutputMode.Update())
      val q = out.writeStream.format("memory").queryName("decay_sink")
        .outputMode(OutputMode.Update()).start()
      try {
        in.addData(("a", 0), ("a", 1), ("b", 0))
        q.processAllAvailable()
        val b1 = spark.table("decay_sink")
          .filter(col("event_type") === "a")
          .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
        // after batch 1: ages {1, 0} → (2^49 + 2^50)/2^50 = 1.5
        assert(b1 == Seq((2L, 1.5)), b1.toString)
        in.addData(("a", 2), ("a", 1), ("a", -58))
        q.processAllAvailable()
        val b2 = spark.table("decay_sink")
          .filter(col("event_type") === "a")
          .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
        assert(b2.contains((5L, 2.25)),
          s"cross-batch decay with dead-day arrival: $b2")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("windowed top-k counts accumulate incrementally across micro-batches") {
    // stream_topk's SURVEY claim: the same window(15 min) aggregate
    // runs incrementally — a second batch's events UPDATE the counts
    // of windows the first batch opened, and the final ranked read
    // equals the batch computation over all rows.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:${m}%02d:00")
    val counts = in.toDF().toDF("event_type", "ts")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = counts.writeStream.format("memory").queryName("topk_sink")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(("view", t(0)), ("view", t(5)), ("click", t(7)))
      q.processAllAvailable()
      in.addData(("view", t(9)), ("click", t(20)))
      q.processAllAvailable()
      // last emission per (window, type) = accumulated count
      val last = spark.table("topk_sink")
        .groupBy(col("w.start").cast("string").as("ws"), col("event_type"))
        .agg(max("n").as("n"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(last == Map(
        ("2024-01-01 10:00:00", "view") -> 3L,   // batch 2 updated 2 → 3
        ("2024-01-01 10:00:00", "click") -> 1L,
        ("2024-01-01 10:15:00", "click") -> 1L), last.toString)
    } finally q.stop()
  }

  test("streaming CDC state: a later batch's delete retracts, a later update overrides") {
    import org.apache.spark.sql.streaming.TimeMode
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      // (key, seqMicros, eventId, op, value) through the SHIPPED
      // CdcProcessor.
      val in = MemoryStream[(Long, Long, Long, String, Double)]
      val out = in.toDS().groupByKey(_._1)
        .transformWithState(new StreamOps.CdcProcessor,
          TimeMode.None(), OutputMode.Update())
      val q = out.writeStream.format("memory").queryName("cdc_sink")
        .outputMode(OutputMode.Update()).start()
      try {
        // Batch 1: key 1 upserted twice (seq 20 wins), key 2 once.
        in.addData((1L, 10L, 1L, "U", 5.0), (1L, 20L, 2L, "U", 7.0),
          (2L, 15L, 3L, "U", 3.0))
        q.processAllAvailable()
        val b1 = spark.table("cdc_sink")
          .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
        assert(b1 == Map(1L -> 7.0, 2L -> 3.0), b1.toString)
        // Batch 2: delete key 1 (newer seq), update key 2, and a
        // STALE delete for key 2 (seq 5 — must lose to the state).
        in.addData((1L, 30L, 4L, "D", 0.0), (2L, 25L, 5L, "U", 9.0),
          (2L, 5L, 6L, "D", 0.0))
        q.processAllAvailable()
        val rows = spark.table("cdc_sink")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        // Key 1 emitted nothing in batch 2 (deleted) — its latest
        // emission stays seq 20; key 2's batch-2 emission carries the
        // new value, the stale delete ignored.
        assert(rows.filter(_._1 == 1L).map(_._2).max == 20L, rows.toSeq)
        assert(rows.filter(_._1 == 2L).map(_._2).max == 25L, rows.toSeq)
        assert(rows.find(r => r._1 == 2L && r._2 == 25L).get._3 == 9.0)
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("event-time timers finalize a quiet user's session at the watermark") {
    // The transformWithState capability fMGWS lacks: a group that goes
    // SILENT still gets a callback — deterministically, off event time
    // and watermark, not the wall clock. User 7 events at 10:00/10:05,
    // then nothing; once later traffic advances the watermark past
    // last+30min, the armed timer fires exactly once, emits the
    // session summary, and clears the state.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      def ts(s: String) = Timestamp.valueOf(s"2024-01-01 $s")
      val in = MemoryStream[(Long, Timestamp)]
      val out = StreamOps.sessionFinalize(
        in.toDS().toDF("user_id", "ts").withWatermark("ts", "10 minutes"),
        gapMs = 30 * 60 * 1000L)
      val q = out.writeStream.format("memory").queryName("timer_sink")
        .outputMode(OutputMode.Append()).start()
      try {
        in.addData((7L, ts("10:00:00")), (7L, ts("10:05:00")))
        q.processAllAvailable()
        assert(spark.table("timer_sink").count() == 0,
          "no session may finalize before the watermark passes the gap")
        // later traffic (user 8) advances the watermark to 11:50 —
        // past user 7's 10:35 timer, not past user 8's own 12:30 one
        in.addData((8L, ts("12:00:00")))
        q.processAllAvailable()
        in.addData((8L, ts("12:01:00")))
        q.processAllAvailable()
        val rows = spark.table("timer_sink")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        assert(rows.toSeq == Seq((7L, 2L, ts("10:05:00").getTime)),
          s"exactly user 7's session must finalize: ${rows.toSeq}")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stream_curate composes gate → digest dedup → band owners in ONE streaming query") {
    // The batch key replays this composition over the ordered log; the
    // spec proves the REAL streaming form runs as a single query with
    // two chained stateful operators (dropDuplicates state + the
    // band-owner transformWithState) and that each stage does its job
    // across micro-batches: the gate drops junk statelessly, an exact
    // copy posts nothing (digest state), and a cross-batch near-copy
    // hits the original's buckets.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, String, Timestamp)]
      val docs = in.toDF().toDF("doc_id", "text", "ts")
        .withWatermark("ts", "10 minutes")
      val gated = docs
        .withColumn("quality",
          round(graft.llm.LlmText.qualityScore(col("text")), 4))
        .filter(col("quality") >= 0.5)
      val deduped = gated
        .withColumn("digest", md5(lower(trim(col("text")))))
        .dropDuplicates("digest")
      val posts = graft.llm.LlmDedup
        .portableBandPostings(deduped, carry = Seq("ts"))
        .withColumn("ts_ms", unix_millis(col("ts")))
      val hits = StreamOps.nearDupPostingHits(posts,
        retentionMs = 24 * 60 * 60 * 1000L)
      val q = hits.writeStream.format("memory").queryName("sc_sink")
        .outputMode(OutputMode.Append()).start()
      try {
        val good = "alpha beta gamma delta epsilon zeta"
        in.addData(
          (1L, good, ts("2024-01-01 10:00:00")),
          (2L, "the the the the", ts("2024-01-01 10:00:00")), // quality 0
          (3L, good, ts("2024-01-01 10:01:00")))              // exact copy
        q.processAllAvailable()
        in.addData((4L, good + " eta", ts("2024-01-01 10:20:00")))
        q.processAllAvailable()
        val rows = spark.table("sc_sink")
          .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSeq
        val byDoc = rows.groupBy(_._1)
        assert(byDoc.contains(1L) && byDoc(1L).forall(!_._2),
          s"first good doc must claim its buckets: $rows")
        assert(!byDoc.contains(2L), s"gated junk must never post: $rows")
        assert(!byDoc.contains(3L),
          s"exact copy must be digest-deduped before posting: $rows")
        assert(byDoc.contains(4L) && byDoc(4L).exists(_._2),
          s"cross-batch near-copy must hit an owned bucket: $rows")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream_neardup: band owners persist across micro-batches; the watermark evicts them") {
    // The two behaviors the batch oracle cannot check: (1) RECALL
    // across batches — a near-copy arriving a batch after the original
    // hits the original's band buckets; (2) CAPPED STATE — once the
    // watermark passes owner-last-seen + retention, the event-time
    // timer evicts the bucket owner, so the same content re-arriving
    // later is re-admitted (state tracks recently-active buckets only).
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, String, Timestamp)]
      val docs = in.toDF().toDF("doc_id", "text", "ts")
        .withWatermark("ts", "0 seconds")
      val posts = graft.llm.LlmDedup
        .portableBandPostings(docs, carry = Seq("ts"))
        .withColumn("ts_ms", unix_millis(col("ts")))
      val hits = StreamOps.nearDupPostingHits(posts,
        retentionMs = 60 * 60 * 1000L) // evict owners idle > 1 h
      val q = hits.writeStream.format("memory").queryName("nd_sink")
        .outputMode(OutputMode.Append()).start()
      try {
        val text = "alpha beta gamma delta epsilon zeta"
        in.addData((1L, text, ts("2024-01-01 10:00:00")))
        q.processAllAvailable()
        // Batch 2: an exact near-copy — every band must hit doc 1's
        // buckets even though they were claimed a batch earlier.
        in.addData((2L, text, ts("2024-01-01 10:30:00")))
        q.processAllAvailable()
        def hitsOf(id: Long): Seq[Boolean] = spark.table("nd_sink")
          .filter(col("doc_id") === id).collect().map(_.getBoolean(2)).toSeq
        assert(hitsOf(1L).nonEmpty && hitsOf(1L).forall(!_),
          s"first-seen doc must claim, not hit: ${hitsOf(1L)}")
        assert(hitsOf(2L).nonEmpty && hitsOf(2L).forall(identity),
          s"cross-batch near-copy must hit every band: ${hitsOf(2L)}")
        // Batch 3: unrelated traffic at 12:30 advances the watermark
        // past 11:30 = doc 2's buckets' last-seen + retention → timers
        // fire, owners evicted.
        in.addData((3L, "one two three four five six", ts("2024-01-01 12:30:00")))
        q.processAllAvailable()
        // Batch 4: the same content again — buckets were evicted, so
        // it re-claims instead of hitting (the at-least-once tradeoff).
        in.addData((4L, text, ts("2024-01-01 12:40:00")))
        q.processAllAvailable()
        assert(hitsOf(4L).nonEmpty && hitsOf(4L).forall(!_),
          s"evicted buckets must be re-claimable, not hits: ${hitsOf(4L)}")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stream_neardup: a late in-watermark posting must not pull the eviction timer earlier") {
    // The timer is armed at across-batch MAX posting time + retention
    // (persisted, the SessionFinalizeProcessor pattern). A batch
    // carrying only LATE-but-in-watermark postings for a bucket must
    // re-arm from that persisted max — re-arming from the batch's own
    // (earlier) timestamps would evict the owner before
    // last-posting + retention and re-admit a near-copy early.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, String, Timestamp)]
      val docs = in.toDF().toDF("doc_id", "text", "ts")
        .withWatermark("ts", "2 hours") // late postings stay in-watermark
      val posts = graft.llm.LlmDedup
        .portableBandPostings(docs, carry = Seq("ts"))
        .withColumn("ts_ms", unix_millis(col("ts")))
      val hits = StreamOps.nearDupPostingHits(posts,
        retentionMs = 60 * 60 * 1000L) // retention 1 h
      val q = hits.writeStream.format("memory").queryName("nd_late_sink")
        .outputMode(OutputMode.Append()).start()
      try {
        val text = "alpha beta gamma delta epsilon zeta"
        // Owner claims at 10:00 -> timer must sit at 11:00.
        in.addData((1L, text, ts("2024-01-01 10:00:00")))
        q.processAllAvailable()
        // A LATE posting at 9:10 (in-watermark: wm is far behind).
        // Buggy re-arm-from-batch would move the timer to 10:10.
        in.addData((2L, text, ts("2024-01-01 09:10:00")))
        q.processAllAvailable()
        // Unrelated traffic at 12:30 -> watermark 10:30: past the
        // buggy 10:10 timer, before the correct 11:00 one.
        in.addData((3L, "one two three four five six", ts("2024-01-01 12:30:00")))
        q.processAllAvailable()
        // Same content again: the owner must STILL hold its buckets.
        in.addData((4L, text, ts("2024-01-01 12:35:00")))
        q.processAllAvailable()
        def hitsOf(id: Long): Seq[Boolean] = spark.table("nd_late_sink")
          .filter(col("doc_id") === id).collect().map(_.getBoolean(2)).toSeq
        assert(hitsOf(2L).nonEmpty && hitsOf(2L).forall(identity),
          s"late near-copy must still hit: ${hitsOf(2L)}")
        assert(hitsOf(4L).nonEmpty && hitsOf(4L).forall(identity),
          s"owner evicted early — late posting pulled the timer back: ${hitsOf(4L)}")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stream_neardup: claimed band owners survive a query RESTART from checkpoint") {
    // The state-store recovery contract (the streamToParquet
    // restart test's twin for TWS state): owners claimed before a
    // graceful stop must be loaded back from the checkpoint's state
    // store on restart — a near-copy arriving in the restarted query
    // still hits every band. If recovery silently started empty, doc 2
    // would CLAIM instead of hit and a continuous-ingest deployment
    // would re-admit near-copies after every deploy.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, String, Timestamp)]
      val docs = in.toDF().toDF("doc_id", "text", "ts")
        .withWatermark("ts", "0 seconds")
      val posts = graft.llm.LlmDedup
        .portableBandPostings(docs, carry = Seq("ts"))
        .withColumn("ts_ms", unix_millis(col("ts")))
      val hits = StreamOps.nearDupPostingHits(posts,
        retentionMs = 60 * 60 * 1000L)
      val out = java.nio.file.Files.createTempDirectory("nd_restart_out")
      val chk = java.nio.file.Files.createTempDirectory("nd_restart_chk")
      def start() = hits.writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", chk.toString)
        .outputMode(OutputMode.Append()).start()
      val text = "alpha beta gamma delta epsilon zeta"
      val q1 = start()
      try {
        in.addData((1L, text, ts("2024-01-01 10:00:00")))
        q1.processAllAvailable()
      } finally q1.stop()
      // Data arriving while the query is DOWN; the restart resumes
      // from the committed offset (no re-processing of doc 1) and
      // reloads the owner state doc 1 claimed.
      in.addData((2L, text, ts("2024-01-01 10:30:00")))
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val rows = spark.read.parquet(out.toString)
        .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSeq
      val (d1, d2) = (rows.filter(_._1 == 1L), rows.filter(_._1 == 2L))
      assert(d1.size == 8 && d1.forall(!_._2),
        s"doc 1 must claim its 8 bands exactly once across both runs: $rows")
      assert(d2.size == 8 && d2.forall(_._2),
        s"doc 2 must hit all 8 recovered buckets after restart: $rows")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  // ---- stream_asof ([[StreamOps.AsofEnrichProcessor]]) ----

  /** Tagged as-of input stream: (k, tag, tb, eid, ts); t derives from
    * ts so the watermark column and the processor's µs time agree. */
  private def asofStream(in: MemoryStream[(Long, Int, Long, Long, Timestamp)],
      wmDelay: String) = {
    val tagged = in.toDF().toDF("k", "tag", "tb", "eid", "ts")
      .withWatermark("ts", wmDelay)
      .withColumn("t", unix_micros(col("ts")))
    StreamOps.asofEnrichState(tagged, eventTime = true)
  }

  private def withRocksDb[A](body: => A): A = {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stream_asof: the version MAP bridges micro-batches — a batch-2 " +
    "event between two carried versions picks the older one") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, Int, Long, Long, Timestamp)]
      val q = asofStream(in, "2 hours").writeStream.format("memory")
        .queryName("asof_sink").outputMode(OutputMode.Append()).start()
      try {
        // Batch 1: two same-time versions (tie → larger tb) + event.
        in.addData(
          (1L, 0, 1L, 0L, ts("2024-01-01 10:00:00")),
          (1L, 0, 5L, 0L, ts("2024-01-01 10:00:00")),
          (1L, 1, 0L, 101L, ts("2024-01-01 10:30:00")))
        q.processAllAvailable()
        // Batch 2: a newer version; an event at its exact time
        // (inclusive at-or-before); an event BETWEEN the carried
        // version and the new one — must get the OLD version, which
        // only works if the whole version map carried, not a
        // latest-only scalar.
        in.addData(
          (1L, 0, 7L, 0L, ts("2024-01-01 11:00:00")),
          (1L, 1, 0L, 102L, ts("2024-01-01 11:00:00")),
          (1L, 1, 0L, 103L, ts("2024-01-01 10:45:00")))
        q.processAllAvailable()
        val got = spark.table("asof_sink").collect()
          .map(r => r.getLong(1) ->
            (if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
        assert(got == Map(101L -> Some(5L), 102L -> Some(7L),
          103L -> Some(5L)), s"version-map carry drifted: $got")
      } finally q.stop()
    }
  }

  test("stream_asof: watermark eviction drops versions below the anchor " +
    "and keeps the anchor itself") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, Int, Long, Long, Timestamp)]
      val q = asofStream(in, "0 seconds").writeStream.format("memory")
        .queryName("asof_evict_sink").outputMode(OutputMode.Append()).start()
      try {
        // Versions at 09:00 (tb=9) and 10:00 (tb=2); event at 09:30
        // floors to the 09:00 version. Watermark after the batch =
        // max event time = 10:00.
        in.addData(
          (1L, 0, 9L, 0L, ts("2024-01-01 09:00:00")),
          (1L, 0, 2L, 0L, ts("2024-01-01 10:00:00")),
          (1L, 1, 0L, 201L, ts("2024-01-01 09:30:00")))
        q.processAllAvailable()
        // Batch 2 processes with wm=10:00 → anchor = the 10:00
        // version; the 09:00 version must be GONE. Observable without
        // metrics: re-inserting a 09:00 version with a SMALLER tb is
        // accepted only if the old one was evicted (the keep-max rule
        // would otherwise retain tb=9), so the same 09:30 event now
        // reads tb=1 — and an event after the anchor still reads the
        // surviving 10:00 version.
        in.addData(
          (1L, 0, 1L, 0L, ts("2024-01-01 09:00:00")),
          (1L, 1, 0L, 202L, ts("2024-01-01 09:30:00")),
          (1L, 1, 0L, 203L, ts("2024-01-01 10:30:00")))
        q.processAllAvailable()
        val got = spark.table("asof_evict_sink").collect()
          .map(r => r.getLong(1) ->
            (if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
        assert(got(201L) == Some(9L), s"pre-eviction floor drifted: $got")
        assert(got(202L) == Some(1L),
          s"the 09:00 version must have been evicted at wm=10:00: $got")
        assert(got(203L) == Some(2L),
          s"the anchor version must survive eviction: $got")
      } finally q.stop()
    }
  }

  test("stream_asof: dimension versions survive a query RESTART from " +
    "checkpoint") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, Int, Long, Long, Timestamp)]
      val out = java.nio.file.Files.createTempDirectory("asof_restart_out")
      val chk = java.nio.file.Files.createTempDirectory("asof_restart_chk")
      def start() = asofStream(in, "2 hours").writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", chk.toString)
        .outputMode(OutputMode.Append()).start()
      val q1 = start()
      try {
        in.addData(
          (1L, 0, 7L, 0L, ts("2024-01-01 10:00:00")),
          (1L, 1, 0L, 301L, ts("2024-01-01 10:15:00")))
        q1.processAllAvailable()
      } finally q1.stop()
      // An event arriving while the query is down: the restarted query
      // must enrich it from the RECOVERED version map — a silently
      // empty recovery would emit NULL.
      in.addData((1L, 1, 0L, 302L, ts("2024-01-01 10:45:00")))
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val got = spark.read.parquet(out.toString).collect()
        .map(r => r.getLong(1) ->
          (if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
      assert(got == Map(301L -> Some(7L), 302L -> Some(7L)),
        s"restart recovery drifted: $got")
    }
  }

  test("stream_asof: a time-ordered chunked replay over the real fixture " +
    "equals the batch asofJoin (left form)") {
    // The stream_neardup recall-spec pattern: the batch as-of join is
    // the correctness reference; with arrivals in event-time order the
    // at-arrival enrichment IS the as-of result for every event, so a
    // 3-chunk replay must agree exactly — including unmatched events
    // (NULL) and the 0-second watermark's anchor-preserving eviction
    // running between chunks.
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val e = T.events(spark, sf)
        .select(col("event_id"), date_trunc("second", col("ts")).as("tss"),
          col("user_id"))
      val o = T.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate").cast("timestamp").as("odate"))
      val ref = graft.operators.AsOf.asofJoin(e, o, "user_id", "o_custkey",
          "tss", "odate", "o_orderkey", keepUnmatched = true)
        .select("event_id", "o_orderkey").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      // bounded-collect-free zone is main-source only; tests may pull
      // the sf0.001 fixture to the driver.
      val rows = (o.select(col("o_custkey").as("k"), lit(0).as("tag"),
          col("o_orderkey").as("tb"), lit(0L).as("eid"),
          col("odate").as("ts"))
        .unionByName(e.select(col("user_id").as("k"), lit(1).as("tag"),
          lit(0L).as("tb"), col("event_id").as("eid"),
          col("tss").as("ts"))))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
          r.getTimestamp(4)))
        .sortBy(r => (r._5.getTime, r._2, r._3))
      // Cut into 3 chunks at timestamp boundaries (equal-time rows
      // never straddle a cut, so in-order replay semantics hold).
      val n = rows.length
      def cutAt(target: Int): Int = {
        var i = target
        while (i < n && rows(i)._5 == rows(i - 1)._5) i += 1
        i
      }
      val c1 = cutAt(n / 3); val c2 = cutAt(math.max(c1 + 1, 2 * n / 3))
      val chunks = Seq(rows.slice(0, c1), rows.slice(c1, c2),
        rows.slice(c2, n)).filter(_.nonEmpty)
      val in = MemoryStream[(Long, Int, Long, Long, Timestamp)]
      val q = asofStream(in, "0 seconds").writeStream.format("memory")
        .queryName("asof_replay_sink").outputMode(OutputMode.Append()).start()
      try {
        chunks.foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
        val got = spark.table("asof_replay_sink").collect()
          .map(r => r.getLong(1) ->
            (if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
        assert(got.size == ref.size,
          s"row count drift: stream ${got.size} vs batch ${ref.size}")
        val diff = ref.keys.filter(k => got.get(k) != ref.get(k)).take(5)
        assert(diff.isEmpty,
          s"stream/batch as-of drift on events $diff: " +
            diff.map(k => s"$k: ${got.get(k)} vs ${ref.get(k)}").mkString("; "))
      } finally q.stop()
    }
  }

  test("stream_asof: a HOT key's version state tracks the watermark " +
    "window, not lifetime history (r16 verdict #7)") {
    // One key, hundreds of versions across batches, watermark moving:
    // after the anchor-preserving eviction runs, only versions at-or-
    // after the anchor survive. Observable without state metrics via
    // the keep-max tie-break rule: re-inserting an old time with a
    // SMALLER tb is accepted only if that time was evicted. Floors
    // stay correct throughout — eviction is lossless for in-watermark
    // events.
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, Int, Long, Long, Timestamp)]
      val base = ts("2024-01-01 00:00:00").getTime
      def at(min: Long) = new Timestamp(base + min * 60000L)
      val q = asofStream(in, "0 seconds").writeStream.format("memory")
        .queryName("asof_hot_sink").outputMode(OutputMode.Append()).start()
      try {
        // Batch 1: 200 versions (minutes 0..199, tb = minute), plus an
        // event at minute 199.5 → floors to version 199. Watermark
        // after the batch = 199.5 min.
        in.addData((0L until 200L).map(m => (1L, 0, m, 0L, at(m))) :+
          ((1L, 1, 0L, 901L, new Timestamp(base + 199L * 60000L + 30000L))))
        q.processAllAvailable()
        // Batch 2: 200 more versions (minutes 200..399) + an event at
        // minute 399.5. The batch-1 eviction pass (wm = 199.5) must
        // have dropped versions 0..198, keeping anchor 199.
        in.addData((200L until 400L).map(m => (1L, 0, m, 0L, at(m))) :+
          ((1L, 1, 0L, 902L, new Timestamp(base + 399L * 60000L + 30000L))))
        q.processAllAvailable()
        // Batch 3: probe eviction — minute 100 re-inserted with tb=0
        // is ACCEPTED only if the original (tb=100) was evicted; an
        // event just after minute 100 then reads tb=0. The anchor
        // itself must also have advanced past 199 by now (wm=399.5 →
        // anchor 399), so re-inserting minute 199 with tb=0 is
        // likewise accepted.
        in.addData(
          (1L, 0, 0L, 0L, at(100L)),
          (1L, 0, 0L, 0L, at(199L)),
          (1L, 1, 0L, 903L, new Timestamp(base + 100L * 60000L + 30000L)))
        q.processAllAvailable()
        val got = spark.table("asof_hot_sink").collect()
          .map(r => r.getLong(1) ->
            (if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
        assert(got(901L) == Some(199L), s"hot-key floor drifted: $got")
        assert(got(902L) == Some(399L), s"hot-key floor drifted: $got")
        assert(got(903L) == Some(0L),
          s"version 100 must have been evicted at wm=199.5 " +
            s"(state would otherwise keep tb=100): $got")
      } finally q.stop()
    }
  }

  // ---- stream_funnel ([[StreamOps.FunnelProcessor]]) ----

  /** Funnel input stream: (user_id, es, step, event_id). */
  private def funnelOf(in: MemoryStream[(Long, Long, Int, Long)],
      windowSec: Long = 86400L) =
    StreamOps.funnelStream(
      in.toDF().toDF("user_id", "es", "step", "event_id"), 3, windowSec)

  test("stream_funnel: the stage-time vector bridges micro-batches — a " +
    "batch-2 click measures against the batch-1 view; the per-step " +
    "window and the order rule both gate") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, Long, Int, Long)]
      val q = funnelOf(in).writeStream.format("memory")
        .queryName("funnel_sink").outputMode(OutputMode.Append()).start()
      try {
        // Batch 1, user 1: a click BEFORE any view (skipped — order
        // rule), then the first view at es=1000.
        in.addData((1L, 900L, 1, 1L), (1L, 1000L, 0, 2L))
        q.processAllAvailable()
        // Batch 2: user 1 clicks at 1500 (within 1000+86400 — counts,
        // against the CARRIED view time) and purchases at 1000000
        // (beyond 1500+86400 — window rule gates). User 2 has only a
        // non-step event: enrolled at stage 0.
        in.addData((1L, 1500L, 1, 3L), (1L, 1000000L, 2, 4L),
          (2L, 1200L, -1, 5L))
        q.processAllAvailable()
        val got = spark.table("funnel_sink").collect()
          .map(r => (r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
        assert(got == Set((1L, 1L, Some(1000L)), (1L, 2L, Some(1000L)),
          (2L, 0L, None)),
          s"cross-batch funnel snapshots drifted: $got")
      } finally q.stop()
    }
  }

  test("stream_funnel: at-arrival semantics — a late view cannot " +
    "retroactively qualify an already-seen click; a LATER click still " +
    "advances") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, Long, Int, Long)]
      val q = funnelOf(in).writeStream.format("memory")
        .queryName("funnel_late_sink").outputMode(OutputMode.Append()).start()
      try {
        // Batch 1: a click at es=500, no view yet — skipped at arrival.
        in.addData((1L, 500L, 1, 1L))
        q.processAllAvailable()
        // Batch 2: the view arrives LATE (es=100 < 500). The batch
        // fold would now count that click (t2=500); the stream's
        // documented at-arrival contract does not revisit it — the
        // stage stays 1 (same contract as AsofEnrichProcessor: late
        // data corrects later events only).
        in.addData((1L, 100L, 0, 2L))
        q.processAllAvailable()
        // Batch 3: a fresh click at es=600 qualifies against t1=100.
        in.addData((1L, 600L, 1, 3L))
        q.processAllAvailable()
        val stages = spark.table("funnel_late_sink").collect()
          .map(r => r.getLong(1)).toSeq.sorted
        assert(stages == Seq(0L, 1L, 2L),
          s"at-arrival progression drifted: $stages")
      } finally q.stop()
    }
  }

  test("stream_funnel: the stage vector survives a query RESTART from " +
    "checkpoint") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, Long, Int, Long)]
      val out = java.nio.file.Files.createTempDirectory("funnel_restart_out")
      val chk = java.nio.file.Files.createTempDirectory("funnel_restart_chk")
      def start() = funnelOf(in).writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", chk.toString)
        .outputMode(OutputMode.Append()).start()
      val q1 = start()
      try {
        in.addData((1L, 1000L, 0, 1L))
        q1.processAllAvailable()
      } finally q1.stop()
      // A click arriving while the query is down: the restarted query
      // must measure it against the RECOVERED view time — an empty
      // recovery would leave the user at stage 1 (order rule).
      in.addData((1L, 2000L, 1, 2L))
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val got = spark.read.parquet(out.toString).collect()
        .map(r => (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
      assert(got == Set((1L, Some(1000L)), (2L, Some(1000L))),
        s"restart recovery drifted: $got")
    }
  }

  test("stream_funnel: a time-ordered chunked replay over the real " +
    "fixture equals the batch chained-window funnel") {
    // The stream_asof replay pattern: the batch funnelTimes fold is
    // the correctness reference; with arrivals in event-time order the
    // single-pass fold computes the same fixpoint, so the FINAL
    // snapshot per user (the max-stage emission — stages only grow,
    // and t_first/secs are write-once) must agree exactly.
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val steps = Seq("view", "click", "purchase")
      val ev = T.events(spark, sf).select(col("user_id"), col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("es"),
        col("event_id"))
      val ref = graft.operators.WindowOps.funnelTimes(
          ev.select("user_id", "event_type", "es"), steps, 86400L)
        .collect().map { r =>
          val t1 = if (r.isNullAt(1)) None else Some(r.getLong(1))
          val t2 = if (r.isNullAt(2)) None else Some(r.getLong(2))
          val t3 = if (r.isNullAt(3)) None else Some(r.getLong(3))
          val stage = Seq(t1, t2, t3).takeWhile(_.nonEmpty).length.toLong
          r.getLong(0) -> ((stage, t1, t3.flatMap(t => t1.map(t - _))))
        }.toMap
      val stepIdx = steps.zipWithIndex.toMap
      val rows = ev.collect().map(r => (r.getLong(0),
          r.getLong(2), stepIdx.getOrElse(r.getString(1), -1), r.getLong(3)))
        .sortBy(r => (r._2, r._4))
      // Consecutive slices of the sorted log: cross-batch replay
      // preserves the global time order, so no boundary care needed.
      val n = rows.length
      val chunks = Seq(rows.slice(0, n / 3), rows.slice(n / 3, 2 * n / 3),
        rows.slice(2 * n / 3, n)).filter(_.nonEmpty)
      val in = MemoryStream[(Long, Long, Int, Long)]
      val q = funnelOf(in).writeStream.format("memory")
        .queryName("funnel_replay_sink").outputMode(OutputMode.Append()).start()
      try {
        chunks.foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
        val got = spark.table("funnel_replay_sink").collect()
          .map(r => (r.getLong(0), (r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)),
            if (r.isNullAt(3)) None else Some(r.getLong(3)))))
          .groupBy(_._1).map { case (u, snaps) =>
            u -> snaps.map(_._2).maxBy(_._1)
          }
        assert(got.size == ref.size,
          s"user count drift: stream ${got.size} vs batch ${ref.size}")
        val diff = ref.keys.filter(u => got.get(u) != ref.get(u)).take(5)
        assert(diff.isEmpty,
          s"stream/batch funnel drift on users $diff: " +
            diff.map(u => s"$u: ${got.get(u)} vs ${ref.get(u)}").mkString("; "))
      } finally q.stop()
    }
  }

  test("stream_funnel: epoch-zero-or-earlier rows are out of domain — " +
    "they neither wedge a stage slot nor enroll their user") {
    // r17 advice #2: 0 is the state vector's "not reached" sentinel,
    // so an es <= 0 event could never fill a slot; funnelStream now
    // filters the domain explicitly instead of silently diverging.
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, Long, Int, Long)]
      val q = funnelOf(in).writeStream.format("memory")
        .queryName("funnel_epoch_sink").outputMode(OutputMode.Append()).start()
      try {
        // User 1: an epoch-0 view (dropped — out of domain) then a
        // valid click: no view seen ⇒ stage 0, but the user IS
        // enrolled by the valid row. User 2: only a pre-epoch row —
        // not enrolled at all (no snapshot).
        in.addData((1L, 0L, 0, 1L), (1L, 500L, 1, 2L), (2L, -3L, -1, 3L))
        q.processAllAvailable()
        val got = spark.table("funnel_epoch_sink").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toSet
        assert(got == Set(1L -> 0L),
          s"epoch-domain filter drifted (user 2 must have no snapshot, " +
            s"user 1 must sit at stage 0): $got")
      } finally q.stop()
    }
  }

  // ---- stream_retention ([[StreamOps.RetentionProcessor]]) ----

  /** Retention input stream: (user_id, week). */
  private def retentionOf(in: MemoryStream[(Long, Long)], words: Int = 1) =
    StreamOps.retentionStream(in.toDF().toDF("user_id", "week"), words)

  private def retentionSnaps(table: String) =
    spark.table(table).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Long](3).toList))

  test("stream_retention: the (cohort, mask) state bridges micro-batches " +
    "AND an out-of-order earlier week shifts the cohort down, re-basing " +
    "every carried offset") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, Long)]
      val q = retentionOf(in).writeStream.format("memory")
        .queryName("ret_sink").outputMode(OutputMode.Append()).start()
      try {
        // Batch 1: user 1 first seen at week 105, user 2 at week 100.
        in.addData((1L, 105L), (2L, 100L))
        q.processAllAvailable()
        // Batch 2: user 1's week-100 activity arrives LATE (earlier
        // than the carried cohort 105) — the set-union fold must
        // shift the cohort to 100 and re-base the carried offset 0 to
        // offset 5. User 2 returns in week 102 (plain carry).
        in.addData((1L, 100L), (2L, 102L))
        q.processAllAvailable()
        val latest = retentionSnaps("ret_sink")
          .groupBy(_._1).map { case (u, snaps) => u -> snaps.maxBy(_._2) }
        assert(latest(1L)._3 == 100L && latest(1L)._4 == List(0L, 5L),
          s"cohort shift drifted: ${latest(1L)}")
        assert(latest(2L)._3 == 100L && latest(2L)._4 == List(0L, 2L),
          s"plain cross-batch carry drifted: ${latest(2L)}")
      } finally q.stop()
    }
  }

  test("stream_retention: the (cohort, mask) state survives a query " +
    "RESTART from checkpoint") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, Long)]
      val out = java.nio.file.Files.createTempDirectory("ret_restart_out")
      val chk = java.nio.file.Files.createTempDirectory("ret_restart_chk")
      def start() = retentionOf(in).writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", chk.toString)
        .outputMode(OutputMode.Append()).start()
      val q1 = start()
      try {
        in.addData((1L, 100L))
        q1.processAllAvailable()
      } finally q1.stop()
      // A return week arriving while the query is down: the restarted
      // query must union it with the RECOVERED cohort + mask — an
      // empty recovery would restart the cohort at 101.
      in.addData((1L, 101L))
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val latest = spark.read.parquet(out.toString).collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getSeq[Long](3).toList))
        .maxBy(_._1)
      assert(latest == ((2L, 100L, List(0L, 1L))),
        s"restart recovery drifted: $latest")
    }
  }

  test("stream_retention: a week offset beyond the mask capacity FAILS " +
    "the query rather than silently dropping the return week") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, Long)]
      val q = retentionOf(in, words = 1).writeStream.format("memory")
        .queryName("ret_cap_sink").outputMode(OutputMode.Append()).start()
      try {
        in.addData((1L, 100L))
        q.processAllAvailable()
        // Offset 100 >= 64: out of a 1-word mask's range. Silent drop
        // would diverge from the batch triangle — the contract throws.
        in.addData((1L, 200L))
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        assert(e.getMessage.contains("retention mask capacity") ||
          Option(e.getCause).exists(_.getMessage != null) ,
          s"unexpected failure: $e")
      } finally q.stop()
    }
  }

  test("stream_retention: a shuffled chunked replay over the real " +
    "fixture equals the batch retention triangle — the fold is " +
    "order-independent") {
    // Stronger than the funnel's time-ordered replay: the retention
    // fold is a set union, so even a REVERSED arrival order must
    // converge to win_retention's triangle exactly.
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val weeks = T.events(spark, sf).select(col("user_id"),
          expr("datediff(to_date(date_trunc('second', ts)), " +
            "date '1970-01-05') div 7").cast("long").as("week"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val ref = graft.operators.WindowOps.retentionTriangle(
          spark.createDataFrame(weeks.toSeq.distinct)
            .toDF("user_id", "week"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      // Reverse event-time order, split into 3 chunks.
      val rows = weeks.reverse
      val n = rows.length
      val chunks = Seq(rows.slice(0, n / 3), rows.slice(n / 3, 2 * n / 3),
        rows.slice(2 * n / 3, n)).filter(_.nonEmpty)
      val in = MemoryStream[(Long, Long)]
      val q = retentionOf(in).writeStream.format("memory")
        .queryName("ret_replay_sink").outputMode(OutputMode.Append()).start()
      try {
        chunks.foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
        val got = retentionSnaps("ret_replay_sink")
          .groupBy(_._1).toSeq
          .flatMap { case (_, snaps) =>
            val s = snaps.maxBy(_._2) // latest snapshot per user
            s._4.map(off => (s._3, off))
          }
          .groupBy(identity).map { case (k, vs) => k -> vs.size.toLong }
        assert(got == ref,
          s"stream/batch retention drift: ${got.toSeq.sorted.take(5)} vs " +
            s"${ref.toSeq.sorted.take(5)}")
      } finally q.stop()
    }
  }

  /** Running per-user count via `flatMapGroupsWithState`, the
    * pre-Spark-4 stateful API: the reference the TWS form is checked
    * against below.
    */
  private def runningCountsFMGWS(events: DataFrame): DataFrame =
    events.select(col("user_id"), col("event_id")).as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, StreamOps.UserCount](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          Iterator(StreamOps.UserCount(uid, n))
      }
      .toDF()

  test("batch transformWithState equals the flatMapGroupsWithState fallback") {
    // stream_stateful's key runs the TWS form in batch (each group seen
    // once, empty initial state) — it must agree row-for-row with the
    // pre-Spark-4 fMGWS form it replaced.
    val events = T.events(spark, sf)
    val tws = StreamOps.runningCountsTWS(events).orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val fm = runningCountsFMGWS(events).orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(tws == fm, s"TWS/fMGWS drift: ${tws.take(5)} vs ${fm.take(5)}")
    assert(tws.nonEmpty)
  }

  test("file-source readStream over the events parquet matches the batch read") {
    // The real source surface: readStream over a parquet directory with
    // AvailableNow, same transforms as batch (window agg), memory sink.
    // the file source requires a DIRECTORY; stage the single file
    val src = java.nio.file.Paths.get(s"$sf/events.parquet")
    val dir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(src, dir.resolve("part-0.parquet"))
    val schema = spark.read.parquet(dir.toString).schema // ts dtype varies by fixture vintage
    val stream = T.normalizeTs(
      spark.readStream.schema(schema).parquet(dir.toString))
      .groupBy(window(date_trunc("second", col("ts")), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory").queryName("fs_sink")
      .outputMode(OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000)
      val streamed = spark.table("fs_sink").agg(sum("n")).collect()(0).getLong(0)
      val batch = T.events(spark, sf).count()
      assert(streamed == batch, s"streamed $streamed vs batch $batch")
    } finally q.stop()
  }

  test("streaming exact-dedup keeps first-seen doc per digest across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val out = graft.llm.LlmDedup.streamingExactDedup(
      in.toDF().toDF("doc_id", "text", "ts"), "1 hour")
    val q = out.writeStream.format("memory").queryName("dd_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((1L, "alpha beta", ts("2024-01-01 10:00:00")),
                 (2L, "gamma delta", ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      // batch 2: re-sends doc 1's content (new id + normalization noise)
      // plus one genuinely new doc — only the new doc may pass.
      in.addData((3L, "  ALPHA BETA ", ts("2024-01-01 10:02:00")),
                 (4L, "epsilon", ts("2024-01-01 10:03:00")))
      q.processAllAvailable()
      val ids = spark.table("dd_sink").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 4L),
        s"duplicate content must not re-emit across batches: $ids")
    } finally q.stop()
  }

  test("checkpointed streaming parquet sink: a rerun processes ONLY new input (exactly-once)") {
    import graft.sources.Sinks
    val src = java.nio.file.Paths.get(s"$sf/events.parquet")
    val in = java.nio.file.Files.createTempDirectory("sink_in")
    val out = java.nio.file.Files.createTempDirectory("sink_out").toString
    val chk = java.nio.file.Files.createTempDirectory("sink_chk").toString
    java.nio.file.Files.copy(src, in.resolve("f1.parquet"))
    val schema = spark.read.parquet(in.toString).schema
    def run(): Unit = Sinks.streamToParquet(
      spark.readStream.schema(schema).parquet(in.toString)
        .select(col("event_id"), col("user_id"), col("event_type")),
      out, chk)
    val perFile = spark.read.parquet(in.toString).count()
    run()
    assert(spark.read.parquet(out).count() == perFile)
    // Grow the source and re-run with the SAME checkpoint: f1 must not
    // be reprocessed — exactly perFile new rows appear, not 2×.
    java.nio.file.Files.copy(src, in.resolve("f2.parquet"))
    run()
    assert(spark.read.parquet(out).count() == 2 * perFile,
      "checkpoint must skip already-processed files")
  }

  test("streamToParquet restart-from-checkpoint: crash mid-stream, output exactly-once") {
    // The recovery contract: a checkpointed query that DIES between
    // micro-batches resumes from its offset log and the parquet sink's
    // manifest commits each batch atomically — so a crash mid-stream
    // plus a restart yields every input row EXACTLY once, never a
    // re-processed batch 0 and never a half-written batch 1.
    //
    // Deterministic "crash": two source files processed one per batch
    // (maxFilesPerTrigger 1); the second is garbage bytes, so batch 0
    // (f1) commits and batch 1 throws mid-stream. The restart reads
    // the SAME checkpoint after f1's rows are already committed; the
    // offset WAL tracks f2 by PATH, so repairing the file in place
    // lets the retried batch succeed.
    val in = java.nio.file.Files.createTempDirectory("restart_in")
    val outDir = java.nio.file.Files.createTempDirectory("restart_out")
    val chk = java.nio.file.Files.createTempDirectory("restart_chk")
    def stage(name: String, ids: Seq[Long], modTime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("stage")
      ids.toDF("id").coalesce(1).write.mode("overwrite")
        .parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, in.resolve(name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      in.resolve(name).toFile.setLastModified(modTime)
    }
    stage("f1.parquet", Seq(1L, 2L, 3L, 4L, 5L), 1700000000000L)
    java.nio.file.Files.write(in.resolve("f2.parquet"),
      "not a parquet file".getBytes)
    in.resolve("f2.parquet").toFile.setLastModified(1700000100000L)
    val schema = spark.read.parquet(in.resolve("f1.parquet").toString).schema
    def source = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
    val crashed = intercept[Exception] {
      graft.sources.Sinks.streamToParquet(source, outDir.toString, chk.toString)
    }
    assert(crashed != null) // batch 1 threw; batch 0 already committed
    // Mid-crash state: whatever is visible through the sink manifest
    // must be duplicate-free and a strict subset (the crash left work
    // undone, not doubled).
    val mid = scala.util.Try(spark.read.parquet(outDir.toString)
      .collect().map(_.getLong(0)).toSeq).getOrElse(Seq.empty)
    assert(mid.distinct.size == mid.size && mid.size < 8,
      s"mid-crash output must be a duplicate-free strict subset: $mid")
    // Repair the bad file IN PLACE (same path the offset WAL recorded)
    // and restart from the same checkpoint.
    stage("f2.parquet", Seq(6L, 7L, 8L), 1700000100000L)
    graft.sources.Sinks.streamToParquet(source, outDir.toString, chk.toString)
    val got = spark.read.parquet(outDir.toString)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(got == (1L to 8L),
      s"crash + restart must yield every row exactly once: $got")
  }

  test("session_window: only a gap STRICTLY over 30 min starts a new session") {
    // FIXTURES.md §C: events 00:00, 00:20, 00:49, 01:30 with 30-min gap
    // → sessions {00:00..00:49 (3)}, {01:30 (1)}. A gap of exactly
    // 30 min merges (Spark's session interval is right-closed).
    val df = Seq(
      (1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:20:00")),
      (1L, ts("2024-01-01 00:49:00")), (1L, ts("2024-01-01 01:30:00")),
      (2L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-01 00:30:00")))
      .toDF("user_id", "ts")
    val sess = df.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select("user_id", "n").orderBy("user_id", "n")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // user 1: sessions of 3 and 1 (00:49→01:30 gap is 41 min > 30);
    // user 2: exactly-30-min gap merges into one session of 2.
    assert(sess == Seq((1L, 1L), (1L, 3L), (2L, 2L)), sess.toString)
  }

  test("stream_anomaly: a batch-2 spike is judged against batch-1's fitted moments") {
    // The ZScoreProcessor contract: moments carry across micro-batches,
    // so a spike arriving in batch 2 is scored against the history
    // batch 1 fitted — and the first 8 rows only fit, never flag.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, Long, Timestamp, Double)]
      val out = StreamOps.zscoreStream(
        in.toDF().toDF("user_id", "event_id", "ts", "value"))
      val q = out.writeStream.format("memory").queryName("anom_sink")
        .outputMode(OutputMode.Append()).start()
      try {
        // batch 1: 8 alternating calm values — warm-up only, no flags
        val calm = Seq(1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0)
        in.addData(calm.zipWithIndex.map { case (v, i) =>
          (1L, i.toLong, ts(f"2024-01-01 00:0${i}%01d:00"), v) }: _*)
        q.processAllAvailable()
        assert(spark.table("anom_sink").count() == 0, "warm-up must not flag")
        // batch 2: a spike and a calm row
        in.addData((1L, 8L, ts("2024-01-01 00:08:00"), 50.0),
                   (1L, 9L, ts("2024-01-01 00:09:00"), 1.5))
        q.processAllAvailable()
        val got = spark.table("anom_sink")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3),
            r.getDouble(4))).toSeq
        // batch-1 moments: n=8, Σ=12, Σ²=20 → μ=1.5,
        // σ = sqrt((20−18)/7) ≈ 0.5345; 50.0 breaks 3σ, 1.5 (scored
        // against the 9-row moments including the spike) does not.
        val mu = 12.0 / 8.0
        val sigma = math.sqrt((20.0 - 12.0 * 12.0 / 8.0) / 7.0)
        val z = BigDecimal((50.0 - mu) / sigma)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(got == Seq((1L, 9L, 50.0, z)), got.toString)
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stream_sample: min-k state converges to the batch draw across batches") {
    // The MinKSampleProcessor contract: min-k-by-hash is a semilattice,
    // so after any prefix of the log the state equals the BATCH ranking
    // over that prefix, regardless of arrival interleaving.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      def key(id: Long): String = {
        val d = java.security.MessageDigest.getInstance("MD5")
        d.digest(s"$id:42".getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString
      }
      def top3(ids: Seq[Long]): Seq[(Long, Long)] =
        ids.map(i => (key(i), i)).sorted.take(3)
          .zipWithIndex.map { case ((_, id), i) => (id, i + 1L) }
      val in = MemoryStream[(String, Long)]
      val out = StreamOps.minKSample(
        in.toDF().toDF("lang", "doc_id")
          .withColumn("sample_key",
            md5(concat_ws(":", col("doc_id"), lit(42)))), k = 3)
      val q = out.writeStream.format("memory").queryName("mink_sink")
        .outputMode(OutputMode.Append()).start()
      try {
        in.addData((1L to 5L).map(i => ("a", i)): _*)
        q.processAllAvailable()
        in.addData((6L to 10L).map(i => ("a", i)): _*)
        q.processAllAvailable()
        val rows = spark.table("mink_sink")
          .collect().map(r => (r.getLong(1), r.getLong(3))).toSeq
        // snapshot 1 = batch draw over 1..5; snapshot 2 = over 1..10
        assert(rows.size == 6, s"want two 3-row snapshots, got $rows")
        assert(rows.toSet == (top3(1L to 5L) ++ top3(1L to 10L)).toSet,
          s"got $rows, want ${top3(1L to 5L)} then ${top3(1L to 10L)}")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stream_transitions: the carried last event bridges micro-batches") {
    // The TransitionProcessor contract: the stored (epoch, type)
    // carries, so batch 2's first event emits its transition FROM
    // batch 1's last — the concatenated pair stream equals the batch
    // run over the whole log under event-time-ordered arrival.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, Long, Timestamp, String)]
      val out = StreamOps.transitionStream(
        in.toDF().toDF("user_id", "event_id", "ts", "event_type"))
      val q = out.writeStream.format("memory").queryName("trans_sink")
        .outputMode(OutputMode.Append()).start()
      try {
        // batch 1 arrives out of row order WITHIN the batch (the
        // processor must sort by (epoch, event_id) before folding)
        in.addData((1L, 1L, ts("2024-01-01 00:05:00"), "b"),
                   (1L, 0L, ts("2024-01-01 00:00:00"), "a"))
        q.processAllAvailable()
        // batch 2: continues user 1 from the stored 'b', new user 2
        in.addData((1L, 2L, ts("2024-01-01 00:06:30"), "c"),
                   (2L, 3L, ts("2024-01-01 01:00:00"), "a"))
        q.processAllAvailable()
        val got = spark.table("trans_sink")
          .collect().map(r => (r.getLong(0), r.getString(1),
            r.getString(2), r.getLong(3))).toSet
        // a→b within batch 1 (300 s), b→c ACROSS the batch boundary
        // (90 s); user 2's lone event emits nothing.
        assert(got == Set((1L, "a", "b", 300L), (1L, "b", "c", 90L)),
          got.toString)
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
