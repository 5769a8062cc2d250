package graft.streaming

import graft.T
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues,
  ValueState}

/** §2.10 Streaming operators. The reference is batch-only CLI; these
  * extend the engine to the streaming surface the north star demands.
  *
  * Strategy (SURVEY.md §2.10): `window()` / `session_window()` are
  * plain expressions that behave identically over batch and streaming
  * DataFrames, so the t2 keys run in batch against the static events
  * table (oracle-checkable), while TRUE streaming behavior — watermark
  * late-data drop, cross-micro-batch state — is exercised in
  * StreamingSpec via MemoryStream. The exact same aggregation code
  * runs `readStream`-ed at scale: one shuffle per window agg, state
  * store bounded by the watermark.
  *
  * All event-time logic uses second-truncated ts (ns parquet / µs
  * Spark / ns DuckDB — §7.5).
  */
object StreamOps {
  type Q = (SparkSession, String) => DataFrame

  private def tsec = date_trunc("second", col("ts"))

  /** Typed rows for the stateful op. */
  final case class UserCount(user_id: Long, n_events: Long)

  /** Running per-user event count as a Spark 4 [[StatefulProcessor]] —
    * the `transformWithState` form of the stateful op. Forward API vs
    * `flatMapGroupsWithState`: named state variables created on a
    * handle (value/list/map), timers, TTL — the shape every new
    * stateful pipeline should target (SURVEY §7.4.6); StreamingSpec
    * checks it against an fMGWS reference. State is one
    * ValueState[Long] per user — bounded by the user population, not
    * the event volume, same as the fMGWS form.
    */
  final class RunningCountProcessor
      extends StatefulProcessor[Long, (Long, Long), UserCount] {
    @transient private var count: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("count",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[UserCount] = {
      val n = (if (count.exists()) count.get() else 0L) + rows.size
      count.update(n)
      Iterator.single(UserCount(key, n))
    }
  }

  /** Spark plans batch `transformWithState` through a state-store-
    * backed exec (`TransformWithStateExec.generateSparkPlanForBatchQueries`)
    * whose executors resolve store locations through the driver's
    * StateStoreCoordinator RPC endpoint — but that endpoint is only
    * registered by the STREAMING query path (MicroBatchExecution
    * touches the manager's lazy coordinator), so a batch-only session
    * fails with RpcEndpointNotFoundException (verified on 4.1.2).
    * Touch the same lazy val here. Reflection because the member is
    * `private[sql]` in Scala (bytecode-public, so no setAccessible);
    * idempotent — it's a lazy val — and a no-op once any streaming
    * query has run.
    */
  private def ensureStateStoreCoordinator(s: SparkSession): Unit = {
    val m = s.sessionState.streamingQueryManager
    m.getClass.getMethods.find(_.getName.endsWith("stateStoreCoordinator"))
      .foreach(_.invoke(m))
  }

  /** Running per-user count via `transformWithState` — works over a
    * batch OR streaming (user_id, event_id) frame; cross-batch state
    * accumulation is asserted in StreamingSpec over MemoryStream
    * (streaming `transformWithState` requires the RocksDB state store
    * provider; batch runs use the default provider).
    */
  def runningCountsTWS(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    ensureStateStoreCoordinator(s)
    events.select(col("user_id"), col("event_id")).as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RunningCountProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Final CDC row for one key: the last-writer state. */
  final case class CdcOut(user_id: Long, seq_micros: Long, bal: Double)

  /** Streaming CDC upsert state (r9) — the `transformWithState` twin
    * of the batch `cdc_apply` key: per key, keep the highest-sequence
    * (event-time µs, event_id) change and its value; an update emits
    * the refreshed state, a delete suppresses the key. Cross-batch the
    * state carries, so a later micro-batch's delete retracts a key
    * that batch 1 upserted (asserted over MemoryStream in
    * StreamingSpec). State is ONE small record per live key — bounded
    * by the keyspace, not the change volume, the property that keeps a
    * 100 TB changelog stream's state store sane.
    */
  final class CdcProcessor extends StatefulProcessor[
      Long, (Long, Long, Long, String, Double), CdcOut] {
    // (seqMicros, eventId, isDelete, value) — one value-state record.
    @transient private var st: ValueState[(Long, Long, Boolean, Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Boolean, Double)]("cdc",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaBoolean,
          org.apache.spark.sql.Encoders.scalaDouble), TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, String, Double)],
        timerValues: TimerValues): Iterator[CdcOut] = {
      var best = if (st.exists()) st.get() else (Long.MinValue, Long.MinValue, true, 0.0)
      rows.foreach { r =>
        if (r._2 > best._1 || (r._2 == best._1 && r._3 > best._2))
          best = (r._2, r._3, r._4 == "D", r._5)
      }
      st.update(best)
      if (best._3) Iterator.empty
      else Iterator.single(CdcOut(key, best._1, best._4))
    }
  }

  /** Running decayed count emitted per key per micro-batch. */
  final case class DecayOut(event_type: String, n_events: Long,
      decayed_count: Double)

  /** Continuously-decayed counts (r15) — `agg_decay` as streaming
    * state: per event type, a MapState of (epoch-day → count) plus a
    * running total; each micro-batch folds its arrivals in and emits
    * the current Σ count_d · 2^(−age_days) against the type's OWN
    * latest day. State is HARD-bounded at 51 live days per key: a day
    * more than 50 half-lives behind the max contributes exactly 0 to
    * every future emit (the max only grows), so eviction is lossless —
    * the bounded-state discipline every 100 TB stream op needs, here
    * with zero approximation. Deliberate survivor-rule contrast with
    * the batch key (the stream_dedup precedent): batch agg_decay
    * references the GLOBAL corpus max day; a per-key stream can only
    * know its own key's clock, so the reference is per type — the
    * oracle replays exactly that. The emit mirrors agg_decay's exact
    * arithmetic: integer 2^(50−age) weights, exact (BigInt) sum,
    * correctly-rounded double cast, exponent-shift ÷2^50, round-6.
    */
  final class DecayProcessor
      extends StatefulProcessor[String, (String, Int), DecayOut] {
    @transient private var days: MapState[Int, Long] = _
    @transient private var total: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      days = getHandle.getMapState[Int, Long]("days",
        org.apache.spark.sql.Encoders.scalaInt,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      total = getHandle.getValueState[Long]("n",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: String,
        rows: Iterator[(String, Int)],
        timerValues: TimerValues): Iterator[DecayOut] = {
      var n = if (total.exists()) total.get() else 0L
      rows.foreach { case (_, day) =>
        n += 1
        days.updateValue(day,
          (if (days.containsKey(day)) days.getValue(day) else 0L) + 1L)
      }
      total.update(n)
      val entries = days.iterator().toList
      val maxDay = entries.map(_._1).max
      // lossless horizon eviction: age > 50 ⇒ weight 0 forever
      entries.filter(e => maxDay - e._1 > 50)
        .foreach(e => days.removeKey(e._1))
      val sum = entries.foldLeft(BigInt(0)) { case (acc, (d, c)) =>
        val age = maxDay - d
        if (age <= 50) acc + (BigInt(c) << (50 - age)) else acc
      }
      Iterator.single(DecayOut(key, n,
        BigDecimal(sum.toDouble / 1125899906842624.0)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
  }

  /** Decayed-count fold over a batch OR streaming (event_type,
    * epoch_day) frame — [[DecayProcessor]] behind the same
    * batch/stream dual entry the other TWS operators use. */
  def decayState(typedDays: DataFrame): DataFrame = {
    val s = typedDays.sparkSession
    import s.implicits._
    ensureStateStoreCoordinator(s)
    typedDays.as[(String, Int)]
      .groupByKey(_._1)
      .transformWithState(new DecayProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Last-writer-wins changelog fold over a batch OR streaming change
    * frame (user_id, seqMicros, event_id, op, value). */
  def cdcState(changes: DataFrame): DataFrame = {
    val s = changes.sparkSession
    import s.implicits._
    ensureStateStoreCoordinator(s)
    changes.as[(Long, Long, Long, String, Double)]
      .groupByKey(_._1)
      .transformWithState(new CdcProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** A finalized session: emitted by [[SessionFinalizeProcessor]] when
    * a user's event-time gap exceeds the configured timeout. */
  final case class SessionOut(user_id: Long, n_events: Long,
      last_event_ms: Long)

  /** Event-time-TIMER session finalizer — the capability that
    * separates `transformWithState` from `flatMapGroupsWithState`
    * (which can only react to ARRIVING rows; a group that goes silent
    * never gets a callback without processing-time timeouts and their
    * wall-clock nondeterminism). Per user: accumulate a count, re-arm
    * one event-time timer at `last event + gapMs`; when the WATERMARK
    * passes the timer (the user went quiet), [[handleExpiredTimer]]
    * fires once, emits the session summary, and clears the state — so
    * state size tracks ACTIVE users only, the property that keeps a
    * stateful 100 TB stream bounded. Deterministic: timers key off
    * event time and watermark, never the processing clock.
    */
  final class SessionFinalizeProcessor(gapMs: Long)
      extends StatefulProcessor[Long, (Long, java.sql.Timestamp), SessionOut] {
    @transient private var count: ValueState[Long] = _
    @transient private var lastMs: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      count = getHandle.getValueState[Long]("count",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      lastMs = getHandle.getValueState[Long]("last",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[SessionOut] = {
      var n = if (count.exists()) count.get() else 0L
      var last = if (lastMs.exists()) lastMs.get() else 0L
      rows.foreach { r => n += 1; last = math.max(last, r._2.getTime) }
      count.update(n)
      lastMs.update(last)
      // ONE armed timer per key: re-arm on every batch with input.
      getHandle.listTimers().foreach(t =>
        getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(last + gapMs)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] = {
      val out = SessionOut(key,
        if (count.exists()) count.get() else 0L,
        if (lastMs.exists()) lastMs.get() else 0L)
      count.clear(); lastMs.clear()
      Iterator.single(out)
    }
  }

  /** Session summaries over a streaming (user_id, ts) frame, emitted
    * when the event-time watermark passes `last event + gap`. The
    * caller supplies the watermark (it defines when timers can fire).
    */
  def sessionFinalize(events: DataFrame, gapMs: Long): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events.select(col("user_id"), col("ts")).as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SessionFinalizeProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** One band-bucket posting's verdict: `hit` = this doc shares the
    * bucket with an earlier-seen doc (a near-dup candidate signal). */
  final case class BandHit(doc_id: Long, band: Int, hit: Boolean)

  /** First-seen band-bucket OWNER — the stateful heart of
    * `stream_neardup` (streaming MinHash near-dup). Keyed on the LSH
    * band key from [[graft.llm.LlmDedup.portableBandPostings]]; state
    * per bucket is exactly ONE long (the first-arrived doc_id), the
    * hardest possible cap on per-bucket state — any later doc posting
    * into an owned bucket is emitted as a hit, never stored. That is
    * the streaming-native survivor rule (`stream_dedup`'s first-seen
    * semantics lifted from exact digests to LSH buckets): a hot
    * boilerplate bucket with 100k members costs 8 bytes of state, not
    * a signature set — the maxBandDf economics enforced by
    * construction.
    *
    * Replay order within a call is (event-time, doc_id) — batch mode
    * hands ALL of a bucket's postings in one call, so the sort IS the
    * ts-ordered arrival replay the oracle mirrors (owner = min doc_id
    * when event time is the doc_id, the key's synthetic log order).
    *
    * With `retentionMs > 0` (streaming callers, TimeMode.EventTime) an
    * event-time timer evicts the owner once the WATERMARK passes
    * `last posting + retentionMs` — state tracks RECENTLY-ACTIVE
    * buckets only, so an unbounded crawl stream holds a bounded state
    * store; a re-arrival of evicted content is re-admitted (the
    * at-least-once tradeoff every watermark-bounded streaming dedup
    * makes, same as [[graft.llm.LlmDedup.streamingExactDedup]]).
    */
  final class BandOwnerProcessor(retentionMs: Long)
      extends StatefulProcessor[String, (String, Int, Long, Long), BandHit] {
    @transient private var owner: ValueState[Long] = _
    @transient private var lastMs: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      owner = getHandle.getValueState[Long]("owner",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      lastMs = getHandle.getValueState[Long]("last",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: String,
        rows: Iterator[(String, Int, Long, Long)],
        timerValues: TimerValues): Iterator[BandHit] = {
      // (bkey, band, doc_id, ts_ms) — sort by (ts_ms, doc_id): the
      // deterministic arrival-log replay (micro-batches are unordered
      // within a trigger).
      val sorted = rows.toArray.sortBy(r => (r._4, r._3))
      var maxTs = Long.MinValue
      val out = sorted.map { r =>
        maxTs = math.max(maxTs, r._4)
        val own =
          if (owner.exists()) owner.get()
          else { owner.update(r._3); r._3 }
        BandHit(r._3, r._2, r._3 != own)
      }
      if (retentionMs > 0) {
        // Re-arm MONOTONICALLY (the SessionFinalizeProcessor pattern):
        // the timer keys off the across-batch MAX posting time, kept
        // in state — a later batch carrying only late-but-in-watermark
        // postings must never pull the timer EARLIER, or the owner
        // would evict before `last posting + retention` and re-admit
        // a near-copy the contract says is still retained.
        val last = math.max(maxTs,
          if (lastMs.exists()) lastMs.get() else Long.MinValue)
        lastMs.update(last)
        getHandle.listTimers().foreach(t =>
          getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer(last + retentionMs)
      }
      out.iterator
    }
    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[BandHit] = {
      owner.clear()
      lastMs.clear()
      Iterator.empty
    }
  }

  /** Run [[BandOwnerProcessor]] over a (bkey, band, doc_id, ts_ms)
    * posting frame — batch or streaming. `retentionMs > 0` switches to
    * event-time mode (streaming callers must watermark the source
    * column ts_ms derives from).
    */
  def nearDupPostingHits(posts: DataFrame, retentionMs: Long): DataFrame = {
    val s = posts.sparkSession
    import s.implicits._
    ensureStateStoreCoordinator(s)
    posts
      .select(col("bkey"), col("band").cast("int"), col("doc_id"),
        col("ts_ms"))
      .as[(String, Int, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new BandOwnerProcessor(retentionMs),
        if (retentionMs > 0) TimeMode.EventTime() else TimeMode.None(),
        OutputMode.Append())
      .toDF()
  }

  /** Streaming MinHash near-dup over `documents` (batch form): band
    * postings (stateless, cross-engine-replayable minhash) → bucket
    * owners via [[BandOwnerProcessor]] → per-doc any-hit fold. A doc
    * is `near_dup` iff ANY of its bands hit a bucket an earlier doc
    * owns — the LSH or-construction, arrival-order-dependent exactly
    * like `stream_dedup` (first-seen wins; later near-copies flag).
    * Arrival time here is the synthetic log order doc_id (the fixture
    * carries no timestamp); a streaming deployment passes real event
    * time through [[nearDupPostingHits]] instead. Docs under 3 tokens
    * have no shingles, post nothing, and are never near-dups.
    *
    * Scale: the postings are per-row math, the stateful hop shuffles
    * ~40-byte rows once on bkey with O(1) state per bucket, the
    * any-hit fold shuffles once on doc_id — corpus-linear, no pair
    * materialization anywhere (contrast `dedup_minhash`, which emits
    * the verified PAIRS; the stream form answers "is this new doc a
    * near-copy of anything seen" without ever joining docs to docs).
    */
  def nearDupFlags(docs: DataFrame): DataFrame = {
    val posts = graft.llm.LlmDedup.portableBandPostings(docs)
      .withColumn("ts_ms", col("doc_id"))
    val per = nearDupPostingHits(posts, retentionMs = 0L)
      .groupBy("doc_id")
      .agg(sum(when(col("hit"), 1L).otherwise(0L)).as("n_hit_bands"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hit_bands"), lit(0L)).as("n_hit_bands"),
        (coalesce(col("n_hit_bands"), lit(0L)) > 0).as("near_dup"))
  }

  /** Streaming corpus curation (r12) — the continuous-ingest form of
    * `corpus_curate`: quality gate (stateless) → FIRST-SEEN exact
    * dedup (`stream_dedup`'s digest rule) → near-dup membership drop
    * ([[nearDupFlags]]' first-seen band owners). This is the pipeline
    * a crawl feed runs BEFORE documents ever land in the corpus store;
    * the batch key replays it over the doc_id-ordered arrival log.
    *
    * Survivor-rule contrast with the batch `corpus_curate`, on
    * purpose: batch clustering keeps each near-dup COMPONENT's
    * smallest id (global view), the stream keeps every doc that hits
    * NO owned band bucket at its arrival moment (first-seen-wins, the
    * only rule a one-pass stream can implement — same relationship as
    * `dedup_exact` vs `stream_dedup`). Over an ordered log the kept
    * sets differ only on transitive chains whose links arrive out of
    * cluster order; both drop every doc that near-duplicates an
    * earlier KEPT doc.
    *
    * Scale: the gate is per-row math, the digest dedup shuffles one
    * ~48-byte row per doc, the band hop shuffles 8 ~40-byte postings
    * per doc with O(1) state per bucket — corpus-linear, no pairs,
    * no driver state; the streaming form is the same operators with
    * `dropDuplicates` + [[nearDupPostingHits]] state stores
    * (cross-batch composition asserted in StreamingSpec).
    */
  def curateStream(docs: DataFrame, minQuality: Double): DataFrame = {
    val scored = docs
      .withColumn("quality",
        round(graft.llm.LlmText.qualityScore(col("text")), 4))
      .filter(col("quality") >= minQuality)
    // Batch image of dropDuplicates over the ordered log: lowest
    // doc_id per digest. Checkpointed once — it feeds the band
    // postings AND the final survivor join.
    val exact = scored
      .withColumn("digest", md5(lower(trim(col("text")))))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("digest").orderBy("doc_id")))
      .filter(col("rn") === 1).drop("rn", "digest")
      .localCheckpoint(false)
    val keep = nearDupFlags(exact.select(col("doc_id"), col("text")))
      .filter(!col("near_dup")).select("doc_id")
    exact.join(keep, Seq("doc_id"))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
  }

  /** One flagged streaming anomaly: `rn` is the row's 1-based position
    * in its user's event-time order, `z` the score against the moments
    * of everything BEFORE it. */
  final case class AnomOut(user_id: Long, rn: Long, t: String,
      value: Double, z: Double)

  /** Streaming z-score anomaly detector — the continuous form of
    * `ts_anomaly`: flag each arriving value against its user's OWN
    * history, using only state available AT ARRIVAL (a stream can't
    * see the future residual distribution the batch Tukey fences
    * rank). State per user is three numbers — count + EXACT-DECIMAL
    * Σx and Σx² (java BigDecimal at the encoder's (38,18): scale-4
    * inputs and scale-8 squares add exactly) — O(1) per key at any
    * scale, and exactly the moments the SQL replay takes from
    * `1 PRECEDING` prefix windows. The z program mirrors the oracle
    * double-for-double (sd/nd mean, (ssd − sd·sd/nd)/(nd − 1) prior
    * sample variance, sqrt/greatest clamp, |x−μ| > 3σ gate, σ > 0
    * guard), so the flag set and scores are bit-identical.
    *
    * Replay order within a call is (event time, event_id) — batch
    * mode hands a user's whole history in one call and the sort makes
    * the fold the ordered-log replay the oracle mirrors; across
    * micro-batches the moments carry, so a batch-2 spike is judged
    * against batch-1's fitted history (the StreamingSpec scenario).
    * Warm-up: the first 8 rows per user only fit, never flag.
    */
  final class ZScoreProcessor extends StatefulProcessor[
      Long, (Long, Long, java.sql.Timestamp, Double), AnomOut] {
    @transient private var st: ValueState[
      (Long, java.math.BigDecimal, java.math.BigDecimal)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[
        (Long, java.math.BigDecimal, java.math.BigDecimal)]("zmoments",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.DECIMAL,
          org.apache.spark.sql.Encoders.DECIMAL), TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, java.sql.Timestamp, Double)],
        timerValues: TimerValues): Iterator[AnomOut] = {
      val zero = java.math.BigDecimal.ZERO
      var (n, s, ss) = if (st.exists()) st.get() else (0L, zero, zero)
      val out = scala.collection.mutable.ArrayBuffer.empty[AnomOut]
      // Sort on full micro precision (epoch-second, nanos), not
      // getTime's millis — two same-millisecond events must replay in
      // the oracle's ORDER BY ts, event_id order, not tie-break early.
      rows.toArray.sortBy(r =>
        (r._3.toInstant.getEpochSecond, r._3.getNanos.toLong, r._2))
        .foreach { r =>
        val x = r._4
        if (n >= 8) {
          val nd = n.toDouble
          val sd = s.doubleValue; val ssd = ss.doubleValue
          val mu = sd / nd
          val sigma = math.sqrt(
            math.max((ssd - sd * sd / nd) / (nd - 1.0), 0.0))
          if (sigma > 0 && math.abs(x - mu) > 3.0 * sigma)
            out += AnomOut(key, n + 1,
              java.time.format.DateTimeFormatter
                .ofPattern("yyyy-MM-dd HH:mm:ss")
                .withZone(java.time.ZoneOffset.UTC)
                .format(java.time.Instant.ofEpochMilli(r._3.getTime)),
              x,
              java.math.BigDecimal.valueOf((x - mu) / sigma)
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue)
        }
        val x4 = java.math.BigDecimal.valueOf(x)
          .setScale(4, java.math.RoundingMode.HALF_UP)
        n += 1
        s = s.add(x4)
        ss = ss.add(x4.multiply(x4))
      }
      st.update((n, s, ss))
      out.iterator
    }
  }

  /** Run [[ZScoreProcessor]] over an events frame — batch or
    * streaming. */
  def zscoreStream(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    ensureStateStoreCoordinator(s)
    events.select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[(Long, Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .transformWithState(new ZScoreProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** The current exact-k stratum sample after a batch: the k docs
    * with the smallest `sample_key` hashes seen so far. */
  final case class SampleOut(lang: String, doc_id: Long,
      sample_key: String, rk: Long)

  /** Bounded min-k state: the retained (hash, doc_id) pairs. */
  final case class SampleState(items: List[(String, Long)])

  /** Streaming exact-k stratified sampler — `sample_stratified_k` as
    * continuous state: per stratum, keep the k docs with the SMALLEST
    * md5 sample keys seen so far. min-k over a hash is a semilattice
    * (merge order never matters), so unlike every first-seen stream
    * operator the sample CONVERGES to exactly the batch draw no
    * matter how arrivals interleave — after any prefix of the log,
    * state ≡ `sample_stratified_k` over that prefix (asserted in
    * StreamingSpec across batches, and the batch key's oracle IS the
    * batch ranking). State per stratum is k pairs — O(k), never
    * corpus-sized; each batch emits the stratum's refreshed sample
    * snapshot.
    */
  final class MinKSampleProcessor(k: Int) extends StatefulProcessor[
      String, (String, Long, String), SampleOut] {
    @transient private var st: ValueState[SampleState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SampleState]("mink",
        org.apache.spark.sql.Encoders.product[SampleState], TTLConfig.NONE)
    override def handleInputRows(key: String,
        rows: Iterator[(String, Long, String)],
        timerValues: TimerValues): Iterator[SampleOut] = {
      val prev = if (st.exists()) st.get().items else Nil
      val merged = (prev ++ rows.map(r => (r._3, r._2)))
        .sorted.take(k)
      st.update(SampleState(merged))
      merged.iterator.zipWithIndex.map { case ((h, id), i) =>
        SampleOut(key, id, h, i + 1L)
      }
    }
  }

  /** Run [[MinKSampleProcessor]] over a (lang, doc_id, sample_key)
    * frame — batch or streaming. */
  def minKSample(docs: DataFrame, k: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    ensureStateStoreCoordinator(s)
    docs.select(col("lang"), col("doc_id"), col("sample_key"))
      .as[(String, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new MinKSampleProcessor(k),
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** One consecutive-pair transition within a user's stream. */
  final case class TransOut(user_id: Long, from_type: String,
      to_type: String, gap_s: Long)

  /** Streaming Markov transitions — `win_transitions`' pair stream as
    * continuous state: per user, remember the LAST
    * (second-truncated epoch, type) seen; each arriving row emits the
    * (from, to, gap) transition from it and becomes the new last.
    * Within a call rows replay in (epoch-second, event_id) order —
    * the batch operator's (tsec, event_id) total order — and across
    * micro-batches the stored last carries, so under event-time-
    * ordered arrival (the stream_cdc contract) the concatenated
    * emissions equal the batch pair stream exactly (asserted across
    * batches in StreamingSpec). State per user is two fields — O(1)
    * at any scale.
    */
  final class TransitionProcessor extends StatefulProcessor[
      Long, (Long, Long, java.sql.Timestamp, String), TransOut] {
    @transient private var st: ValueState[(Long, String)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, String)]("lastevt",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.STRING), TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, java.sql.Timestamp, String)],
        timerValues: TimerValues): Iterator[TransOut] = {
      var last = if (st.exists()) Option(st.get()) else None
      val out = scala.collection.mutable.ArrayBuffer.empty[TransOut]
      rows.toArray
        .sortBy(r => (r._3.toInstant.getEpochSecond, r._2))
        .foreach { r =>
          val es = r._3.toInstant.getEpochSecond
          last.foreach { case (pes, pt) =>
            out += TransOut(key, pt, r._4, es - pes)
          }
          last = Some((es, r._4))
        }
      last.foreach(st.update)
      out.iterator
    }
  }

  /** Run [[TransitionProcessor]] over an events frame — batch or
    * streaming. Returns the raw per-transition stream
    * (user_id, from_type, to_type, gap_s). */
  def transitionStream(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    ensureStateStoreCoordinator(s)
    events.select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"))
      .as[(Long, Long, java.sql.Timestamp, String)]
      .groupByKey(_._1)
      .transformWithState(new TransitionProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** One enriched event: the latest dimension version at-or-before
    * the event's time — NULL dim columns when no version qualifies. */
  final case class AsofEnrichOut(user_id: Long, event_id: Long,
      t_micros: Long, dim_t_micros: Option[Long], dim_key: Option[Long])

  /** Streaming as-of enrichment (r16, the r15 verdict's variant #5) —
    * the one production stream shape the batch as-of family had no
    * streaming counterpart for: enrich each event with the LATEST
    * dimension state at-or-before its event time, as cross-batch
    * state. `stream_join` covers stream-stream equi-join within an
    * interval; this is the temporal-table lookup ("the customer's
    * plan when the event happened", "the price list in force at
    * order time").
    *
    * Semantics per key (= [[graft.operators.AsOf.asofJoin]]'s pinned
    * rules): dimension version with the greatest `t_dim <= t_event`;
    * ties at equal time break to the greatest tie-break id; events
    * with no qualifying version emit NULL dim columns (the LEFT
    * form). Within one call the merged rows replay in (t, tag, tb)
    * order — dims before events at equal time, so at-or-before is
    * inclusive — which makes the one-batch replay over a whole log
    * EXACTLY the batch `asofJoin` (the CORRECTNESS oracle replays the
    * ranked-join SQL). Across micro-batches the version MAP carries,
    * so a batch-2 event still sees a batch-1 dimension version; an
    * event is enriched AT ARRIVAL against the versions seen so far —
    * the same at-arrival contract as [[ZScoreProcessor]] (a dim
    * update arriving AFTER an already-emitted event corrects later
    * events only; a buffered-until-watermark variant would trade
    * state for that reordering window).
    *
    * State = one (time → tie-break) map per key, NOT the event
    * stream: bounded by the dimension's update rate. In event-time
    * mode (`evictBelowWatermark`, streaming callers with a
    * watermark), versions strictly below the newest version at-or-
    * before the watermark are dropped each call — that newest one is
    * the ANCHOR every future in-watermark event still needs (its
    * floor can never be an older version), so eviction is LOSSLESS
    * for the watermark contract while the map tracks the horizon,
    * not history — the bounded-state discipline a 100 TB dimension
    * changelog needs.
    */
  final class AsofEnrichProcessor(evictBelowWatermark: Boolean)
      extends StatefulProcessor[
        Long, (Long, Long, Int, Long, Long), AsofEnrichOut] {
    @transient private var versions: MapState[Long, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      versions = getHandle.getMapState[Long, Long]("versions",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Int, Long, Long)],
        timerValues: TimerValues): Iterator[AsofEnrichOut] = {
      // Local sorted mirror of the version map: floor lookups O(log V)
      // per event instead of an O(V) state-map walk per event. The
      // mirror is rebuilt PER CALL — O(V) per (key, micro-batch), on
      // top of the O(V) the state backend already pays to serve the
      // iterator (r16 verdict #7). The bound that keeps a hot key
      // sane is the eviction below: with event-time eviction on, V is
      // the number of versions inside the watermark window (+1
      // anchor), NOT the dimension's lifetime history — a key whose
      // dimension updates u times per window pays O(u) per batch
      // forever, never O(total updates). Without event-time (the
      // batch replay) there is exactly one call, so the rebuild is
      // the one-time cost of the log replay. A persistent cross-call
      // mirror would have to survive executor loss and task
      // re-scheduling — exactly what the state store already does —
      // so the cheap mirror IS the store plus this bounded rebuild.
      // The many-version hot-key scenario is spec'd in StreamingSpec.
      val tm = new java.util.TreeMap[Long, Long]()
      versions.iterator().foreach { case (t, tb) => tm.put(t, tb) }
      if (evictBelowWatermark) {
        val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
        if (wmUs > 0 && !tm.isEmpty) {
          Option(tm.floorKey(wmUs)).foreach { anchor =>
            val below = tm.headMap(anchor, false)
              .keySet().toArray(Array.empty[java.lang.Long])
            below.foreach { t => tm.remove(t); versions.removeKey(t) }
          }
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[AsofEnrichOut]
      // (t, tag, tb): dims (tag 0) before events at equal time —
      // inclusive at-or-before; micro-batches are unordered within a
      // trigger, the sort is the deterministic arrival-log replay.
      rows.toArray.sortBy(r => (r._2, r._3, r._4)).foreach { r =>
        if (r._3 == 0) {
          // Dimension version: keep the greatest tie-break per time.
          if (!tm.containsKey(r._2) || tm.get(r._2) < r._4) {
            tm.put(r._2, r._4)
            versions.updateValue(r._2, r._4)
          }
        } else {
          val fe = tm.floorEntry(r._2)
          out += (if (fe == null) AsofEnrichOut(key, r._5, r._2, None, None)
            else AsofEnrichOut(key, r._5, r._2,
              Some(fe.getKey), Some(fe.getValue)))
        }
      }
      out.iterator
    }
  }

  /** One per-user funnel snapshot: how far the user has progressed
    * (stage = highest consecutive step reached, 0..N), the first-step
    * time, and end-to-end seconds once the LAST step is reached. */
  final case class FunnelOut(user_id: Long, stage: Long,
      t_first: Option[Long], secs: Option[Long])

  /** Funnel state: `ts(k)` = the time step k+1 first qualified; 0 =
    * not yet (event times are positive epoch seconds). Stages fill
    * strictly in order, so the stage IS the set prefix length. */
  final case class FunnelState(ts: Array[Long])

  /** Streaming ordered conversion funnel (r17, r16 verdict #3) — the
    * last batch window-family member (`win_funnel`) with no streaming
    * counterpart. Semantics per user (= [[graft.operators.WindowOps
    * .funnelTimes]]'s pinned rules): t1 = first step-1 event; t_k =
    * first step-k event STRICTLY after t_{k-1} and within `windowSec`
    * of it — order AND recency enforced.
    *
    * The batch form computes this as N chained window-min passes; the
    * stream computes the SAME fixpoint as a single time-ordered fold,
    * because each t_k is the EARLIEST qualifying event and a
    * time-ordered replay meets candidates in exactly min-first order:
    * when an event for step k arrives, t_{k-1} is already final (any
    * event that could set it is strictly earlier), so first-match =
    * window-min. Within a call rows replay in (es, event_id) order —
    * the batch total order; across micro-batches the stage-time
    * vector carries, so a batch-2 click still measures against the
    * batch-1 view (asserted in StreamingSpec). One-batch replay over
    * the whole log therefore EQUALS the batch funnel exactly (the
    * CORRECTNESS oracle replays win_funnel's chained-window SQL).
    * Arrival is at-arrival like [[AsofEnrichProcessor]]: under
    * event-time-ordered arrival (the stream_cdc contract) the fold is
    * exact; a late event that would lower an already-used t_k corrects
    * nothing retroactively.
    *
    * State per user = N epoch-second longs (N = funnel length, 3
    * here) — O(1) at any scale, no eviction needed; 100 TB cost is
    * the one user_id shuffle the input already pays. Each call emits
    * the user's UPDATED snapshot (an upsert stream — latest row per
    * user is the funnel; the batch key's single call emits exactly
    * one row per user).
    */
  final class FunnelProcessor(steps: Int, windowSec: Long)
      extends StatefulProcessor[Long, (Long, Long, Int, Long), FunnelOut] {
    @transient private var st: ValueState[FunnelState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[FunnelState]("funnel",
        org.apache.spark.sql.Encoders.product[FunnelState], TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Int, Long)],
        timerValues: TimerValues): Iterator[FunnelOut] = {
      val ts = if (st.exists()) st.get().ts else Array.fill(steps)(0L)
      // (es, event_id): the batch operator's total order — the
      // deterministic arrival-log replay within a micro-batch.
      // MEMORY BOUND (r17 advice): the sort buffers ONE KEY'S rows of
      // ONE MICRO-BATCH — O(user's events per trigger interval), the
      // steady-state streaming bound. The one-batch REPLAY the driver
      // key runs is the deliberate worst case (a user's entire history
      // in a single call, like every other batch-mode window over the
      // same shuffle); a pathological hot user at 100 TB is a
      // micro-batch-sizing concern (shorter triggers shrink the
      // per-call buffer), not an unbounded-state one — the CARRIED
      // state stays N longs regardless.
      rows.toArray.sortBy(r => (r._2, r._4)).foreach { r =>
        val k = r._3
        if (k >= 0 && k < steps && ts(k) == 0L &&
          (k == 0 || (ts(k - 1) != 0L && r._2 > ts(k - 1) &&
            r._2 <= ts(k - 1) + windowSec)))
          ts(k) = r._2
      }
      st.update(FunnelState(ts))
      val stage = ts.takeWhile(_ != 0L).length
      Iterator.single(FunnelOut(key, stage.toLong,
        if (ts(0) != 0L) Some(ts(0)) else None,
        if (ts(steps - 1) != 0L) Some(ts(steps - 1) - ts(0)) else None))
    }
  }

  /** Run [[FunnelProcessor]] over an event frame
    * `(user_id, es, step, event_id)` — es in epoch seconds, step =
    * 0-based funnel index or -1 for a non-step event. Non-step rows
    * advance nothing but DO enroll their user in the snapshot
    * population (win_funnel's stage-0 bucket counts users with no
    * qualifying first step). A caller that only needs step-event
    * users can pre-filter and shrink the shuffle; the driver key
    * keeps all events for exact batch parity — the same event-sized
    * user_id shuffle the batch window operator pays. Batch or
    * streaming. Returns the per-user snapshot stream
    * (user_id, stage, t_first, secs).
    *
    * DOMAIN: event times must be POSITIVE epoch seconds — 0 is the
    * state vector's "stage not reached" sentinel, so an es <= 0 event
    * could never fill a slot and would silently diverge from the
    * batch funnel (r17 advice). Enforced here with a filter rather
    * than a require: a require inside the fold would fail the whole
    * streaming query on one corrupt row, while the filter makes the
    * domain part of the operator's contract — rows at or before the
    * 1970 epoch are out of domain for BOTH the step fold and the
    * stage-0 enrollment, and the spec pins that an es=0 row neither
    * wedges a slot nor enrolls its user.
    */
  def funnelStream(stepEvents: DataFrame, steps: Int,
      windowSec: Long): DataFrame = {
    val s = stepEvents.sparkSession
    import s.implicits._
    ensureStateStoreCoordinator(s)
    stepEvents
      .select(col("user_id"), col("es"), col("step").cast("int"),
        col("event_id"))
      .filter(col("es") > 0)
      .as[(Long, Long, Int, Long)]
      .groupByKey(_._1)
      .transformWithState(new FunnelProcessor(steps, windowSec),
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** One per-user retention snapshot: the user's cohort week (their
    * first active week), every week-OFFSET at which they were active
    * (0 = the cohort week itself; sorted, distinct), and a per-user
    * monotone call counter for latest-snapshot dedup downstream.
    */
  final case class RetentionOut(user_id: Long, seq: Long, cohort: Long,
      offsets: Array[Long])

  /** Retention state: `seq` = handleInputRows call count (monotone per
    * user), `cohort` = first active week, `mask` = seen-offset bitmask
    * (bit k of the flattened words ⇔ the user was active in week
    * cohort + k). `words` longs ⇒ 64·words trackable offsets.
    */
  final case class RetentionState(seq: Long, cohort: Long, mask: Array[Long])

  /** Pure core of [[RetentionProcessor.handleInputRows]]: carried
    * (cohort, mask) state ∪ a batch's weeks → the updated (cohort,
    * mask) plus the decoded sorted offsets. Decode the carried mask to
    * absolute weeks, union, re-encode against the (possibly
    * shifted-down) cohort. Factored out so PropertySpec can pin the
    * fold algebra — a set union: commutative, idempotent, and
    * therefore chunking/arrival-order independent — without a
    * streaming harness; the key identifies the user in the
    * capacity-overrun message only.
    */
  private[graft] def retentionMerge(prev: Option[(Long, Array[Long])],
      newWeeks: IterableOnce[Long], words: Int,
      key: Long): (Long, Array[Long], Array[Long]) = {
    val weeks = scala.collection.mutable.SortedSet.empty[Long]
    prev.foreach { case (cohort0, mask0) =>
      var i = 0
      while (i < mask0.length * 64) {
        if (((mask0(i >> 6) >>> (i & 63)) & 1L) == 1L) weeks += cohort0 + i
        i += 1
      }
    }
    newWeeks.iterator.foreach(weeks += _)
    val cohort = weeks.head
    val mask = new Array[Long](words)
    weeks.foreach { wk =>
      val off = wk - cohort
      require(off < words * 64L,
        s"retention mask capacity exceeded for user $key: offset $off >= " +
          s"${words * 64} weeks — size `words` to the corpus span")
      mask((off >> 6).toInt) |= 1L << (off & 63)
    }
    (cohort, mask, weeks.iterator.map(_ - cohort).toArray)
  }

  /** Streaming cohort retention (r18, r17 verdict #4) — the last batch
    * window-family member (`win_retention`) with no streaming
    * counterpart. Semantics per user (= [[graft.operators.WindowOps
    * .retentionTriangle]]): cohort = min active week, and for every
    * active week the offset (week − cohort) is marked once.
    *
    * Unlike the funnel — whose chained-window fixpoint is only exact
    * under event-time-ordered arrival — the retention fold is a pure
    * SET UNION ([[retentionMerge]]): (cohort, mask) merged with new
    * weeks is commutative and idempotent, so ANY arrival order
    * converges to the batch triangle, including a batch-2 event
    * EARLIER than the carried cohort (the cohort shifts down and
    * every carried offset re-bases against it — spec'd in
    * StreamingSpec; the algebra itself is property-pinned in
    * PropertySpec). No per-call sorting is needed for the same
    * reason, so the per-call buffer is just the decoded state
    * (≤ 64·words offsets), never the row iterator.
    *
    * State per user = `words`+2 longs (the driver key's 1-word mask =
    * 64 offset weeks ≈ 15 months of per-user tracking; size `words`
    * to the corpus span — capacity overrun throws rather than
    * silently dropping a return week, which would diverge from the
    * batch triangle). O(1) at any scale, no eviction needed; 100 TB
    * cost is the one user_id shuffle the input already pays.
    */
  final class RetentionProcessor(words: Int)
      extends StatefulProcessor[Long, (Long, Long), RetentionOut] {
    require(words >= 1)
    @transient private var st: ValueState[RetentionState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[RetentionState]("retention",
        org.apache.spark.sql.Encoders.product[RetentionState], TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[RetentionOut] = {
      val prev = if (st.exists()) Some(st.get()) else None
      val (cohort, mask, offsets) = retentionMerge(
        prev.map(p => (p.cohort, p.mask)), rows.map(_._2), words, key)
      val seq = prev.map(_.seq).getOrElse(0L) + 1
      st.update(RetentionState(seq, cohort, mask))
      Iterator.single(RetentionOut(key, seq, cohort, offsets))
    }
  }

  /** Run [[RetentionProcessor]] over an activity frame
    * `(user_id, week)` — week = the integer week index win_retention
    * buckets by (days since the Monday 1970-01-05, integer div 7).
    * Raw event rows are fine: the bitmask dedups (user, week)
    * activity for free, so no upstream distinct is needed. Batch or
    * streaming. Returns the per-user snapshot stream
    * (user_id, seq, cohort, offsets).
    */
  def retentionStream(activity: DataFrame, words: Int = 1): DataFrame = {
    val s = activity.sparkSession
    import s.implicits._
    ensureStateStoreCoordinator(s)
    activity
      .select(col("user_id"), col("week"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RetentionProcessor(words),
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Run [[AsofEnrichProcessor]] over a tagged union frame
    * `(k, t, tag, tb, eid)` — t in µs; tag 0 = dimension version
    * (tb = tie-break id), tag 1 = event (eid = event id). Batch or
    * streaming; `eventTime = true` (streaming callers — the source
    * must carry a watermark) turns on the anchor-preserving
    * below-watermark version eviction.
    */
  def asofEnrichState(tagged: DataFrame, eventTime: Boolean): DataFrame = {
    val s = tagged.sparkSession
    import s.implicits._
    ensureStateStoreCoordinator(s)
    tagged
      .select(col("k"), col("t"), col("tag").cast("int"), col("tb"),
        col("eid"))
      .as[(Long, Long, Int, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new AsofEnrichProcessor(eventTime),
        if (eventTime) TimeMode.EventTime() else TimeMode.None(),
        OutputMode.Append())
      .toDF()
  }

  val queries: Map[String, Q] = Map(
    // Tumbling 1-hour windows: identical in readStream mode.
    "stream_tumbling" -> ((s, d) =>
      T.events(s, d)
        .groupBy(window(tsec, "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
             // long cents in the buffer (r18 — AggOps.agg_group's
             // rationale; a per-(window, type) cents sum is bounded)
             T.moneyLong(sum(T.scaledLong(col("value"), 4, "value")), 4)
               .as("sum_value"))
        .select(T.tstr(col("w.start")).as("win_start"), col("event_type"),
                col("n"), col("sum_value"))
        .orderBy("win_start", "event_type")),

    // Sliding 1-hour windows every 15 min — rows belong to 4 windows.
    // Oracle mirrors the membership rule directly: each event lands in
    // the 4 epoch-aligned 15-min buckets at/preceding it.
    "stream_sliding" -> ((s, d) =>
      T.events(s, d)
        .groupBy(window(tsec, "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(T.tstr(col("w.start")).as("win_start"), col("n"))
        .orderBy("win_start")),

    // Session windows, 30-min gap. Spark's session interval is CLOSED
    // on the right: a gap of exactly 30 min still merges; only gap >
    // 30 min starts a new session (pinned in SURVEY.md §7.4.4, asserted
    // in StreamingSpec) — the oracle's gaps-and-islands uses > to match.
    "stream_session" -> ((s, d) =>
      T.events(s, d)
        .withColumn("tss", tsec)
        .groupBy(session_window(col("tss"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
             min(col("tss")).as("t0"), max(col("tss")).as("t1"))
        .select(col("user_id"), T.tstr(col("t0")).as("session_start"),
                col("n_events"),
                (unix_timestamp(col("t1")) - unix_timestamp(col("t0")))
                  .as("span_sec"))
        .orderBy("user_id", "session_start")),

    // Exact dedup — in readStream mode the same call maintains a
    // watermark-bounded state store of seen keys. Dedup on ALL emitted
    // columns: dropDuplicates("event_id") alone keeps an arbitrary
    // (user_id, event_type) per key, which only matches the DISTINCT
    // oracle while event_id happens to be unique in the testdata.
    "stream_dedup" -> ((s, d) =>
      T.events(s, d)
        .select("event_id", "user_id", "event_type")
        .dropDuplicates("event_id", "user_id", "event_type")
        .orderBy("event_id", "user_id", "event_type")),

    // Watermark + tumbling agg: batch mode ignores the watermark (this
    // oracle-checks the aggregation); late-data drop is asserted in
    // StreamingSpec over MemoryStream.
    "stream_watermark" -> ((s, d) =>
      T.events(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(tsec, "10 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(T.tstr(col("w.start")).as("win_start"), col("n"))
        .orderBy("win_start")),

    // Stream-stream interval join: purchases matched to a prior click
    // by the same user within 30 minutes — THE canonical two-stream
    // join (equi-key + event-time range). In readStream mode the same
    // join with `withWatermark` on BOTH sides bounds each side's state
    // buffer to the interval + watermark (asserted over MemoryStreams
    // in StreamingSpec); in batch it oracle-checks as a plain
    // equi+range join. Equi-key first: Spark plans SMJ/SHJ on user_id
    // with the time range as residual — never a nested-loop product
    // (PlanSpec's no-cartesian sweep covers this key automatically).
    "stream_join" -> ((s, d) => {
      val e = T.events(s, d).withColumn("tss", tsec)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("tss").as("click_ts"))
      val buys = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("b_user"), col("event_id").as("buy_id"),
          col("tss").as("buy_ts"))
      clicks.join(buys, col("user_id") === col("b_user") &&
          col("buy_ts") >= col("click_ts") &&
          col("buy_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
        .select(col("user_id"), col("click_id"), col("buy_id"),
          T.tstr(col("click_ts")).as("click_ts"),
          T.tstr(col("buy_ts")).as("buy_ts"))
        .orderBy("user_id", "click_id", "buy_id")
    }),

    // Arbitrary stateful processing: running per-user event count via
    // transformWithState (r8 — Spark 4's forward stateful API: named
    // state variables, timers, TTL), carrying custom state across
    // micro-batches. StreamingSpec asserts its cross-batch behavior and
    // its agreement with a flatMapGroupsWithState reference.
    "stream_stateful" -> ((s, d) =>
      runningCountsTWS(T.events(s, d)).orderBy("user_id")),

    // Continuously-decayed trending counts (r15): agg_decay as
    // cross-batch state — see [[DecayProcessor]] for the bounded
    // 51-day map-state design and the per-type-reference survivor
    // rule. One-batch replay over the whole log ≡ the per-type batch
    // decay, which is what the oracle replays; cross-batch bridging
    // and the lossless horizon eviction are MemoryStream-spec'd.
    "stream_decay" -> ((s, d) =>
      decayState(T.events(s, d).select(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .as("day")))
        .orderBy("event_type")),

    // Windowed top-k (r9): trending items per tumbling window — the
    // dashboard query every event stream serves ("top event types this
    // quarter hour"). Batch form = windowed two-phase count + a
    // per-window rank over ≤ |distinct types| counted rows (the
    // agg_mode economics: the rank window never sees raw events). In
    // readStream mode the SAME windowed aggregate runs incrementally
    // with a watermark; the rank is a per-emitted-window re-sort in
    // foreachBatch — k·|windows| state, not event state.
    "stream_topk" -> ((s, d) => {
      val counts = T.events(s, d)
        .groupBy(window(tsec, "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      counts.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("w")
            .orderBy(col("n").desc, col("event_type").asc)))
        .filter(col("rk") <= 3)
        .select(T.tstr(col("w.start")).as("win_start"),
          col("rk").cast("long").as("rk"), col("event_type"), col("n"))
        .orderBy("win_start", "rk")
    }),

    // Streaming MinHash near-dup (r11): is this incoming doc a
    // near-copy of ANYTHING already seen? Band postings from a
    // cross-engine-replayable minhash (48-bit md5 base — DuckDB
    // replays it bit-for-bit; since r12 the same battery as the batch
    // dedup_minhash), first-seen bucket owners in O(1)-per-bucket
    // state, per-doc any-hit fold. Batch run = one micro-batch over
    // the doc_id-ordered log; cross-batch recall and watermark
    // eviction are the StreamingSpec scenarios.
    "stream_neardup" -> ((s, d) =>
      nearDupFlags(graft.T.documents(s, d)).orderBy("doc_id")),

    // Streaming corpus curation (r12): the continuous-ingest
    // composition — quality gate → first-seen digest dedup →
    // first-seen band-owner near-dup drop — as one driver-facing key
    // over the doc_id-ordered arrival log (see [[curateStream]] for
    // the batch-vs-stream survivor-rule contrast).
    "stream_curate" -> ((s, d) =>
      curateStream(graft.T.documents(s, d), minQuality = 1.0)
        .select(col("doc_id"), col("lang"), col("quality"), col("n_tokens"))
        .orderBy("doc_id")),

    // Streaming z-score anomaly ([[ZScoreProcessor]]): each value
    // judged against its user's history AT ARRIVAL — three exact
    // numbers of state per user. Batch run = one micro-batch over the
    // event-time-ordered log; cross-batch moment carry is the
    // StreamingSpec scenario.
    "stream_anomaly" -> ((s, d) =>
      zscoreStream(T.events(s, d)).orderBy("user_id", "rn")),

    // Streaming exact-k stratified sample ([[MinKSampleProcessor]]):
    // min-k-by-hash per lang — order-independent, so the stream
    // CONVERGES to the batch sample_stratified_k draw (same md5
    // contract, k = 50). Batch run = one micro-batch over the doc
    // log; cross-batch convergence is the StreamingSpec scenario.
    "stream_sample" -> ((s, d) =>
      minKSample(
        graft.T.documents(s, d).withColumn("sample_key",
          md5(concat_ws(":", col("doc_id"), lit(42)))), k = 50)
        .orderBy("lang", "rk")),

    // Streaming Markov transitions ([[TransitionProcessor]]): per
    // user the last (epoch-second, type) carries as O(1) state, each
    // arrival emits its (from, to, gap) edge; the key aggregates the
    // pair stream into the win_transitions matrix (same exact-DECIMAL
    // gap sums, same division) — one micro-batch over the whole log
    // IS the batch matrix, so the oracle replays the batch SQL;
    // cross-batch continuation is the StreamingSpec scenario.
    "stream_transitions" -> ((s, d) =>
      transitionStream(T.events(s, d))
        .groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n"),
          sum(col("gap_s").cast(
            org.apache.spark.sql.types.DecimalType(19, 0))).as("g"))
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("g").cast("double") / col("n").cast("double"), 6)
            .as("avg_gap_s"))
        .orderBy("from_type", "to_type")),

    // Streaming as-of enrichment ([[AsofEnrichProcessor]]): each
    // event gets the latest URGENT order of its user at-or-before the
    // event time — join_asof_left's exact semantics computed as
    // cross-batch temporal-table state. Batch run = one micro-batch
    // over the whole log (≡ the batch asofJoin; the oracle replays
    // the ranked-join SQL); cross-batch version carry and the
    // anchor-preserving watermark eviction are the StreamingSpec
    // scenarios.
    "stream_asof" -> ((s, d) => {
      val dims = T.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("k"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("t"),
          lit(0).as("tag"), col("o_orderkey").as("tb"),
          lit(0L).as("eid"))
      val evs = T.events(s, d)
        .select(col("user_id").as("k"), unix_micros(tsec).as("t"),
          lit(1).as("tag"), lit(0L).as("tb"), col("event_id").as("eid"))
      asofEnrichState(dims.unionByName(evs), eventTime = false)
        .select(col("event_id"),
          T.tstr(timestamp_micros(col("t_micros"))).as("event_ts"),
          col("dim_key").as("o_orderkey"),
          T.dstr(timestamp_micros(col("dim_t_micros"))).as("order_date"))
        .orderBy("event_id")
    }),

    // Streaming ordered conversion funnel ([[FunnelProcessor]]): how
    // far each user has progressed through view → click → purchase
    // (order + 1-day per-step window enforced), as N-long cross-batch
    // state per user. One micro-batch over the whole log ≡ the batch
    // win_funnel (the oracle replays its chained-window SQL);
    // cross-batch stage carry and restart recovery are the
    // StreamingSpec scenarios. The per-user max() collapse before the
    // stage count (r17 advice #4) dedups the append-mode snapshot
    // stream to each user's LATEST state — snapshots are monotone
    // (stage only grows; t_first/secs are write-once, so max over
    // nulls-then-value is the final value) — making the aggregation
    // exact in a true multi-batch run too, where a user emits one
    // snapshot per batch they appear in. In the one-batch replay each
    // user has exactly one snapshot and the collapse is the identity.
    // Cost: one extra USER-SIZED exchange (the object boundary around
    // the state op rebuilds the columns, so Catalyst can't prove the
    // snapshot stream is still user_id-partitioned) — snapshot rows,
    // never event rows; PlanSpec pins the exchange count.
    "stream_funnel" -> ((s, d) => {
      val steps = Seq("view", "click", "purchase")
      val stepCol = steps.zipWithIndex.foldLeft(lit(-1)) {
        case (acc, (st, i)) => when(col("event_type") === st, i).otherwise(acc)
      }
      funnelStream(
        T.events(s, d).select(col("user_id"),
          unix_timestamp(tsec).as("es"), stepCol.as("step"),
          col("event_id")),
        steps.size, windowSec = 86400L)
        .groupBy("user_id")
        .agg(max(col("stage")).as("stage"), max(col("secs")).as("secs"))
        .groupBy("stage")
        .agg(count(lit(1)).as("n_users"),
          round(avg(col("secs")), 2).as("avg_secs_view_to_purchase"))
        .orderBy("stage")
    }),

    // Streaming cohort retention ([[RetentionProcessor]]): users
    // bucketed by their first active week, counted at each later
    // week-offset they return — win_retention's triangle as
    // cross-batch per-user state (cohort + a one-long offset
    // bitmask). The retention fold is ORDER-INDEPENDENT (a set
    // union), so the stream converges to the batch triangle under any
    // batch split, including out-of-order arrival (the oracle replays
    // win_retention's integer-week SQL); cross-batch carry, the
    // cohort shift, restart recovery, and mask capacity are the
    // StreamingSpec scenarios. The max(struct(seq,…)) collapse keeps
    // each user's LATEST snapshot (seq = per-user call counter), so
    // the triangle agg is exact in multi-batch runs too — one extra
    // user-SIZED exchange (snapshot rows, never event rows; PlanSpec
    // pins the exchange count).
    "stream_retention" -> ((s, d) =>
      retentionStream(T.events(s, d).select(col("user_id"),
          expr("datediff(to_date(date_trunc('second', ts)), " +
            "date '1970-01-05') div 7").cast("long").as("week")))
        .groupBy("user_id")
        .agg(max(struct(col("seq"), col("cohort"), col("offsets"))).as("m"))
        .select(col("m.cohort").as("cohort_week"),
          explode(col("m.offsets")).as("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "week_offset")),

    // Streaming CDC upsert ([[CdcProcessor]]): 'error' deletes the
    // key, anything else upserts value; last (event-time, event_id)
    // wins. Batch run = one micro-batch over the whole changelog;
    // cross-batch retraction is the StreamingSpec scenario.
    "stream_cdc" -> ((s, d) =>
      cdcState(T.events(s, d).select(col("user_id"),
          unix_micros(col("ts")).as("seq"), col("event_id"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          col("value")))
        .select(col("user_id"),
          date_format(timestamp_micros(col("seq_micros")),
            "yyyy-MM-dd HH:mm:ss").as("last_ts"),
          col("bal"))
        .orderBy("user_id"))
  )

  val oracle: Map[String, String] = Map(
    // One-batch replay of the temporal-table enrichment IS the batch
    // left as-of join — the same ranked replay join_asof_left uses
    // (events ts carries no sub-second in the fixture, so the
    // second-truncated stream time compares identically).
    "stream_asof" ->
      """WITH j AS (
        |  SELECT event_id, ts, o_orderkey, o_orderdate,
        |    row_number() OVER (PARTITION BY event_id
        |      ORDER BY o_orderdate DESC NULLS LAST,
        |               o_orderkey DESC NULLS LAST) AS rn
        |  FROM events LEFT JOIN (
        |    SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
        |    ON user_id = o.o_custkey
        |       AND o.o_orderdate <= date_trunc('second', ts))
        |SELECT event_id,
        |       strftime(date_trunc('second', ts),
        |                '%Y-%m-%d %H:%M:%S') AS event_ts,
        |       o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,
    // One-batch replay of the stateful funnel fold IS the batch
    // chained-window funnel — win_funnel's oracle SQL verbatim.
    "stream_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS es
        |  FROM events),
        |w1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN es END)
        |         OVER (PARTITION BY user_id) AS t1 FROM e),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND es > t1
        |                          AND es <= t1 + 86400 THEN es END)
        |         OVER (PARTITION BY user_id) AS t2 FROM w1),
        |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND es > t2
        |                          AND es <= t2 + 86400 THEN es END)
        |         OVER (PARTITION BY user_id) AS t3 FROM w2),
        |u AS (SELECT user_id, min(t1) AS t1, min(t2) AS t2, min(t3) AS t3
        |      FROM w3 GROUP BY 1),
        |st AS (SELECT user_id,
        |         CAST(CASE WHEN t3 IS NOT NULL THEN 3
        |                   WHEN t2 IS NOT NULL THEN 2
        |                   WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
        |              AS BIGINT) AS stage,
        |         t3 - t1 AS secs
        |       FROM u)
        |SELECT stage, count(*) AS n_users,
        |       CAST(round(avg(secs), 2) AS DOUBLE)
        |         AS avg_secs_view_to_purchase
        |FROM st GROUP BY stage ORDER BY stage""".stripMargin,
    // One-batch replay of the stateful set-union fold IS the batch
    // retention triangle — win_retention's integer-week SQL verbatim
    // (same fixed-Monday week bucketing; rows unique per (user, week)
    // after the bitmask dedup, so count(*) = distinct users).
    "stream_retention" ->
      """WITH uw AS (
        |  SELECT user_id,
        |    datediff('day', DATE '1970-01-05',
        |      CAST(date_trunc('second', ts) AS DATE)) // 7 AS week
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT user_id, week,
        |    min(week) OVER (PARTITION BY user_id) AS cohort
        |  FROM uw)
        |SELECT cohort AS cohort_week, week - cohort AS week_offset,
        |       count(*) AS n_users
        |FROM c GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,
    "stream_tumbling" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       event_type, count(*) AS n,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    "stream_session" ->
      """WITH t AS (
        |  SELECT user_id, date_trunc('second', ts) AS tss FROM events),
        |m AS (
        |  SELECT user_id, tss,
        |    CASE WHEN lag(tss) OVER w IS NULL
        |           OR tss - lag(tss) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tss)),
        |g AS (
        |  SELECT user_id, tss,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY tss
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id,
        |       strftime(min(tss), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       count(*) AS n_events,
        |       CAST(floor(epoch(max(tss))) AS BIGINT)
        |         - CAST(floor(epoch(min(tss))) AS BIGINT) AS span_sec
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "stream_sliding" ->
      """WITH e AS (SELECT date_trunc('second', ts) AS tss FROM events),
        |w AS (SELECT time_bucket(INTERVAL '15 minutes', tss)
        |             - k.k * INTERVAL '15 minutes' AS ws
        |      FROM e CROSS JOIN (SELECT unnest(range(4)) AS k) k)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, count(*) AS n
        |FROM w GROUP BY 1 ORDER BY win_start""".stripMargin,
    "stream_dedup" ->
      """SELECT DISTINCT event_id, user_id, event_type FROM events
        |ORDER BY event_id, user_id, event_type""".stripMargin,
    "stream_watermark" ->
      """SELECT strftime(time_bucket(INTERVAL '10 minutes',
        |         date_trunc('second', ts)), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       count(*) AS n
        |FROM events GROUP BY 1 ORDER BY win_start""".stripMargin,
    // Per-TYPE reference day (the per-key stream can only know its own
    // key's clock — see DecayProcessor); otherwise agg_decay's exact
    // integer-weight program.
    "stream_decay" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day FROM events),
        |ref AS (SELECT event_type, max(day) AS ref_day FROM ev GROUP BY 1),
        |aged AS (
        |  SELECT e.event_type, date_diff('day', e.day, r.ref_day) AS age
        |  FROM ev e JOIN ref r USING (event_type))
        |SELECT event_type, count(*) AS n_events,
        |  round(CAST(sum(CASE WHEN age BETWEEN 0 AND 50
        |      THEN CAST(1 AS BIGINT) << CAST(50 - age AS INT)
        |      ELSE CAST(0 AS BIGINT) END) AS DOUBLE)
        |    / 1125899906842624.0, 6) AS decayed_count
        |FROM aged GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_stateful" ->
      """SELECT user_id, count(*) AS n_events FROM events
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_topk" ->
      """WITH c AS (
        |  SELECT time_bucket(INTERVAL '15 minutes',
        |           date_trunc('second', ts)) AS ws,
        |         event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT ws, event_type, n,
        |         row_number() OVER (PARTITION BY ws
        |           ORDER BY n DESC, event_type ASC) AS rk
        |  FROM c)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start,
        |       rk, event_type, n
        |FROM r WHERE rk <= 3
        |ORDER BY win_start, rk""".stripMargin,

    // The prefix-moment replay of [[ZScoreProcessor]]: the 1-PRECEDING
    // frame gives each row exactly the Σ/Σ²/count its arrival saw
    // (exact DECIMAL — the processor's BigDecimal state holds the
    // same rationals, so the double images match bit-for-bit); the
    // same mean/variance/σ program, the same σ > 0 and 3σ gates, the
    // same warm-up (np >= 8). Width 19 forces DuckDB's int128
    // multiply path (the agg_corr note).
    "stream_anomaly" ->
      """WITH b AS (
        |  SELECT user_id, event_id, ts, value,
        |         row_number() OVER w AS rn,
        |         count(*) OVER wp AS np,
        |         sum(CAST(value AS DECIMAL(19,4))) OVER wp AS s,
        |         sum(CAST(value AS DECIMAL(19,4))
        |             * CAST(value AS DECIMAL(19,4))) OVER wp AS ss
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |         wp AS (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |c AS (
        |  SELECT user_id, rn, ts, value,
        |         CAST(np AS DOUBLE) AS nd,
        |         CAST(s AS DOUBLE) AS sd, CAST(ss AS DOUBLE) AS ssd
        |  FROM b WHERE np >= 8),
        |v AS (
        |  SELECT user_id, rn, ts, value, sd / nd AS mu,
        |         sqrt(greatest((ssd - sd * sd / nd) / (nd - 1.0), 0.0))
        |           AS sigma
        |  FROM c)
        |SELECT user_id, rn,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS t, value,
        |       round((value - mu) / sigma, 6) AS z
        |FROM v WHERE sigma > 0 AND abs(value - mu) > 3.0 * sigma
        |ORDER BY user_id, rn""".stripMargin,

    // min-k over a hash is order-independent, so the streamed state
    // after the whole log IS the batch draw: the oracle is the
    // sample_stratified_k ranking at k = 50 (same md5(doc_id:42)
    // contract, doc_id tiebreak).
    "stream_sample" ->
      """WITH h AS (
        |  SELECT lang, doc_id,
        |         md5(concat_ws(':', doc_id, 42)) AS sample_key
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id, sample_key,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY sample_key, doc_id) AS rk
        |  FROM h)
        |SELECT lang, doc_id, sample_key, rk
        |FROM r WHERE rk <= 50 ORDER BY lang, rk""".stripMargin,

    // Bit-for-bit replay of the portable minhash banding: same token
    // 3-gram shingles (the duckNgramCtes construction), same 48-bit
    // md5-prefix base hash ('0x…'::BIGINT — HUGEINT would reject the
    // literal), same 16 affine transforms masked to 48 bits (products
    // < 2⁶², exact in BIGINT on both engines), same 8 band keys of 2
    // row-minima each; min-over-bucket replays the first-seen owner
    // (arrival = doc_id order in the batch image). Docs under 3
    // tokens post nothing and restore via the left join.
    "stream_neardup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |     for i in range(1, len(toks) - 1)])) AS sh
        |  FROM t),
        |h AS (SELECT doc_id,
        |        ('0x' || substring(md5(sh), 1, 12))::BIGINT AS u48
        |      FROM sh),
        |p AS (SELECT unnest(range(16)) AS i),
        |m AS (SELECT doc_id, i,
        |        min(((2 * i + 3) * u48 + 1000003 * i)
        |            & 281474976710655) AS m
        |      FROM h CROSS JOIN p GROUP BY doc_id, i),
        |bk AS (SELECT doc_id,
        |         CAST(i // 2 AS VARCHAR) || ':' ||
        |           string_agg(CAST(m AS VARCHAR), ':' ORDER BY i) AS bkey
        |       FROM m GROUP BY doc_id, i // 2),
        |hits AS (SELECT doc_id,
        |           doc_id > min(doc_id) OVER (PARTITION BY bkey) AS hit
        |         FROM bk),
        |per AS (SELECT doc_id,
        |          CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
        |            AS n_hit_bands
        |        FROM hits GROUP BY doc_id)
        |SELECT d.doc_id AS doc_id,
        |       coalesce(n_hit_bands, 0) AS n_hit_bands,
        |       coalesce(n_hit_bands, 0) > 0 AS near_dup
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Composes the already-proven replays: text_quality's rounded
    // score, the first-seen digest window, and stream_neardup's
    // band-owner fold (via the shared duckNgramCtes/duckMinhashCandCtes
    // chains rebuilt over the exact-dedup survivors `ex` — the
    // corpus_curate parameterization; the unused jac/cand CTEs cost
    // nothing, DuckDB never plans unreferenced CTEs). A doc survives
    // iff its quality clears the gate, it is the first arrival of its
    // digest, and NONE of its 8 bands hits an earlier-owned bucket.
    "stream_curate" ->
      s"""WITH q0 AS (
        |  SELECT doc_id, lang, text, string_split(text, ' ') AS toks
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, lang, text,
        |    round(ln(len(toks) + 1)
        |      * (1 - len(list_filter(toks, s -> s IN
        |          ('the', 'a', 'of', 'and', 'to', 'in')))::DOUBLE / len(toks))
        |      * (len(list_distinct(toks))::DOUBLE / len(toks)), 4) AS quality
        |  FROM q0),
        |ex AS (
        |  SELECT doc_id, lang, text, quality FROM (
        |    SELECT *, row_number() OVER (
        |        PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
        |    FROM q WHERE quality >= 1.0)
        |  WHERE rn = 1),
        |${graft.llm.LlmDedup.duckNgramCtes("ex")},
        |${graft.llm.LlmDedup.duckMinhashCandCtes},
        |hits AS (SELECT doc_id,
        |           doc_id > min(doc_id) OVER (PARTITION BY bkey) AS hit
        |         FROM bk),
        |per AS (SELECT doc_id,
        |          CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
        |            AS n_hit
        |        FROM hits GROUP BY doc_id)
        |SELECT e.doc_id AS doc_id, e.lang AS lang, e.quality AS quality,
        |       len(string_split(e.text, ' ')) AS n_tokens
        |FROM ex e LEFT JOIN per USING (doc_id)
        |WHERE coalesce(n_hit, 0) = 0
        |ORDER BY e.doc_id""".stripMargin,

    // The batch image of the carried-last-event fold over one
    // micro-batch IS the win_transitions matrix: same (tsec,
    // event_id) lag order, same exact-DECIMAL gap sums, same
    // division.
    "stream_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    date_trunc('second', ts) AS tsec,
        |    CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS es
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER w AS from_type,
        |    es - lag(es) OVER w AS gap_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
        |m AS (
        |  SELECT from_type, event_type AS to_type,
        |    count(*) AS n,
        |    sum(CAST(gap_s AS DECIMAL(19,0))) AS g
        |  FROM f WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |       round(CAST(g AS DOUBLE) / CAST(n AS DOUBLE), 6) AS avg_gap_s
        |FROM m ORDER BY from_type, to_type""".stripMargin,

    // The batch image of the stateful fold: last change per key by
    // (ts, event_id), deletes suppressed.
    "stream_cdc" ->
      """WITH last AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id,
        |       strftime(date_trunc('second', ts),
        |                '%Y-%m-%d %H:%M:%S') AS last_ts,
        |       value AS bal
        |FROM last WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    "stream_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         date_trunc('second', ts) AS tss FROM events),
        |c AS (SELECT user_id, event_id AS click_id, tss AS click_ts
        |      FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id AS b_user, event_id AS buy_id, tss AS buy_ts
        |      FROM e WHERE event_type = 'purchase')
        |SELECT user_id, click_id, buy_id,
        |  strftime(click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |  strftime(buy_ts, '%Y-%m-%d %H:%M:%S') AS buy_ts
        |FROM c JOIN p ON user_id = b_user
        |  AND buy_ts >= click_ts
        |  AND buy_ts <= click_ts + INTERVAL 30 MINUTE
        |ORDER BY user_id, click_id, buy_id""".stripMargin
  )
}
