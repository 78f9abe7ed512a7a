package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

/**
 * Structured-streaming surface (design extension — the reference is pure
 * batch, SURVEY.md §2.8; the sink's micro-batched bulk building extends
 * naturally to streams).
 *
 * Every transform here is written against the unified Dataset API so the
 * SAME function serves batch DataFrames (Verify/DuckDB-checkable) and
 * `readStream` sources (watermarked, incremental). That is the idiomatic
 * Spark shape: one logical plan, two execution modes.
 */
object Streams {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)

  final case class Session(user_id: Long, start: Timestamp, end: Timestamp,
                           n_events: Long, total_value: Double)

  /** events feeds carry `ts` either as epoch-nanos INT64 (legacy
    * TIMESTAMP(NANOS) parquet read via nanosAsLong) or as a native
    * timestamp column; normalize to a real `event_time` timestamp for
    * event-time semantics whichever shape arrives. */
  def withEventTime(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val eventTime = events.schema("ts").dataType match {
      case TimestampType | TimestampNTZType => col("ts").cast(TimestampType)
      case _ =>
        timestamp_seconds(expr("ts div 1000000000")) +
          expr("make_interval(0, 0, 0, 0, 0, 0, (ts % 1000000000) / 1000000000.0)")
    }
    events.withColumn("event_time", eventTime)
  }

  /**
   * Tumbling-window per-type rollup. On a stream, pass `watermark` (e.g.
   * "10 minutes") to bound state and admit late data up to the bound; on a
   * batch frame leave it None — identical results, DuckDB-oracle-able.
   */
  def windowedTypeCounts(events: DataFrame, windowDur: String = "1 hour",
                         watermark: Option[String] = None): DataFrame =
    // tumbling IS the slide == window special case
    slidingTypeCounts(events, windowDur, windowDur, watermark)

  /**
   * SLIDING (hopping) window per-type rollup — each event lands in
   * window/slide overlapping windows (the trend-line view; tumbling is
   * the slide == window special case). Same unified batch/stream shape
   * as [[windowedTypeCounts]]; state on a stream is bounded by
   * watermark + window as usual.
   */
  def slidingTypeCounts(events: DataFrame, windowDur: String = "1 hour",
                        slideDur: String = "15 minutes",
                        watermark: Option[String] = None): DataFrame = {
    val e = withEventTime(events)
    val wm = watermark.fold(e)(w => e.withWatermark("event_time", w))
    wm.groupBy(window(col("event_time"), windowDur, slideDur), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // Accumulate in exact decimal but emit DOUBLE — DECIMAL output
        // columns hash-mismatch in the driver's oracle reader.
        round(sum(col("value").cast("decimal(18,2)"))
          .cast("double"), 2).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
  }

  /** File-based streaming source over an events directory (same schema as
    * the batch table) — readStream → transforms → writeStream. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)

  /**
   * Session assembly with explicit state: per-user sessions closed after
   * `gapMs` of event-time silence, via flatMapGroupsWithState (the custom
   * -state escape hatch the built-in windows can't express).
   *
   * Works on streams (EventTimeTimeout + watermark) and, for testing/
   * batch parity, on bounded Datasets where the final state flush emits
   * every open session.
   */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._

    def close(userId: Long, buf: List[Event]): Session = {
      val sorted = buf.sortBy(_.ts.getTime)
      Session(userId, sorted.head.ts, sorted.last.ts, sorted.size.toLong,
        math.rint(sorted.map(_.value).sum * 100) / 100)
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Event], Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[List[Event]]) =>
          // Bounded/batch execution: the whole group arrives at once, so
          // sessionization is a single in-group sweep. On an unbounded
          // stream this same function accumulates via `state` and closes
          // sessions on event-time timeout.
          val all = (state.getOption.getOrElse(Nil) ++ it).sortBy(_.ts.getTime)
          if (all.isEmpty) Iterator.empty
          else {
            val sessions = List.newBuilder[List[Event]]
            var cur = List(all.head)
            all.tail.foreach { e =>
              if (e.ts.getTime - cur.head.ts.getTime <= gapMs) cur = e :: cur
              else { sessions += cur; cur = List(e) }
            }
            sessions += cur
            state.update(Nil)
            sessions.result().map(s => close(userId, s)).iterator
          }
      }
  }

  /**
   * Unbounded-stream sessionization with correct incremental semantics:
   * events buffer in [[GroupState]]; a session only closes when the
   * event-time watermark passes its end + gap (late events within the
   * watermark still join their session); the state times out at
   * lastEvent + gap so idle users flush without new input.
   *
   * Use [[sessionize]] for bounded/batch data (single-sweep, no state
   * carryover); this variant requires `withWatermark` upstream.
   */
  def sessionizeStream(events: Dataset[Event], gapMs: Long,
                       watermarkDelay: String = "0 seconds"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._

    def close(userId: Long, buf: List[Event]): Session = {
      val sorted = buf.sortBy(_.ts.getTime)
      Session(userId, sorted.head.ts, sorted.last.ts, sorted.size.toLong,
        math.rint(sorted.map(_.value).sum * 100) / 100)
    }

    def sessionsOf(buf: List[Event]): List[List[Event]] = {
      val sorted = buf.sortBy(_.ts.getTime)
      val out = List.newBuilder[List[Event]]
      var cur = List(sorted.head)
      sorted.tail.foreach { e =>
        if (e.ts.getTime - cur.head.ts.getTime <= gapMs) cur = e :: cur
        else { out += cur.reverse; cur = List(e) }
      }
      out += cur.reverse
      out.result()
    }

    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Event], Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[List[Event]]) =>
          val wm = state.getCurrentWatermarkMs()
          val buf = state.getOption.getOrElse(Nil) ++ it
          if (buf.isEmpty) { state.remove(); Iterator.empty }
          else {
            val sessions = sessionsOf(buf)
            // a session is final once the watermark passed its end + gap
            val (closed, open) = sessions.partition(s =>
              wm > s.last.ts.getTime + gapMs)
            if (open.isEmpty) state.remove()
            else {
              state.update(open.flatten)
              state.setTimeoutTimestamp(open.flatten.map(_.ts.getTime).max + gapMs)
            }
            closed.map(s => close(userId, s)).iterator
          }
      }
  }

  /**
   * The one replay harness behind every parity drive: builds and starts
   * `writer`'s query, feeds `steps` in order (one `processAllAvailable`
   * after each), and stops the query. The replay runs at 4 shuffle
   * partitions, because its cost is state-store rounds (shuffle
   * partitions × micro-batches), not data volume; the scale path is the
   * operator itself under the session's conf. One try/finally restores
   * the session's `spark.sql.shuffle.partitions`, so a query that fails
   * to build, start or run leaves the conf as it found it.
   */
  private def replay(spark: SparkSession, writer: => DataStreamWriter[_],
                     steps: Seq[() => Unit]): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "4")
      val q = writer.start()
      try steps.foreach { feed => feed(); q.processAllAvailable() }
      finally q.stop()
    } finally spark.conf.set(key, saved)
  }

  private val replaySinks = new java.util.concurrent.atomic.AtomicLong

  /** [[replay]] of `out` into a memory sink with a fresh name per call.
    * Returns the sink's rows pinned eagerly (`localCheckpoint`: the sink
    * is scratch, not pipeline state) and drops the sink's view, so no
    * `graft_*_stream_out` view outlives the drive. */
  private def replayRows(spark: SparkSession, out: => Dataset[_],
                         steps: Seq[() => Unit]): DataFrame = {
    val sink = s"graft_replay_${replaySinks.incrementAndGet()}_stream_out"
    try {
      replay(spark, out.writeStream.format("memory").queryName(sink)
        .outputMode("append"), steps)
      spark.table(sink).localCheckpoint(true)
    } finally spark.catalog.dropTempView(sink)
  }

  /** [[replayRows]] of `query` over one MemoryStream fed `chunks`, one
    * micro-batch each. */
  private def replayChunks[T: Encoder](spark: SparkSession,
                                       chunks: Seq[Seq[T]])(
      query: Dataset[T] => Dataset[_]): DataFrame = {
    val input = MemoryStream[T](implicitly[Encoder[T]], spark.sqlContext)
    replayRows(spark, query(input.toDS()),
      chunks.map(c => () => { input.addData(c); () }))
  }

  /** One row (n_stream, n_batch, n_matched): all three are equal iff the
    * streamed and the batch rows agree on `cols` exactly. */
  private def parityCounts(streamed: DataFrame, batch: DataFrame,
                           cols: Seq[String]): DataFrame = {
    def on(df: DataFrame) = df.select(cols.map(col): _*)
    streamed.agg(count(lit(1)).as("n_stream"))
      .crossJoin(batch.agg(count(lit(1)).as("n_batch")))
      .crossJoin(on(streamed).join(on(batch), cols)
        .agg(count(lit(1)).as("n_matched")))
  }

  /** A drive's bounded cohort, collected and (ts, event_id)-ordered. */
  private def sortedCohort(events: Dataset[Event]): Array[Event] = {
    val rows = events.collect().sortBy(e => (e.ts.getTime, e.event_id))
    require(rows.nonEmpty, "parity drive needs a non-empty cohort")
    rows
  }

  /** Split a ts-SORTED event array into ~`batches` chunks whose
    * boundaries never divide an equal-ts run: after a chunk is fed, the
    * watermark sits exactly on its max event time, and Spark's stateful
    * late-row filter drops subsequent rows with ts <= wm — an equal-ts
    * straggler in the next chunk would silently vanish. */
  private def tsAlignedChunks(rows: Array[Event],
                              batches: Int): Seq[Seq[Event]] = {
    val target = math.max(1, (rows.length + batches - 1) / batches)
    val out = scala.collection.mutable.ListBuffer.empty[Seq[Event]]
    var cur = scala.collection.mutable.ArrayBuffer.empty[Event]
    rows.foreach { e =>
      if (cur.size >= target && cur.last.ts.getTime != e.ts.getTime) {
        out += cur.toSeq
        cur = scala.collection.mutable.ArrayBuffer.empty[Event]
      }
      cur += e
    }
    if (cur.nonEmpty) out += cur.toSeq
    out.toSeq
  }

  /** The two-sentinel watermark flush: user -1 events 1 h and 2 h past
    * `pastMs`. The first advances the watermark past every open tail;
    * the second lets the event-time timeouts fire, because timeouts fire
    * against the PREVIOUS batch's watermark. Drives filter user -1 out
    * of the sink rows. */
  private def flushSentinels(pastMs: Long): Seq[Seq[Event]] =
    Seq(1L, 2L).map(i =>
      Seq(Event(-i, new Timestamp(pastMs + i * 3600000L), -1L, "wm", 0.0)))

  /**
   * Driver-facing parity drive for [[sessionizeStream]]: replays a bounded,
   * ts-ordered event cohort through a real MemoryStream in multiple
   * micro-batches (plus [[flushSentinels]], so every session flushes via
   * state timeout), then compares the streamed sessions row-for-row with
   * the batch [[sessionize]] result. Returns ONE row
   * (n_stream, n_batch, n_matched) — all three equal the gaps-and-islands
   * session count iff streaming and batch semantics agree exactly.
   *
   * The cohort is a deterministic user sample (caller filters), so the
   * driver-side replay stays bounded at ANY corpus scale — this is a parity
   * GATE, not the scale path ([[sessionize]]/[[sessionizeStream]] are).
   */
  def sessionizeStreamParity(spark: SparkSession, events: Dataset[Event],
                             gapMs: Long, batches: Int = 2): DataFrame = {
    import spark.implicits._
    val rows = events.collect().sortBy(_.ts.getTime)
    require(rows.nonEmpty, "parity drive needs a non-empty cohort")
    val streamed = replayChunks(spark, tsAlignedChunks(rows, batches) ++
        flushSentinels(rows.last.ts.getTime + gapMs))(
        sessionizeStream(_, gapMs))
      .filter(col("user_id") >= 0)
    parityCounts(streamed, sessionize(events, gapMs).toDF(),
      Seq("user_id", "start", "end", "n_events", "total_value"))
  }

  final case class Transition(user_id: Long, from_type: String,
                              to_type: String)

  /**
   * Streaming per-user adjacent event transitions — the incremental
   * form of [[graft.operators.Events.transitionMatrix]]'s pair
   * extraction: each (from_type → to_type) adjacency in a user's
   * (ts, id)-ordered stream is emitted exactly once, once it is FINAL.
   *
   * Finality: a pair (eᵢ, eᵢ₊₁) is final when the watermark strictly
   * passes eᵢ₊₁'s event time — an event that could still sort between
   * them (ts < wm is dropped by the watermark contract; ts == wm may
   * still arrive) can then no longer exist. Buffered events up to the
   * last emitted pair's LEFT member are discarded; the pair's right
   * member stays (it is the left of the next pair), so per-user state
   * is O(unfinalized tail), not history. A timeout at the tail's last
   * event time flushes pairs whose users see no further batches.
   *
   * The aggregation to a transition MATRIX stays downstream (a
   * standard streaming groupBy count on the emitted pairs) — emitting
   * pairs, not counts, keeps this operator composable (paths,
   * sessions, and matrices all consume the same adjacency stream).
   *
   * State bound: the unfinalized tail always keeps its LAST event (it
   * is the left member of the next pair), so without eviction state
   * grows O(distinct users ever seen) in a long-running stream — the
   * same leak [[nearDupVerdicts]]'s TTL exists to prevent. The TTL
   * contract is a pure EVENT-TIME gap rule, deterministic across any
   * batching: an adjacency whose inter-event gap is ≥ `stateTtlMs` is
   * forfeit (the chain restarts at the later event) — for most
   * telemetry a multi-day-idle "transition" is noise anyway. The
   * data path enforces the rule at emission (so a reappearance landing
   * in the same batch that advances the watermark past the TTL is
   * suppressed identically), and a timeout evicts an idle single-event
   * tail once the watermark passes `tail.ts + stateTtlMs` — by the
   * watermark contract any later arrival then has ts ≥ wm ≥ tail.ts +
   * TTL, so eviction can only forfeit pairs the gap rule forfeits
   * anyway: state cleanup, never a semantic change. Size the TTL like
   * a session horizon.
   */
  def transitionsStream(events: Dataset[Event],
                        watermarkDelay: String = "0 seconds",
                        stateTtlMs: Long = 24 * 60 * 60 * 1000L): Dataset[Transition] = {
    require(stateTtlMs > 0, "stateTtlMs must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Event], Transition](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[List[Event]]) =>
          val wm = state.getCurrentWatermarkMs()
          val buf = (state.getOption.getOrElse(Nil) ++ it)
            .sortBy(e => (e.ts.getTime, e.event_id))
          if (buf.isEmpty) { state.remove(); Iterator.empty }
          else {
            val pairs = buf.zip(buf.tail)
            // ts is non-decreasing along pairs, so finality is a prefix
            val closed = pairs.takeWhile(p => wm > p._2.ts.getTime)
            val remaining = buf.drop(closed.length)
            if (remaining.length == 1 &&
                wm >= remaining.head.ts.getTime + stateTtlMs) {
              // idle single-event tail past TTL: evict — the chain
              // restarts if the user reappears (documented contract)
              state.remove()
            } else {
              state.update(remaining)
              // always register a wake-up: open pairs wake as soon as
              // the watermark can close them; a bare tail wakes at TTL
              // expiry so eviction happens even if the user never sends
              // another event (timestamp must be strictly beyond wm)
              state.setTimeoutTimestamp(
                if (remaining.length > 1)
                  math.max(wm + 1, remaining.last.ts.getTime + 1)
                else
                  math.max(wm + 1, remaining.head.ts.getTime + stateTtlMs))
            }
            closed.iterator
              // the batch-invariant TTL rule: a ≥-TTL event-time gap
              // forfeits the adjacency no matter how batches landed
              // (eviction alone made the forfeit depend on whether a
              // timeout fired before the user's reappearance)
              .filter(p => p._2.ts.getTime - p._1.ts.getTime < stateTtlMs)
              .map(p => Transition(uid, p._1.event_type, p._2.event_type))
          }
      }
  }

  /**
   * Driver-facing parity drive for [[transitionsStream]]: replays a
   * bounded ts-ordered cohort through a real MemoryStream in multiple
   * micro-batches (plus watermark-sentinel batches that flush the
   * tails), aggregates the streamed pairs to (from, to) counts, and
   * compares them row-for-row with the batch
   * [[graft.operators.Events.transitionMatrix]] counts. Returns ONE
   * row (n_stream, n_batch, n_matched) — equal iff the incremental
   * and batch semantics agree exactly. Parity GATE, not the scale
   * path (the operator itself is).
   */
  def transitionsStreamParity(spark: SparkSession, events: Dataset[Event],
                              batches: Int = 3): DataFrame = {
    import spark.implicits._
    val rows = sortedCohort(events)
    val maxTs = rows.last.ts.getTime
    // the drive asserts FULL batch parity over its replay, so the state
    // TTL must cover the cohort's whole event-time span: a user idle
    // longer than the TTL mid-replay would have their tail evicted and
    // the cross-gap adjacency forfeited (correct production behavior,
    // but the batch transitionMatrix it is compared against counts it)
    val ttlMs = maxTs - rows.head.ts.getTime + 60 * 60 * 1000L
    val streamed = replayChunks(spark,
        tsAlignedChunks(rows, batches) ++ flushSentinels(maxTs))(
        transitionsStream(_, stateTtlMs = ttlMs))
      .filter(col("user_id") >= 0)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("transitions"))
    val batch = graft.operators.Events.transitionMatrix(
        events.toDF().withColumn("ts", unix_millis(col("ts")) * lit(1000000L)),
        "user_id", "event_type", "ts", "event_id")
    parityCounts(streamed, batch, Seq("from_type", "to_type", "transitions"))
  }

  // public only because Spark's product-encoder derivation reflects on
  // them for the state store; not API
  final case class CpObs(tsMs: Long, id: Long, units: Long)
  final case class CpState(nextIdx: Long, headIdx: Long,
                           buf: List[CpObs])
  final case class ChangePoint(user_id: Long, ts: Timestamp,
                               event_id: Long, before_mean: Double,
                               after_mean: Double, shift: Double)

  /** Spark SQL `round()` semantics on a double (exact binary value,
    * HALF_UP) — `math.round` differs on negative halves, and the batch
    * parity requires the identical quantization. */
  private def roundHalfUp(v: Double, scale: Long): Long =
    new java.math.BigDecimal(v * scale)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /**
   * TRUE-streaming mean-shift changepoint detection — the incremental
   * form of [[graft.operators.TimeSeries.meanShiftChangepoints]]: for
   * each key's (ts, id)-ordered stream, emit the observation where the
   * mean of the next `window` values differs from the mean of the
   * previous `window` by ≥ `minShiftUnits` quantized units, exactly
   * once, once the verdict is FINAL.
   *
   * Finality: position p's verdict needs observations p−w..p+w−1 and
   * certainty that nothing can still sort inside that span — i.e. the
   * watermark STRICTLY past the (p+w−1)th observation's event time
   * (ts < wm is dropped by the watermark contract; ts == wm may still
   * arrive). Decisions advance in order, so the state keeps exactly
   * the `w` observations before the next undecided position plus the
   * undecided tail — O(2w + unflushed batch), never history. A
   * registered event-time wake-up decides complete-but-unpassed
   * positions when only OTHER keys' data advances the watermark.
   *
   * TTL contract (pure event-time, batch-invariant): an inter-
   * observation gap ≥ `stateTtlMs` SPLITS the series — no flag is
   * evaluated on a window spanning the gap (sessionized semantics, the
   * multi-day-idle "shift" is noise) — and a key idle past the TTL is
   * evicted entirely. Because only the gap RULE decides semantics and
   * eviction merely discards observations every future window across
   * the gap would ignore anyway, eviction is state cleanup, never a
   * semantic change (same design as [[transitionsStream]]).
   *
   * Arithmetic is the batch operator's, verbatim: values quantize via
   * SQL-round(v·unitScale) to exact longs, the trigger is an integer
   * comparison, and the reported means are single IEEE divisions —
   * the parity drive compares all six columns bit-for-bit.
   */
  def changepointsStream(events: Dataset[Event], window: Int,
                         minShiftUnits: Long, unitScale: Long = 100L,
                         watermarkDelay: String = "0 seconds",
                         stateTtlMs: Long = 24 * 60 * 60 * 1000L): Dataset[ChangePoint] = {
    require(window >= 2, "window must be >= 2")
    require(minShiftUnits >= 1, "minShiftUnits must be >= 1")
    require(unitScale >= 1, "unitScale must be >= 1")
    require(stateTtlMs > 0, "stateTtlMs must be positive")
    val w = window
    val spark = events.sparkSession
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CpState, ChangePoint](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[CpState]) =>
          val wm = state.getCurrentWatermarkMs()
          val prev = state.getOption.getOrElse(CpState(w.toLong, 0L, Nil))
          // arrivals have ts >= wm, and every decided position's post
          // window ended strictly below some past wm <= wm — so new
          // observations always sort into the UNDECIDED suffix and the
          // decided prefix's bookkeeping stays valid
          val merged = (prev.buf ++ it.map(e =>
              CpObs(e.ts.getTime, e.event_id,
                roundHalfUp(e.value, unitScale))))
            .sortBy(o => (o.tsMs, o.id)).toVector
          if (merged.isEmpty) { state.remove(); Iterator.empty }
          else {
            var nextIdx = prev.nextIdx
            val headIdx = prev.headIdx
            val out = scala.collection.mutable.ListBuffer.empty[ChangePoint]
            var going = true
            while (going) {
              val off = (nextIdx - headIdx).toInt
              if (off + w <= merged.length && wm > merged(off + w - 1).tsMs) {
                val slice = merged.slice(off - w, off + w)
                val gapped = slice.iterator.zip(slice.iterator.drop(1))
                  .exists { case (a, b) => b.tsMs - a.tsMs >= stateTtlMs }
                if (!gapped) {
                  val sa = slice.take(w).map(_.units).sum
                  val sb = slice.drop(w).map(_.units).sum
                  if (math.abs(sb - sa) >= minShiftUnits * w) {
                    val den = (w * unitScale).toDouble
                    out += ChangePoint(uid,
                      new Timestamp(merged(off).tsMs), merged(off).id,
                      sa.toDouble / den, sb.toDouble / den,
                      (sb - sa).toDouble / den)
                  }
                }
                nextIdx += 1
              } else going = false
            }
            // retain exactly the w observations before the next
            // candidate plus the undecided tail
            val drop = ((nextIdx - w) - headIdx).toInt
            val kept = if (drop > 0) merged.drop(drop) else merged
            val newHead = headIdx + math.max(drop, 0)
            if (wm >= kept.last.tsMs + stateTtlMs) {
              // idle past TTL: every future window across this gap is
              // void by the gap rule — evict, chain restarts fresh
              state.remove()
            } else {
              state.update(CpState(nextIdx, newHead, kept.toList))
              val off = (nextIdx - newHead).toInt
              state.setTimeoutTimestamp(
                if (off + w <= kept.length)
                  // a complete-but-unpassed position waits on the wm
                  math.max(wm + 1, kept(off + w - 1).tsMs + 1)
                else
                  math.max(wm + 1, kept.last.tsMs + stateTtlMs))
            }
            out.iterator
          }
      }
  }

  final case class EwmaPoint(user_id: Long, ts: Timestamp,
                             event_id: Long, value: Double, ewma: Double)

  /**
   * TRUE-streaming bounded-lookback EWMA — the incremental form of
   * [[graft.operators.TimeSeries.ewmaSmooth]]: each observation's
   * smoothed value over its last `lookback` predecessors, emitted
   * exactly once, once FINAL. Finality here needs no future data —
   * only certainty that nothing can still sort at-or-before the row:
   * the watermark STRICTLY past its event time (ts < wm is dropped by
   * the watermark contract; ts == wm may still arrive and tie-sort by
   * id, so equality is not enough).
   *
   * State per key: the `lookback − 1` observations before the next
   * undecided position plus the unfinalized tail — O(lookback), never
   * history; same (nextIdx, headIdx, buffer) bookkeeping as
   * [[changepointsStream]], including its positional-unionAll-free
   * Scala-side merge. TTL contract identical too: a ≥ `stateTtlMs`
   * event-time gap RESTARTS the smoothing window (no weight reaches
   * across it — the batch operator has no gap semantics, so this is a
   * documented streaming divergence sized like a session horizon), and
   * idle keys evict without semantic loss under that rule.
   *
   * Arithmetic is the batch operator's verbatim: integer weights
   * num^lag·den^(L−1−lag) on SQL-round-quantized values, numerator and
   * weight sum exact longs, ONE final division — the parity drive
   * compares every smoothed value bit-for-bit.
   */
  def ewmaStream(events: Dataset[Event], lookback: Int = 8,
                 decayNum: Long = 1L, decayDen: Long = 2L,
                 unitScale: Long = 100L,
                 watermarkDelay: String = "0 seconds",
                 stateTtlMs: Long = 24 * 60 * 60 * 1000L): Dataset[EwmaPoint] = {
    require(lookback >= 2 && lookback <= 32,
      s"lookback must be in [2, 32]; got $lookback")
    require(decayDen > decayNum && decayNum >= 1,
      "decay must satisfy den > num >= 1")
    require(unitScale >= 1, "unitScale must be >= 1")
    require(stateTtlMs > 0, "stateTtlMs must be positive")
    require(math.pow(decayDen.toDouble, (lookback - 1).toDouble) <=
      (1L << 31).toDouble, "den^(lookback-1) exceeds the long weight bound")
    val L = lookback
    def weight(lag: Int): Long = {
      var w = 1L; var i = 0
      while (i < lag) { w *= decayNum; i += 1 }
      while (i < L - 1) { w *= decayDen; i += 1 }
      w
    }
    val weights = Array.tabulate(L)(weight)
    val spark = events.sparkSession
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CpState, EwmaPoint](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[CpState]) =>
          val wm = state.getCurrentWatermarkMs()
          val prev = state.getOption.getOrElse(CpState(0L, 0L, Nil))
          val merged = (prev.buf ++ it.map(e =>
              CpObs(e.ts.getTime, e.event_id,
                roundHalfUp(e.value, unitScale))))
            .sortBy(o => (o.tsMs, o.id)).toVector
          if (merged.isEmpty) { state.remove(); Iterator.empty }
          else {
            var nextIdx = prev.nextIdx
            val headIdx = prev.headIdx
            val out = scala.collection.mutable.ListBuffer.empty[EwmaPoint]
            var going = true
            while (going) {
              val off = (nextIdx - headIdx).toInt
              if (off < merged.length && wm > merged(off).tsMs) {
                // window start: at most L−1 back, truncated at the
                // youngest ≥-TTL gap (the restart rule)
                var start = math.max(0, off - (L - 1))
                var j = off
                while (j > start &&
                    merged(j).tsMs - merged(j - 1).tsMs < stateTtlMs) {
                  j -= 1
                }
                start = j
                var num = 0L; var den = 0L
                var k = off
                while (k >= start) {
                  val w = weights(off - k)
                  num += merged(k).units * w
                  den += w
                  k -= 1
                }
                val o = merged(off)
                out += EwmaPoint(uid, new Timestamp(o.tsMs), o.id,
                  o.units.toDouble / unitScale.toDouble,
                  num.toDouble / (den * unitScale).toDouble)
                nextIdx += 1
              } else going = false
            }
            val drop = ((nextIdx - (L - 1)) - headIdx).toInt
            val kept = if (drop > 0) merged.drop(drop) else merged
            val newHead = headIdx + math.max(drop, 0)
            if (wm >= kept.last.tsMs + stateTtlMs) state.remove()
            else {
              state.update(CpState(nextIdx, newHead, kept.toList))
              val off = (nextIdx - newHead).toInt
              state.setTimeoutTimestamp(
                if (off < kept.length)
                  math.max(wm + 1, kept(off).tsMs + 1)
                else
                  math.max(wm + 1, kept.last.tsMs + stateTtlMs))
            }
            out.iterator
          }
      }
  }

  /**
   * Driver-facing parity drive for [[ewmaStream]]: replays a bounded
   * cohort through a MemoryStream in ts-aligned micro-batches (+
   * [[flushSentinels]]: EWMA finality needs no post window, so the
   * advance past maxTs closes everything), then compares every
   * smoothed value with batch
   * [[graft.operators.TimeSeries.ewmaSmooth]] over the same
   * millisecond frame. One row (n_stream, n_batch, n_matched).
   */
  def ewmaStreamParity(spark: SparkSession, events: Dataset[Event],
                       lookback: Int = 8, batches: Int = 3): DataFrame = {
    import spark.implicits._
    val rows = sortedCohort(events)
    val maxTs = rows.last.ts.getTime
    val ttlMs = maxTs - rows.head.ts.getTime + 60 * 60 * 1000L
    val streamed = replayChunks(spark,
        tsAlignedChunks(rows, batches) ++ flushSentinels(maxTs))(
        ewmaStream(_, lookback, stateTtlMs = ttlMs))
      .filter(col("user_id") >= 0)
      .select(col("user_id").as("key"), unix_millis(col("ts")).as("ts"),
        col("event_id").as("id"), col("ewma"))
    val batch = graft.operators.TimeSeries.ewmaSmooth(
        events.toDF().withColumn("ts", unix_millis(col("ts"))),
        "user_id", "ts", "event_id", "value", lookback)
    parityCounts(streamed, batch, Seq("key", "ts", "id", "ewma"))
  }

  /**
   * Driver-facing parity drive for [[changepointsStream]]: replays a
   * bounded cohort through a MemoryStream in ts-aligned micro-batches
   * (+ [[flushSentinels]] that flush complete tails), then compares
   * the streamed flags with batch
   * [[graft.operators.TimeSeries.meanShiftChangepoints]] over the same
   * millisecond-precision frame on ALL six columns — key, ts, id, and
   * the three exact-arithmetic means. One row
   * (n_stream, n_batch, n_matched); equal iff incremental == batch.
   */
  def changepointsStreamParity(spark: SparkSession, events: Dataset[Event],
                               window: Int, minShiftUnits: Long,
                               unitScale: Long = 100L,
                               batches: Int = 3): DataFrame = {
    import spark.implicits._
    val rows = sortedCohort(events)
    val maxTs = rows.last.ts.getTime
    // full batch parity over the replay needs the TTL past the span:
    // a ≥-TTL gap inside the cohort would (correctly) split the series
    // streaming-side while the batch operator flags across it
    val ttlMs = maxTs - rows.head.ts.getTime + 60 * 60 * 1000L
    val streamed = replayChunks(spark,
        tsAlignedChunks(rows, batches) ++ flushSentinels(maxTs))(
        changepointsStream(_, window, minShiftUnits, unitScale,
          stateTtlMs = ttlMs))
      .filter(col("user_id") >= 0)
      .select(col("user_id").as("key"), unix_millis(col("ts")).as("ts"),
        col("event_id").as("id"), col("before_mean"), col("after_mean"),
        col("shift"))
    val batch = graft.operators.TimeSeries.meanShiftChangepoints(
      events.toDF().withColumn("ts", unix_millis(col("ts"))),
      "user_id", "ts", "event_id", "value", window, minShiftUnits,
      unitScale)
    parityCounts(streamed, batch,
      Seq("key", "ts", "id", "before_mean", "after_mean", "shift"))
  }

  /**
   * Driver-facing parity drive for [[nearDupVerdicts]]: streams the corpus
   * (with byte-identical planted copies, ids offset by 1e6) through a
   * MemoryStream in two micro-batches — originals first, plants later — and
   * returns the distinct (id_a, id_b) verdict pairs in plant form. Emission
   * is inline (not watermark-gated), so no sentinel batches are needed.
   */
  def nearDupStreamParity(spark: SparkSession, docs: DataFrame,
                          idCol: String, textCol: String): DataFrame = {
    import spark.implicits._
    val originals = docs
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val base = 1700000000000L // fixed epoch base for synthetic arrival times
    val origEvents = originals.zipWithIndex.map { case ((id, text), i) =>
      DocEvent(id, new Timestamp(base + i * 1000L), text)
    }
    val plantEvents = originals.filter(_._1 % 25 == 0).zipWithIndex.map {
      case ((id, text), i) =>
        DocEvent(id + 1000000L,
          new Timestamp(base + (originals.length + i) * 1000L), text)
    }
    // the drive asserts FULL recall over its replay, so the state TTL
    // must cover the whole synthetic timeline: at 1 s spacing a 5 000-doc
    // corpus spans 83 min and the operator's default 1 h TTL (correct
    // production behavior — old docs age out of the dedup window) was
    // silently evicting early originals before their plants arrived
    val spanMs = (originals.length + plantEvents.length + 2) * 1000L
    replayChunks(spark, Seq(origEvents.toSeq, plantEvents.toSeq))(
        nearDupVerdicts(_, stateTtlMs = spanMs + 60 * 60 * 1000L))
      .select(least(col("doc_id"), col("dup_of")).as("id_a"),
        greatest(col("doc_id"), col("dup_of")).as("id_b"))
      .filter(col("id_b") === col("id_a") + 1000000L)
      .distinct()
  }

  /**
   * Exactly-once event dedup, unified batch/stream: on a stream, pass
   * `watermark = Some((timeCol, delay))` — duplicates of a key arriving
   * within the watermark bound are dropped with BOUNDED state
   * (`dropDuplicatesWithinWatermark`: expired keys age out, unlike plain
   * streaming dropDuplicates whose state grows forever); on a batch frame
   * leave it None for plain dropDuplicates — identical results,
   * DuckDB-oracle-able. The ingest-side guard for at-least-once upstreams
   * (replayed events must not double-count or double-index).
   */
  def dedupEvents(events: DataFrame, idCols: Seq[String],
                  watermark: Option[(String, String)] = None): DataFrame =
    watermark match {
      case Some((timeCol, delay)) =>
        events.withWatermark(timeCol, delay)
          .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)
      case None => events.dropDuplicates(idCols)
    }

  final case class DocEvent(doc_id: Long, ts: Timestamp, text: String)

  final case class NearDupCandidate(id_a: Long, id_b: Long, est_jaccard: Double)

  // public: the state encoder's generated code constructs/accesses it
  final case class BucketEntry(id: Long, sig: Array[Long], tsMs: Long)

  /**
   * STREAMING near-duplicate candidate generation: the LSH banding of
   * [[graft.operators.Dedup.minhashPairs]] with per-bucket state instead
   * of a self-join. Each arriving document lands in `bands` bucket groups;
   * a bucket's state holds the recent (id, signature) entries; a new
   * arrival is compared against them (signature-agreement estimate) and
   * emits a candidate pair per match. State is bounded two ways: entries
   * older than `stateTtlMs` (event time) are dropped, and the group times
   * out at watermark + TTL, so an idle bucket frees its memory.
   *
   * Contract: AT-LEAST-ONCE candidate emission (a pair colliding in k
   * bands is emitted up to k times — `.dropDuplicates` downstream or feed
   * the idempotent exact-verification stage, exactly like the batch
   * pipeline). Works identically on a bounded Dataset for testing.
   */
  def nearDupCandidates(docs: Dataset[DocEvent], numHashes: Int = 64,
                        bands: Int = 16, shingleSize: Int = 5,
                        threshold: Double = 0.5,
                        watermarkDelay: String = "10 minutes",
                        stateTtlMs: Long = 60 * 60 * 1000L,
                        maxBucketSize: Int = 1000)
  : Dataset[NearDupCandidate] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = docs.sparkSession
    import spark.implicits._
    val r = numHashes / bands
    val banded = docs
      .withColumn("sig",
        graft.functions.Text.minhashSig(col("text"), numHashes, shingleSize))
      .withColumn("bk",
        explode(expr(s"transform(sequence(0, ${bands - 1}), b -> " +
          s"struct(b AS band, xxhash64(slice(sig, b * $r + 1, $r)) AS bucket))")))
      .select(col("doc_id"), col("ts"), col("sig"),
        col("bk.band"), col("bk.bucket"))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Timestamp, Array[Long], Int, Long)]

    banded
      .groupByKey { case (_, _, _, band, bucket) => (band, bucket) }
      .flatMapGroupsWithState[List[BucketEntry], NearDupCandidate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state: GroupState[List[BucketEntry]]) =>
          val wm = state.getCurrentWatermarkMs()
          val arrivals = rows.toSeq.sortBy(_._2.getTime)
          if (arrivals.isEmpty) {
            // event-time timeout fired with no data: drop expired state
            val kept = state.getOption.getOrElse(Nil)
              .filter(e => wm <= 0 || e.tsMs + stateTtlMs > wm)
            if (kept.isEmpty) state.remove()
            else state.update(kept)
            Iterator.empty
          } else {
            var entries = state.getOption.getOrElse(Nil)
              .filter(e => wm <= 0 || e.tsMs + stateTtlMs > wm)
            val out = List.newBuilder[NearDupCandidate]
            arrivals.foreach { case (id, ts, sig, _, _) =>
              entries.foreach { e =>
                if (e.id != id) {
                  var agree = 0
                  var i = 0
                  val n = math.min(sig.length, e.sig.length)
                  while (i < n) { if (sig(i) == e.sig(i)) agree += 1; i += 1 }
                  val est = agree.toDouble / numHashes
                  if (est >= threshold)
                    out += NearDupCandidate(math.min(id, e.id),
                      math.max(id, e.id), est)
                }
              }
              // degenerate-bucket cap (mirrors Dedup.minhashPairs'
              // maxBucketSize): a hot bucket would otherwise grow state and
              // per-arrival work O(B) — O(B²) total within the TTL window.
              // New arrivals into a full bucket still compare against the
              // kept entries but are not retained (documented recall trade:
              // pairs BOTH landing past the cap in every shared band are
              // missed — same contract as the batch path).
              if (entries.lengthCompare(maxBucketSize) < 0)
                entries = BucketEntry(id, sig, ts.getTime) :: entries
            }
            state.update(entries)
            state.setTimeoutTimestamp(entries.map(_.tsMs).max + stateTtlMs)
            out.result().iterator
          }
      }
  }

  final case class DupVerdict(doc_id: Long, dup_of: Long, jaccard: Double)

  // public: the state encoder's generated code constructs/accesses it
  final case class VerifiedEntry(id: Long, sig: Array[Long],
                                 gramHashes: Array[Long], tsMs: Long)

  /**
   * STREAMING end-to-end near-duplicate detection: [[nearDupCandidates]]'
   * LSH banding PLUS inline exact verification — one stateful stage, no
   * downstream join needed. Each bucket's state keeps (signature, sorted
   * 64-bit shingle-hash set); an arrival that band-collides is first
   * screened by the cheap signature-agreement estimate, then EXACTLY
   * verified by Jaccard over the hash sets (exact up to 64-bit shingle
   * collisions — the same trade the batch pipeline's verify stage makes
   * with xxhash-bucketed grams). Emits a verdict per (later doc, earlier
   * doc) pair at or above `jaccardThreshold`.
   *
   * Survivor semantics: a doc with NO emitted verdict for `doc_id` is
   * first-of-its-kind so far — `survivors = arrivals anti-join verdicts`
   * per micro-batch (or downstream `dropDuplicates("doc_id")` on the
   * verdict stream for the dup list). Emission is AT-LEAST-ONCE across
   * bands, like the candidate stream. State is TTL-bounded (event time)
   * and groups time out at watermark + TTL.
   */
  def nearDupVerdicts(docs: Dataset[DocEvent], numHashes: Int = 64,
                      bands: Int = 16, shingleSize: Int = 5,
                      candidateThreshold: Double = 0.5,
                      jaccardThreshold: Double = 0.9,
                      watermarkDelay: String = "10 minutes",
                      stateTtlMs: Long = 60 * 60 * 1000L,
                      maxBucketSize: Int = 1000)
  : Dataset[DupVerdict] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = docs.sparkSession
    import spark.implicits._
    val r = numHashes / bands
    val banded = docs
      .withColumn("sig",
        graft.functions.Text.minhashSig(col("text"), numHashes, shingleSize))
      // exact-verification payload: the doc's distinct shingle set as
      // sorted 64-bit hashes — computed ONCE per doc, before banding
      // replicates the row (array stays ~|distinct shingles| longs, far
      // smaller than the text for long documents)
      .withColumn("gram_hashes", array_sort(array_distinct(transform(
        graft.operators.Dedup.charNgrams(col("text"), shingleSize),
        g => xxhash64(g)))))
      .withColumn("bk",
        explode(expr(s"transform(sequence(0, ${bands - 1}), b -> " +
          s"struct(b AS band, xxhash64(slice(sig, b * $r + 1, $r)) AS bucket))")))
      .select(col("doc_id"), col("ts"), col("sig"), col("gram_hashes"),
        col("bk.band"), col("bk.bucket"))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Timestamp, Array[Long], Array[Long], Int, Long)]

    // sorted-array intersection size (both inputs ascending, distinct)
    def intersect(a: Array[Long], b: Array[Long]): Int = {
      var i = 0; var j = 0; var n = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      n
    }

    banded
      .groupByKey { case (_, _, _, _, band, bucket) => (band, bucket) }
      .flatMapGroupsWithState[List[VerifiedEntry], DupVerdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state: GroupState[List[VerifiedEntry]]) =>
          val wm = state.getCurrentWatermarkMs()
          val arrivals = rows.toSeq.sortBy(_._2.getTime)
          if (arrivals.isEmpty) {
            val kept = state.getOption.getOrElse(Nil)
              .filter(e => wm <= 0 || e.tsMs + stateTtlMs > wm)
            if (kept.isEmpty) state.remove()
            else state.update(kept)
            Iterator.empty
          } else {
            var entries = state.getOption.getOrElse(Nil)
              .filter(e => wm <= 0 || e.tsMs + stateTtlMs > wm)
            val out = List.newBuilder[DupVerdict]
            arrivals.foreach { case (id, ts, sig, grams, _, _) =>
              entries.foreach { e =>
                if (e.id != id) {
                  var agree = 0
                  var i = 0
                  val n = math.min(sig.length, e.sig.length)
                  while (i < n) { if (sig(i) == e.sig(i)) agree += 1; i += 1 }
                  if (agree.toDouble / numHashes >= candidateThreshold) {
                    val inter = intersect(grams, e.gramHashes)
                    val union = grams.length + e.gramHashes.length - inter
                    val j = if (union == 0) 1.0
                      else math.rint(inter.toDouble / union * 1e6) / 1e6
                    if (j >= jaccardThreshold) out += DupVerdict(id, e.id, j)
                  }
                }
              }
              // degenerate-bucket cap — see nearDupCandidates; bounds state
              // size AND per-arrival compare work to maxBucketSize
              if (entries.lengthCompare(maxBucketSize) < 0)
                entries = VerifiedEntry(id, sig, grams, ts.getTime) :: entries
            }
            state.update(entries)
            state.setTimeoutTimestamp(entries.map(_.tsMs).max + stateTtlMs)
            out.result().iterator
          }
      }
  }

  /**
   * Stream-stream time-bounded equi-join — the attribution classic ("join
   * every click to the purchases by the same user within the next
   * `afterMs`"). Built on Structured Streaming's stream-stream inner
   * join: watermarks on BOTH sides plus an event-time RANGE condition are
   * exactly what lets the state store size itself — each side buffers
   * only rows younger than watermark + window, evicting as event time
   * advances. Without the range bound the join state grows forever; this
   * operator makes the bound part of the signature.
   *
   * Output columns: `l_id, l_ts, user_id, r_id, r_ts` (one row per
   * matched pair). Works identically on bounded Datasets (batch parity).
   */
  def intervalJoinStream(left: Dataset[Event], right: Dataset[Event],
                         beforeMs: Long, afterMs: Long,
                         watermarkDelay: String = "10 minutes",
                         joinType: String = "inner"): DataFrame = {
    require(beforeMs >= 0 && afterMs >= 0, "window bounds must be >= 0")
    require(Set("inner", "left_outer").contains(joinType),
      "joinType must be inner or left_outer")
    val l = left.toDF()
      .select(col("event_id").as("l_id"), col("ts").as("l_ts"),
        col("user_id"))
      .withWatermark("l_ts", watermarkDelay)
    val r = right.toDF()
      .select(col("event_id").as("r_id"), col("ts").as("r_ts"),
        col("user_id").as("r_user"))
      .withWatermark("r_ts", watermarkDelay)
    // left_outer: the null row for an unmatched click can only emit once
    // the watermark proves no purchase can still arrive — the range
    // condition is what makes that decidable, so outer results trickle
    // out as event time advances (same rows as batch, later arrival)
    l.join(r,
      col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $beforeMs MILLISECONDS") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $afterMs MILLISECONDS"),
      joinType)
      .select(col("l_id"), col("l_ts"), col("user_id"), col("r_id"), col("r_ts"))
  }

  /**
   * Driver-facing parity drive for [[intervalJoinStream]]: replays both
   * cohorts through MemoryStreams in ts-aligned chunks and compares the
   * streamed pair set with the plain batch join — output
   * `(n_stream, n_batch, n_matched)`, all equal when the streaming path
   * is exact. The watermark delay is stretched past the join window so
   * chunk-boundary skew between the two streams can never evict a row
   * before its match arrives (the SCALE path is [[intervalJoinStream]]
   * under a real delay; this is the correctness gate).
   */
  def intervalJoinStreamParity(spark: SparkSession,
                               leftB: Dataset[Event], rightB: Dataset[Event],
                               beforeMs: Long, afterMs: Long,
                               batches: Int = 2): DataFrame = {
    import spark.implicits._
    val lRows = leftB.collect().sortBy(_.ts.getTime)
    val rRows = rightB.collect().sortBy(_.ts.getTime)
    val batch = intervalJoinStream(leftB, rightB, beforeMs, afterMs)
    // an empty side makes the inner join empty by definition — report the
    // agreeing zeros rather than crashing the whole verify/bench driver
    // on a data-dependent cohort (no stream needs to run to prove it)
    val streamed = if (lRows.isEmpty || rRows.isEmpty) batch else {
      val delay = s"${beforeMs + afterMs + 3600000L} milliseconds"
      val lIn = MemoryStream[Event](implicitly[Encoder[Event]], spark.sqlContext)
      val rIn = MemoryStream[Event](implicitly[Encoder[Event]], spark.sqlContext)
      // time-aligned chunks: both sides advance together, so the (stretched)
      // watermark always trails every unmatched row's window
      def chunks(rows: Array[Event]) =
        rows.grouped(math.max(1, (rows.length + batches - 1) / batches))
          .map(_.toSeq).toList
      val steps = chunks(lRows).zipAll(chunks(rRows), Nil, Nil).map {
        case (lg, rg) => () => {
          if (lg.nonEmpty) lIn.addData(lg)
          if (rg.nonEmpty) rIn.addData(rg)
          ()
        }
      }
      replayRows(spark, intervalJoinStream(lIn.toDS(), rIn.toDS(),
        beforeMs, afterMs, watermarkDelay = delay), steps)
    }
    parityCounts(streamed, batch, Seq("l_id", "r_id"))
  }

  /**
   * Streaming CCNet gate: score each micro-batch of documents against a
   * FROZEN bigram model and keep docs at/below `maxPpl`, handing
   * survivors to `sink`. Stream-static by construction — the model is a
   * static frame trained offline (on the clean reference slice), scoring
   * is per-document with no cross-document interaction, so there is ZERO
   * streaming state to bound and batch/stream results are identical
   * row-for-row. foreachBatch reuses the BATCH operator verbatim — the
   * same reuse discipline as [[streamToSnapshots]].
   */
  def perplexityGateStream(docs: DataFrame, model: DataFrame,
                           idCol: String, textCol: String, maxPpl: Double)(
      sink: DataFrame => Unit)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.LangModel
    // model setup (checkpoint + Laplace-constants job) happens ONCE when
    // the stream is wired, not per micro-batch — the model is frozen
    val pm = LangModel.prepare(model)
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
        val kept = LangModel.scorePerplexity(b, pm, idCol, textCol)
          .where(col("ppl").isNull || col("ppl") <= maxPpl)
          .select(col(idCol))
        sink(b.join(kept, Seq(idCol), "left_semi"))
    }
  }

  /** Parity drive for [[perplexityGateStream]]: trains the model on the
    * full static corpus, streams the same corpus through the gate in two
    * micro-batches, and returns the surviving ids — which must equal the
    * batch [[graft.operators.LangModel.perplexityFilter]] cut exactly
    * (per-doc scoring under a frozen model has no batch-boundary
    * sensitivity; this drive proves it through a REAL streaming query). */
  def perplexityGateStreamParity(spark: SparkSession, docs: DataFrame,
                                 idCol: String, textCol: String,
                                 maxPpl: Double): DataFrame = {
    import spark.implicits._
    val model = graft.operators.LangModel.trainBigramLM(docs, textCol)
      .localCheckpoint(true)
    val rows = docs
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val base = 1700000000000L
    val events = rows.zipWithIndex.map { case ((id, text), i) =>
      DocEvent(id, new Timestamp(base + i * 1000L), text)
    }
    val (first, second) = events.splitAt(events.length / 2)

    val keptIds = new scala.collection.mutable.ArrayBuffer[Long]
    val input = MemoryStream[DocEvent](implicitly[Encoder[DocEvent]],
      spark.sqlContext)
    replay(spark, perplexityGateStream(
        input.toDS().select(col("doc_id"), col("text")),
        model, "doc_id", "text", maxPpl) { kept =>
      keptIds.synchronized {
        keptIds ++= kept.select(col("doc_id").cast("long")).as[Long].collect()
      }
    }, Seq(first, second).map(c => () => { input.addData(c.toSeq); () }))
    keptIds.toSeq.toDF("doc_id")
  }

  /** Streaming snapshot ingestion: micro-batch the stream into successive
    * snapshots of ONE repo via foreachBatch — each batch commits as the
    * repo's next snapshot generation (mirroring the reference's batch job
    * run per data drop, accumulating like a real snapshot repository).
    * `EsSnapshot.readTable(dest)` serves the latest batch;
    * `readTable(dest, Some("batch-N"))` any earlier one. */
  def streamToSnapshots(events: DataFrame, dest: String, numShards: Int)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    events.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val docs = graft.sources.Ingest.fromColumns(
          batch.toDF(), "events", "event_id", numShards)
        graft.sinks.EsSnapshot.write(docs, dest,
          graft.core.ShardConfig(numShards), Some(s"batch-$batchId"))
    }
  }

  final case class KeyEvent(key: Long, ts: Timestamp)
  final case class HeavyEmit(key: Long, guaranteed_count: Long)
  // public: state encoder codegen constructs/accesses these
  final case class SsEntry(key: Long, count: Long, err: Long)
  final case class HhState(entries: List[SsEntry], emitted: List[Long])

  /**
   * STREAMING heavy hitters with BOUNDED state — the stream analogue of
   * [[graft.operators.Sketches.frequentItems]]: per-key counts are
   * tracked in space-saving summaries (Metwally et al. 2005, "Efficient
   * computation of frequent and top-k elements in data streams"), one
   * summary of `capacityPerBucket` counters per hash bucket, so total
   * state is `numBuckets · capacityPerBucket` counters NO MATTER how
   * many distinct keys the stream carries — the property a grouped
   * `count()` in update mode cannot give.
   *
   * A key is emitted (exactly once, with its guaranteed count at
   * crossing time) when its GUARANTEED count — tracked count minus the
   * eviction-inherited overestimate — reaches `threshold`. Space-saving
   * invariants: a tracked key's true count lies in
   * `[count − err, count]`, and any key with true count above the
   * bucket's minimum tracked count is guaranteed tracked — so a key
   * whose true count reaches `threshold + maxErr` CANNOT be missed
   * (no false negatives beyond the documented error band), and an
   * emitted key's true count is ≥ `threshold` ALWAYS (guaranteed counts
   * never overestimate — no false positives, ever).
   *
   * When `capacityPerBucket` ≥ the bucket's distinct-key count nothing
   * evicts, `err` stays 0, counts are EXACT, and the emitted set equals
   * the batch `GROUP BY key HAVING count(*) ≥ threshold` — the
   * [[heavyHittersStreamParity]] / q_stream_heavy oracle. The emitted-set
   * memory is bounded by stream volume / threshold (a key must absorb
   * `threshold` arrivals to enter it).
   *
   * Works identically on a bounded Dataset (batch mode) for testing.
   */
  def heavyHittersStream(events: Dataset[KeyEvent], threshold: Long,
                         capacityPerBucket: Int = 4096,
                         numBuckets: Int = 64): Dataset[HeavyEmit] = {
    require(threshold > 0, "threshold must be positive")
    require(capacityPerBucket > 0 && numBuckets > 0,
      "capacity and buckets must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(e =>
        math.floorMod(scala.util.hashing.byteswap64(e.key), numBuckets.toLong))
      .flatMapGroupsWithState[HhState, HeavyEmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state: GroupState[HhState]) =>
          val prev = state.getOption.getOrElse(HhState(Nil, Nil))
          // small mutable summary (≤ capacity entries): key → (count, err)
          val m = scala.collection.mutable.LinkedHashMap.empty[Long, (Long, Long)]
          prev.entries.foreach(e => m.put(e.key, (e.count, e.err)))
          val emitted = scala.collection.mutable.LinkedHashSet(prev.emitted: _*)
          val out = scala.collection.mutable.ArrayBuffer.empty[HeavyEmit]
          rows.foreach { e =>
            m.get(e.key) match {
              case Some((c, err)) => m.update(e.key, (c + 1, err))
              case None if m.size < capacityPerBucket =>
                m.put(e.key, (1L, 0L))
              case None =>
                // evict the minimum-count entry (tie: smallest key, so
                // replay/recovery reproduces the same summary), inherit
                // its count as the newcomer's overestimate bound
                val (mk, (mc, _)) = m.minBy { case (k, (c, _)) => (c, k) }
                m.remove(mk)
                m.put(e.key, (mc + 1, mc))
            }
            val (c, err) = m(e.key)
            if (c - err >= threshold && !emitted.contains(e.key)) {
              emitted.add(e.key)
              out += HeavyEmit(e.key, c - err)
            }
          }
          state.update(HhState(
            m.iterator.map { case (k, (c, e)) => SsEntry(k, c, e) }.toList,
            emitted.toList))
          out.iterator
      }
  }

  /** Parity drive for [[heavyHittersStream]]: replays a bounded key
    * frame through a REAL 3-micro-batch MemoryStream query with
    * eviction-free capacity; the emitted key set must equal the batch
    * `GROUP BY HAVING` heavies exactly (counts accumulate across
    * batches in bucket state — the cross-batch catch is the point). */
  def heavyHittersStreamParity(spark: SparkSession, keys: DataFrame,
                               keyCol: String, threshold: Long): DataFrame = {
    import spark.implicits._
    val rows = keys.select(col(keyCol).cast("long")).as[Long].collect()
    val base = 1700000000000L
    val events = rows.zipWithIndex.map { case (k, i) =>
      KeyEvent(k, new Timestamp(base + i * 10L))
    }
    val third = math.max(events.length / 3, 1)
    replayChunks(spark, events.grouped(third).map(_.toSeq).toSeq)(
        heavyHittersStream(_, threshold))
      .select(col("key"), col("guaranteed_count").as("crossing_count"))
  }

  /**
   * Shared drift-window builder for [[driftStream]] and its batch
   * parity replica — ONE Column chain, so the streamed and batch
   * values are bit-identical by construction: per event-time window,
   * the Jensen-Shannon divergence (nats) of the window's event-type
   * distribution P against a caller-provided REFERENCE distribution Q
   * (a driver literal — counts from a healthy baseline period; types
   * outside the reference fold into an OTHER bucket whose Q mass is
   * 0, contributing the p·ln 2 ceiling term). Per window the counts
   * are exact longs, every p is one division, the per-bucket KL chain
   * folds in the GIVEN reference order (+ OTHER last) — a fixed
   * left-associated chain — and `js` rounds 6dp.
   */
  private def driftAgg(df: DataFrame, reference: Seq[(String, Long)],
                       windowDur: String): DataFrame = {
    val refTot = reference.map(_._2).sum.toDouble
    val aggs = reference.zipWithIndex.map { case ((t, _), i) =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"__c$i")
    } :+ sum(when(!col("event_type")
      .isin(reference.map(_._1): _*), 1L).otherwise(0L)).as("__other")
    val agged = df
      .groupBy(window(col("ts"), windowDur))
      .agg(count(lit(1)).as("n"), aggs: _*)
    val nD = col("n").cast("double")
    val terms = reference.zipWithIndex.map { case ((_, qc), i) =>
      val p = col(s"__c$i").cast("double") / nD
      val q = lit(qc.toDouble / refTot)
      val m = (p + q) / lit(2.0)
      when(col(s"__c$i") > 0L, p * log(p / m)).otherwise(lit(0.0)) +
        q * log(q / m)
    } :+ {
      val p = col("__other").cast("double") / nD
      when(col("__other") > 0L, p * log(lit(2.0))).otherwise(lit(0.0))
    }
    agged.select(col("window.start").as("window_start"), col("n"),
      round(terms.reduceLeft(_ + _) / lit(2.0), 6).as("js"))
  }

  /**
   * TRUE-streaming categorical drift monitor — the [[graft.operators
   * .TextAnalysis.corpusJsDivergence]] idea on a live stream: per
   * event-time window, how far has the stream's event-type mix
   * drifted from the reference distribution? Plain watermarked
   * windowed aggregation (append mode — a window emits ONCE, when the
   * watermark passes its end), no keyed state: the monitoring shape
   * that scales to any event rate because the state is one count
   * vector per open window.
   *
   * Returns (`window_start`, `n`, `js`) per closed window; alert
   * thresholds are the caller's policy (js ≤ ln 2 always).
   */
  def driftStream(events: Dataset[Event], reference: Seq[(String, Long)],
                  windowDur: String = "1 hour",
                  watermarkDelay: String = "0 seconds"): DataFrame = {
    require(reference.nonEmpty && reference.forall(_._2 >= 1L),
      "reference needs >= 1 type, every count >= 1")
    require(reference.map(_._1).distinct.size == reference.size,
      "duplicate reference types")
    driftAgg(events.toDF().withWatermark("ts", watermarkDelay),
      reference, windowDur)
  }

  /**
   * Driver-facing parity drive for [[driftStream]]: replays a bounded
   * cohort through a MemoryStream in ts-aligned micro-batches (+ one
   * watermark sentinel past maxTs + window to close the last window),
   * then compares every (window_start, n, js) row with the batch
   * replica over the same frame — bit-equal because both run ONE
   * shared Column chain ([[driftAgg]]). One row
   * (n_stream, n_batch, n_matched).
   */
  def driftStreamParity(spark: SparkSession, events: Dataset[Event],
                        reference: Seq[(String, Long)],
                        windowMs: Long = 3600000L,
                        batches: Int = 3): DataFrame = {
    import spark.implicits._
    require(windowMs >= 1000L, s"windowMs must be >= 1000: $windowMs")
    val windowDur = s"$windowMs milliseconds"
    val rows = sortedCohort(events)
    // the sentinel sits 1 ms past a far-future window BOUNDARY, so
    // it closes every real window while its OWN window's end stays
    // strictly ahead of the watermark — the sentinel never emits,
    // and the sink holds exactly the real windows
    val sentinelTs = (rows.last.ts.getTime / windowMs + 1000L) * windowMs + 1L
    val sentinel = Event(-1L, new Timestamp(sentinelTs), -1L, "wm", 0.0)
    val streamed = replayChunks(spark,
        tsAlignedChunks(rows, batches) :+ Seq(sentinel))(
        driftStream(_, reference, windowDur))
    parityCounts(streamed, driftAgg(events.toDF(), reference, windowDur),
      Seq("window_start", "n", "js"))
  }

  final case class CusumState(sPos: Long, sNeg: Long)

  final case class CusumPoint(event_id: Long, ts: Timestamp,
                              event_type: String, s_pos: Double,
                              s_neg: Double, alarm: Boolean)

  /**
   * TRUE-streaming two-sided CUSUM drift monitor — [[graft.operators
   * .TimeSeries.cusumDetect]]'s recursion kept live per event-type
   * key: state is TWO LONGS per key (the S⁺/S⁻ accumulators in
   * exact integer units — the bounded-state requirement met by
   * construction), each micro-batch folds its group's events in
   * (ts, event_id) order through the max(0, ·) recursion and emits
   * one scored point per event. Values quantize through the SAME
   * BigDecimal HALF_UP chain as the batch operator's `round`, so a
   * single-key cohort replayed in ts-aligned batches bit-matches
   * [[graft.operators.TimeSeries.cusumDetect]] row-for-row
   * ([[cusumStreamParity]] pins it).
   *
   * Ordering contract (the [[sessionize]] caveat): per-key event time
   * must be non-decreasing ACROSS micro-batches for exact recursion
   * semantics — within a batch the fold sorts; a late event landing
   * in a later batch folds at its arrival position (monitoring
   * semantics, stated).
   */
  def cusumStream(events: Dataset[Event], target: Double, slack: Double,
                  threshold: Double,
                  unitScale: Long = 100L): Dataset[CusumPoint] = {
    val spark = events.sparkSession
    import spark.implicits._
    require(unitScale >= 1, "unitScale must be >= 1")
    require(slack >= 0.0 && threshold > 0.0, "slack >= 0, threshold > 0")
    val uT = math.round(target * unitScale)
    val uK = math.round(slack * unitScale)
    val uH = math.round(threshold * unitScale)
    require(uH > 0, "threshold quantizes to 0 units — raise unitScale")
    def quant(v: Double): Long = // = Spark round(col * unitScale)
      java.math.BigDecimal.valueOf(v * unitScale)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[Event], state: GroupState[CusumState]) =>
          val st = state.getOption.getOrElse(CusumState(0L, 0L))
          var sp = st.sPos
          var sn = st.sNeg
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            .map { e =>
              val u = quant(e.value)
              sp = math.max(0L, sp + (u - uT - uK))
              sn = math.max(0L, sn + (uT - uK - u))
              CusumPoint(e.event_id, e.ts, key,
                sp.toDouble / unitScale, sn.toDouble / unitScale,
                sp > uH || sn > uH)
            }
          state.update(CusumState(sp, sn))
          out.iterator
      }
  }

  /**
   * Driver-facing parity drive for [[cusumStream]]: replays a bounded
   * SINGLE-KEY cohort (one event type — the stream's per-key recursion
   * then equals the batch operator's global fold) through a
   * MemoryStream in ts-aligned micro-batches, then joins every
   * streamed (event_id, s_pos, s_neg, alarm) against
   * [[graft.operators.TimeSeries.cusumDetect]] over the same frame at
   * millisecond timestamps. One row (n_stream, n_batch, n_matched).
   */
  def cusumStreamParity(spark: SparkSession, events: Dataset[Event],
                        target: Double, slack: Double, threshold: Double,
                        unitScale: Long = 100L,
                        batches: Int = 3): DataFrame = {
    import spark.implicits._
    val rows = sortedCohort(events)
    require(rows.map(_.event_type).distinct.length == 1,
      "parity cohort must carry ONE event type (single-key recursion)")
    val streamed = replayChunks(spark, tsAlignedChunks(rows, batches))(
      cusumStream(_, target, slack, threshold, unitScale))
    val batch = graft.operators.TimeSeries.cusumDetect(
      events.toDF().withColumn("ts_ms", unix_millis(col("ts"))),
      "ts_ms", "event_id", "value", target, slack, threshold, unitScale)
      .withColumnRenamed("id", "event_id")
    parityCounts(streamed, batch, Seq("event_id", "s_pos", "s_neg", "alarm"))
  }

  final case class MsprtState(nT: Long, s1T: Long, s2T: Long,
                              nC: Long, s1C: Long, s2C: Long,
                              look: Long, pMin: Option[Double],
                              loMax: Option[Double],
                              hiMin: Option[Double])

  /** Map-side per-batch moment cell for [[msprtStream]]: one row per
    * input partition per micro-batch (both arms' exact n/Σu/Σu²) —
    * the shuffle to the single state task carries ≤ #partitions cells
    * instead of every event row. */
  final case class MsprtCell(nT: Long, s1T: Long, s2T: Long,
                             nC: Long, s1C: Long, s2C: Long)

  final case class MsprtPoint(look: Long, n_t: Long, n_c: Long,
                              diff: Option[Double],
                              p_always: Option[Double],
                              lo: Option[Double], hi: Option[Double])

  /**
   * TRUE-streaming always-valid experiment monitor (the 14th
   * streaming surface) — [[graft.operators.Profiling.sequentialMSPRT]]
   * kept live: the mSPRT exists BECAUSE experimenters peek
   * continuously, so its natural deployment is a stream emitting one
   * always-valid readout per micro-batch (one micro-batch = one LOOK;
   * the trigger interval IS the look cadence — stated). Next to
   * [[srmStream]] this completes the live pair: one guards the split,
   * one reads the effect, both peek-safe.
   *
   * State is SIX EXACT LONGS per key (cumulative n/Σu/Σu² per arm —
   * quantized through the batch operator's BigDecimal HALF_UP chain)
   * plus the running p/CI folds; within a batch the moment updates
   * are exact integer sums, so NO per-key ordering contract is needed
   * (unlike [[cusumStream]]'s recursion — a first for the stateful
   * surfaces). Σu² must stay under 2⁶³: at |u| ≤ 10⁵ units that is
   * ~10⁸ rows per key — lower `unitScale` for longer-lived monitors
   * (stated; the batch operator's decimal moments have no such bound).
   * Every emitted value replays the batch Column chains as the SAME
   * JVM IEEE operations in the SAME order, so a cohort replayed one
   * look per micro-batch bit-matches [[graft.operators.Profiling
   * .sequentialMSPRT]] row-for-row ([[msprtStreamParity]] pins it).
   * The arm label rides in `event_type`; `treatArm` is treatment,
   * everything else is control (the batch operator's two-arm
   * equality contract).
   */
  def msprtStream(events: Dataset[Event], treatArm: String,
                  tau2: Double, alpha: Double = 0.05,
                  unitScale: Long = 100L): Dataset[MsprtPoint] = {
    val spark = events.sparkSession
    import spark.implicits._
    require(tau2 > 0.0, s"tau2 (mixture prior variance) must be > 0: $tau2")
    require(alpha > 0.0 && alpha < 1.0, s"alpha in (0,1): $alpha")
    require(unitScale >= 1, "unitScale must be >= 1")
    def quant(v: Double): Long = // = Spark round(col * unitScale)
      java.math.BigDecimal.valueOf(v * unitScale)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    def r6(x: Double): Double = // = Num.roundz(c, 6)
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue + 0.0
    val u2 = (unitScale * unitScale).toDouble
    // MAP-SIDE PER-BATCH PRE-AGGREGATE: the monitor's own contract —
    // within a batch the moment updates are exact integer sums, so no
    // per-key ordering is needed — licenses reducing each input
    // partition to ONE (n, Σu, Σu²)-per-arm cell BEFORE the
    // single-key state shuffle. Integer-sum associativity makes the
    // fold's arithmetic and every emitted value bit-identical to the
    // row-grained form ([[msprtStreamParity]] still pins batch
    // parity); what changes is the state task's input: ≤ #partitions
    // cells per micro-batch instead of every event row — the
    // single-task bottleneck at 100× stream volume is gone. Empty
    // partitions emit NO cell, so a batch's look count is unchanged
    // (a look fires iff the batch carried data, as before). All sums
    // are addExact-guarded (fail-loud symmetry: Σu could only wrap
    // after ~9.2e18 unit-scale rows, but the house convention is to
    // trap, not wrap).
    val cells = events.mapPartitions { it =>
      var nT = 0L; var s1T = 0L; var s2T = 0L
      var nC = 0L; var s1C = 0L; var s2C = 0L
      var any = false
      it.foreach { e =>
        any = true
        val u = quant(e.value)
        if (e.event_type == treatArm) {
          nT += 1L; s1T = math.addExact(s1T, u)
          s2T = math.addExact(s2T, math.multiplyExact(u, u))
        } else {
          nC += 1L; s1C = math.addExact(s1C, u)
          s2C = math.addExact(s2C, math.multiplyExact(u, u))
        }
      }
      if (any) Iterator.single(MsprtCell(nT, s1T, s2T, nC, s1C, s2C))
      else Iterator.empty
    }
    cells.groupByKey(_ => true)
      .flatMapGroupsWithState[MsprtState, MsprtPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Boolean, it: Iterator[MsprtCell],
         state: GroupState[MsprtState]) =>
          val st = state.getOption.getOrElse(
            MsprtState(0L, 0L, 0L, 0L, 0L, 0L, 0L, None, None, None))
          var (nT, s1T, s2T) = (st.nT, st.s1T, st.s2T)
          var (nC, s1C, s2C) = (st.nC, st.s1C, st.s2C)
          it.foreach { c =>
            nT += c.nT; s1T = math.addExact(s1T, c.s1T)
            s2T = math.addExact(s2T, c.s2T)
            nC += c.nC; s1C = math.addExact(s1C, c.s1C)
            s2C = math.addExact(s2C, c.s2C)
          }
          // the sequentialMSPRT Column chains as JVM IEEE ops, same
          // operation order (the cusumStream parity convention)
          def mean(s1: Long, n: Long): Double =
            s1.toDouble / (n * unitScale).toDouble
          def vr(s1: Long, s2: Long, n: Long): Double =
            ((s2.toDouble - s1.toDouble * s1.toDouble / n.toDouble) /
              (n - 1.0)) / u2
          val ok = nT >= 2L && nC >= 2L && {
            val v = vr(s1T, s2T, nT) / nT.toDouble +
              vr(s1C, s2C, nC) / nC.toDouble
            v > 0.0
          }
          val look = st.look + 1L
          val (pMin, loMax, hiMin, diff) = if (ok) {
            val v = vr(s1T, s2T, nT) / nT.toDouble +
              vr(s1C, s2C, nC) / nC.toDouble
            val d = mean(s1T, nT) - mean(s1C, nC)
            val lam = math.sqrt(v / (v + tau2)) *
              math.exp(d * d * tau2 / (2.0 * v * (v + tau2)))
            val pRaw = math.min(1.0, 1.0 / lam)
            val radius = math.sqrt((v * (v + tau2) / tau2) *
              math.log((v + tau2) / (alpha * alpha * v)))
            (Some(st.pMin.fold(pRaw)(math.min(_, pRaw))),
              Some(st.loMax.fold(d - radius)(math.max(_, d - radius))),
              Some(st.hiMin.fold(d + radius)(math.min(_, d + radius))),
              Some(d))
          } else (st.pMin, st.loMax, st.hiMin, None)
          state.update(MsprtState(nT, s1T, s2T, nC, s1C, s2C, look,
            pMin, loMax, hiMin))
          Iterator.single(MsprtPoint(look, nT, nC,
            diff.map(r6), pMin.map(r6), loMax.map(r6), hiMin.map(r6)))
      }
  }

  /**
   * Driver-facing parity drive for [[msprtStream]]: replays a bounded
   * cohort through a MemoryStream ONE LOOK (day) PER MICRO-BATCH,
   * then joins every streamed readout — by look POSITION plus all
   * five value columns — against [[graft.operators.Profiling
   * .sequentialMSPRT]] over the same frame with the day as the look
   * column. Bit-equal because the state function replays the batch
   * Column chains as identical JVM IEEE chains. One row
   * (n_stream, n_batch, n_matched).
   */
  def msprtStreamParity(spark: SparkSession, events: Dataset[Event],
                        treatArm: String, tau2: Double,
                        alpha: Double = 0.05,
                        unitScale: Long = 100L): DataFrame = {
    import spark.implicits._
    val dayMs = 86400000L
    val byLook = sortedCohort(events).groupBy(_.ts.getTime / dayMs)
      .toSeq.sortBy(_._1).map(_._2.toSeq)
    val streamed = replayChunks(spark, byLook)(
      msprtStream(_, treatArm, tau2, alpha, unitScale))
    val batchRaw = graft.operators.Profiling.sequentialMSPRT(
      events.toDF()
        .withColumn("ts_ms", unix_millis(col("ts")))
        .withColumn("day", expr(s"ts_ms div $dayMs")),
      "day", "event_type", treatArm, "value", tau2, alpha, unitScale)
    // look POSITION: the stream numbers looks 1..k in arrival order,
    // the batch carries the day value — rank the batch looks ascending
    val w = org.apache.spark.sql.expressions.Window.orderBy("look")
    val batch = batchRaw
      .withColumn("look", row_number().over(w).cast("long"))
    parityCounts(streamed, batch,
      Seq("look", "n_t", "n_c", "diff", "p_always", "lo", "hi"))
  }

  /**
   * Shared SRM-window builder for [[srmStream]] and its batch parity
   * replica — ONE Column chain (the [[driftStream]] convention), and
   * the per-arm χ² term is [[graft.operators.Profiling.srmChi2Term]]
   * VERBATIM (the batch [[graft.operators.Profiling.srmCheck]]
   * chain), so stream, batch replica, and the fixed-horizon check all
   * share the arithmetic: per event-time window, exact long arm
   * counts, E_g = n·(num_g/10⁶) from the designed shares carried as
   * exact rationals, χ² summed left-associated in SORTED ARM ORDER
   * (= srmCheck's arm-ordered fold), `chi2` rounds 4dp. An observed
   * arm outside the design fails loud IN-PLAN when its window emits
   * (the srmCheck contract — a silent drop would hide exactly the
   * randomization bug SRM hunts). Designed arms with zero observed
   * rows in a window still contribute E_g.
   */
  private def srmAgg(df: DataFrame, shares: Seq[(String, Long)],
                     windowDur: String): DataFrame = {
    val arms = shares.map(_._1)
    val aggs = arms.zipWithIndex.map { case (a, i) =>
      sum(when(col("event_type") === a, 1L).otherwise(0L)).as(s"__o$i")
    } :+ sum(when(!col("event_type").isin(arms: _*), 1L).otherwise(0L))
      .as("__unknown")
    val agged = df
      // NULL arm labels are dropped BEFORE the window aggregate (the
      // srmCheck convention): a NULL label is neither a designed arm
      // nor an unknown one — `=== a` and `!isin(...)` both evaluate
      // NULL -> otherwise(0), so without this filter NULL rows would
      // count into n but into NO O_g, skewing every E_g silently AND
      // slipping past the unknown-arm raise
      .filter(col("event_type").isNotNull)
      .groupBy(window(col("ts"), windowDur))
      .agg(count(lit(1)).as("__nall"), aggs: _*)
      .filter(when(col("__unknown") > 0L,
        raise_error(lit("srmStream: observed arm outside the designed " +
          "split — randomization is emitting arms the design never " +
          "had"))).otherwise(lit(true)))
    val n = col("__nall")
    val terms = shares.zipWithIndex.map { case ((_, num), i) =>
      graft.operators.Profiling.srmChi2Term(col(s"__o$i"), n, lit(num))
    }
    agged.select(col("window.start").as("window_start"),
      n.as("n"), lit(shares.size.toLong).as("k"),
      lit(shares.size.toLong - 1L).as("df1"),
      when(n > 0L, round(terms.reduceLeft(_ + _), 4)).as("chi2"))
  }

  /**
   * TRUE-streaming sample-ratio-mismatch guardrail (the 13th
   * streaming surface) — [[graft.operators.Profiling.srmCheck]] run
   * CONTINUOUSLY: a randomization bug (broken bucketing, bot
   * filtering biased by arm, redirect loss) shows up in the first
   * hour of an experiment, not at the fixed-horizon readout, and SRM
   * is the one guardrail whose real deployment is a live monitor.
   * Plain watermarked windowed aggregation over the arm label carried
   * in `event_type` (append mode — a window emits once, when the
   * watermark passes its end), no keyed state: per closed window the
   * designed-vs-observed χ² from the shared [[srmAgg]] chain. Alert
   * thresholds are the caller's policy (df = k−1; at k = 2 the
   * 3.84/6.63 cutoffs are the 5%/1% lines — the srmCheck convention).
   *
   * Returns (`window_start`, `n`, `k`, `df1`, `chi2`) per closed
   * window.
   */
  def srmStream(events: Dataset[Event],
                expectedShares: Map[String, Double],
                windowDur: String = "1 hour",
                watermarkDelay: String = "0 seconds"): DataFrame = {
    require(expectedShares.size >= 2, "need >= 2 designed arms")
    require(expectedShares.values.forall(s => s > 0.0 && s < 1.0),
      "every designed share must be in (0,1)")
    val tot = expectedShares.values.sum
    require(math.abs(tot - 1.0) < 1e-9,
      s"designed shares must sum to 1: $tot")
    val shares = expectedShares.toSeq.sorted
      .map { case (g, s) => (g, math.round(s * 1000000L)) }
    srmAgg(events.toDF().withWatermark("ts", watermarkDelay),
      shares, windowDur)
  }

  /**
   * Driver-facing parity drive for [[srmStream]] (the
   * [[driftStreamParity]] machinery): replays a bounded cohort —
   * arm label in `event_type` — through a MemoryStream in ts-aligned
   * micro-batches (+ one far-future sentinel CARRYING A DESIGNED ARM
   * to close every real window without tripping the unknown-arm
   * raise), then compares every (window_start, n, k, df1, chi2) row
   * with the batch replica over the same frame — bit-equal because
   * both run the ONE [[srmAgg]] chain. One row
   * (n_stream, n_batch, n_matched).
   */
  def srmStreamParity(spark: SparkSession, events: Dataset[Event],
                      expectedShares: Map[String, Double],
                      windowMs: Long = 3600000L,
                      batches: Int = 3): DataFrame = {
    import spark.implicits._
    require(windowMs >= 1000L, s"windowMs must be >= 1000: $windowMs")
    val windowDur = s"$windowMs milliseconds"
    val rows = sortedCohort(events)
    // the driftStreamParity sentinel, carrying a DESIGNED arm: its
    // own window stays open (never emits, so it never pollutes the
    // χ² rows) while its watermark closes every real window
    val sentinelTs = (rows.last.ts.getTime / windowMs + 1000L) * windowMs + 1L
    val sentinel = Event(-1L, new Timestamp(sentinelTs), -1L,
      expectedShares.keys.toSeq.min, 0.0)
    val streamed = replayChunks(spark,
        tsAlignedChunks(rows, batches) :+ Seq(sentinel))(
        srmStream(_, expectedShares, windowDur))
    val shares = expectedShares.toSeq.sorted
      .map { case (g, s) => (g, math.round(s * 1000000L)) }
    parityCounts(streamed, srmAgg(events.toDF(), shares, windowDur),
      Seq("window_start", "n", "k", "df1", "chi2"))
  }
}
