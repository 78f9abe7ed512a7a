package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.streaming.Streams.{Event, Session}

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("sessionize splits per-user event runs on the gap (batch parity)") {
    val events = Seq(
      Event(1, ts(0), 7, "click", 1.0),
      Event(2, ts(5), 7, "click", 2.0),
      Event(3, ts(40), 7, "click", 3.0),   // > 30min gap → new session
      Event(4, ts(2), 9, "view", 5.0)
    ).toDS()
    val sessions = Streams.sessionize(events, gapMs = 30 * 60 * 1000)
      .collect().sortBy(s => (s.user_id, s.start.getTime))
    assert(sessions.length === 3)
    assert(sessions(0) === Session(7, ts(0), ts(5), 2, 3.0))
    assert(sessions(1) === Session(7, ts(40), ts(40), 1, 3.0))
    assert(sessions(2) === Session(9, ts(2), ts(2), 1, 5.0))
  }

  test("sessionizeStream closes sessions only after the watermark passes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[Event]
    val sessions = Streams.sessionizeStream(input.toDS(), gapMs = 10 * 60 * 1000)
    val q = sessions.writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      // batch 1: user 7 has two events 5 min apart — one open session
      input.addData(Event(1, ts(0), 7, "click", 1.0), Event(2, ts(5), 7, "click", 2.0))
      q.processAllAvailable()
      assert(spark.table("sessions_out").count() === 0) // watermark hasn't passed

      // batch 2: user 7 again, 40 min later → new session buffered; the
      // state's event-time timeout is now 10:50 (last event + gap)
      input.addData(Event(3, ts(40), 7, "click", 3.0))
      q.processAllAvailable()

      // batches 3-4: OTHER users push the watermark past 10:50; user 7 has
      // no new data, so its sessions flush via the state timeout
      input.addData(Event(4, ts(55), 9, "view", 5.0))
      q.processAllAvailable()
      input.addData(Event(5, ts(56), 9, "view", 6.0))
      q.processAllAvailable()

      val out = spark.table("sessions_out").as[Session].collect()
        .sortBy(_.start.getTime)
      assert(out.length === 2)
      assert(out(0) === Session(7, ts(0), ts(5), 2, 3.0))
      assert(out(1) === Session(7, ts(40), ts(40), 1, 3.0))
    } finally q.stop()
  }

  test("sessionizeStream state survives a checkpoint restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    withTempDir("graft-restart") { tmp =>
      val ckpt = Files.createDirectory(tmp.resolve("restart-ckpt")).toString
      val outDir = Files.createDirectory(tmp.resolve("restart-out")).toString
      val input = MemoryStream[Event]
      val sessions = Streams.sessionizeStream(input.toDS(), gapMs = 10 * 60 * 1000)
      // the memory sink refuses checkpoint recovery; the parquet file sink
      // is the recoverable one (exactly-once via its file manifest)
      def start() = sessions.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()

      // run 1: user 7's session accumulates in state, nothing emits yet
      val q1 = start()
      try {
        input.addData(Event(1, ts(0), 7, "click", 1.0), Event(2, ts(5), 7, "click", 2.0))
        q1.processAllAvailable()
      } finally q1.stop()
      assert(spark.read.parquet(outDir).count() === 0)

      // run 2: a NEW query restores from the SAME checkpoint; pushing the
      // watermark must flush the session buffered BEFORE the restart —
      // proof the flatMapGroupsWithState state store round-tripped
      val q2 = start()
      try {
        input.addData(Event(3, ts(40), 9, "view", 5.0))
        q2.processAllAvailable()
        input.addData(Event(4, ts(41), 9, "view", 6.0))
        q2.processAllAvailable()
      } finally q2.stop()
      val out = spark.read.parquet(outDir).as[Session].collect()
      assert(out.toSeq === Seq(Session(7, ts(0), ts(5), 2, 3.0)))
    }
  }

  test("windowedTypeCounts: identical logic runs batch and streaming") {
    // batch, over the real test table
    val batchDf = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val batchOut = Streams.windowedTypeCounts(batchDf, "1 hour")
    assert(batchOut.count() > 0)

    // streaming, same function, file source + watermark, AvailableNow
    withTempDir("graft-stream") { tmp =>
      val srcDir = Files.createDirectory(tmp.resolve("stream-src")).toString
      batchDf.write.mode("overwrite").parquet(srcDir)
      val stream = Streams.readEventStream(spark, srcDir)
      val out = Streams.windowedTypeCounts(stream, "1 hour", watermark = Some("10 minutes"))
      val ckpt = Files.createDirectory(tmp.resolve("stream-ckpt")).toString
      val q = out.writeStream.format("memory").queryName("win_counts")
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      // append mode only emits windows the watermark has passed; the final
      // (unclosed) window stays in state — everything BEFORE it must match
      // the batch result exactly.
      val streamed = spark.table("win_counts")
      val maxStart = streamed.agg(org.apache.spark.sql.functions.max("window_start"))
        .head().getTimestamp(0)
      val batchRows = batchOut
        .filter(org.apache.spark.sql.functions.col("window_start") <= maxStart)
        .collect().map(_.toString).sorted
      val streamRows = streamed.collect().map(_.toString).sorted
      assert(streamRows.nonEmpty)
      assert(streamRows.toSeq === batchRows.toSeq)
    }
  }

  test("slidingTypeCounts: each event lands in window/slide windows; batch == stream") {
    val batchDf = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val batchOut = Streams.slidingTypeCounts(batchDf, "1 hour", "15 minutes")
    // replication invariant: total weighted count = 4 × event count
    val total = batchOut.agg(org.apache.spark.sql.functions.sum("n"))
      .head().getLong(0)
    assert(total === 4L * batchDf.count())

    withTempDir("graft-slide") { tmp =>
      val srcDir = Files.createDirectory(tmp.resolve("slide-src")).toString
      batchDf.write.mode("overwrite").parquet(srcDir)
      val stream = Streams.readEventStream(spark, srcDir)
      val out = Streams.slidingTypeCounts(stream, "1 hour", "15 minutes",
        watermark = Some("10 minutes"))
      val ckpt = Files.createDirectory(tmp.resolve("slide-ckpt")).toString
      val q = out.writeStream.format("memory").queryName("slide_counts")
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val streamed = spark.table("slide_counts")
      val maxStart = streamed.agg(org.apache.spark.sql.functions.max("window_start"))
        .head().getTimestamp(0)
      val batchRows = batchOut
        .filter(org.apache.spark.sql.functions.col("window_start") <= maxStart)
        .collect().map(_.toString).sorted
      val streamRows = streamed.collect().map(_.toString).sorted
      assert(streamRows.nonEmpty)
      assert(streamRows.toSeq === batchRows.toSeq)
    }
  }

  test("streamToSnapshots: each micro-batch commits as the repo's next snapshot") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    withTempDir("graft-stream-snap") { dir =>
      val dest = dir.toString
      val input = MemoryStream[Event]
      val q = Streams.streamToSnapshots(input.toDF(), dest, numShards = 2).start()
      try {
        input.addData(Event(1, ts(0), 7, "click", 1.0), Event(2, ts(1), 8, "view", 2.0))
        q.processAllAvailable()
        input.addData(Event(3, ts(2), 9, "view", 3.0))
        q.processAllAvailable()
      } finally q.stop()

      // one repo, two snapshots; default read = the latest micro-batch
      assert(graft.sinks.EsSnapshot.readTable(spark, dest).count() === 1)
      assert(graft.sinks.EsSnapshot
        .readTable(spark, dest, Some("batch-0")).count() === 2)
      assert(graft.sinks.EsSnapshot
        .readTable(spark, dest, Some("batch-1")).count() === 1)
    }
  }

  test("nearDupCandidates: streaming LSH catches a near-dup arriving in a later batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val base = "the quick brown fox jumps over the lazy dog " * 8
    val input = MemoryStream[Streams.DocEvent]
    val cands = Streams.nearDupCandidates(input.toDS(), threshold = 0.5)
    val q = cands.writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      input.addData(
        Streams.DocEvent(1L, ts(0), base),
        Streams.DocEvent(2L, ts(1), "completely different content about engines " * 8))
      q.processAllAvailable()
      assert(spark.table("neardup_out").count() === 0) // nothing similar yet

      // a near-copy of doc 1 arrives in a LATER micro-batch: the bucket
      // state from batch 1 must still be there to catch it
      input.addData(Streams.DocEvent(3L, ts(5), base + "tail"))
      q.processAllAvailable()
      val pairs = spark.table("neardup_out")
        .select("id_a", "id_b").distinct()
        .collect().map(rw => (rw.getLong(0), rw.getLong(1))).toSet
      assert(pairs === Set((1L, 3L)))
    } finally q.stop()
  }

  test("nearDupVerdicts: end-to-end streaming dedup verifies exactly, across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val base = "the quick brown fox jumps over the lazy dog " * 8
    val input = MemoryStream[Streams.DocEvent]
    val verdicts = Streams.nearDupVerdicts(input.toDS(),
      candidateThreshold = 0.4, jaccardThreshold = 0.9)
    val q = verdicts.writeStream.format("memory").queryName("verdict_out")
      .outputMode("append").start()
    try {
      input.addData(
        Streams.DocEvent(1L, ts(0), base),
        Streams.DocEvent(2L, ts(1), "completely different content about engines " * 8))
      q.processAllAvailable()
      assert(spark.table("verdict_out").count() === 0)

      // batch 2: a byte-identical copy of doc 1 (jaccard exactly 1.0), and
      // an LSH-candidate-grade near-copy that exact verification REJECTS
      // is not constructible here (near-copies share most shingles), so
      // the reject path is covered by the distinct doc 4 below
      input.addData(
        Streams.DocEvent(3L, ts(5), base),
        Streams.DocEvent(4L, ts(6), "yet another unrelated subject entirely " * 8))
      q.processAllAvailable()
      val got = spark.table("verdict_out")
        .select("doc_id", "dup_of", "jaccard").distinct()
        .as[(Long, Long, Double)].collect().toSet
      assert(got === Set((3L, 1L, 1.0)))

      // survivors of batch 2 = arrivals minus verdict-carrying ids
      val dupIds = got.map(_._1)
      assert(!dupIds.contains(4L) && !dupIds.contains(2L))
    } finally q.stop()
  }

  test("nearDupVerdicts state survives a checkpoint restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    withTempDir("graft-nd-restart") { tmp =>
      val ckpt = Files.createDirectory(tmp.resolve("nd-restart-ckpt")).toString
      val outDir = Files.createDirectory(tmp.resolve("nd-restart-out")).toString
      val base = "the quick brown fox jumps over the lazy dog " * 8
      val input = MemoryStream[Streams.DocEvent]
      val verdicts = Streams.nearDupVerdicts(input.toDS(),
        candidateThreshold = 0.4, jaccardThreshold = 0.9)
      def start() = verdicts.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()

      // run 1: the original document enters bucket state; no verdict yet
      val q1 = start()
      try {
        input.addData(Streams.DocEvent(1L, ts(0), base))
        q1.processAllAvailable()
      } finally q1.stop()

      // run 2: a byte-identical copy arrives AFTER the restart — matching
      // it requires the (signature, gram-hash set) state written before the
      // stop to round-trip through the checkpoint's state store
      val q2 = start()
      try {
        input.addData(Streams.DocEvent(2L, ts(5), base))
        q2.processAllAvailable()
      } finally q2.stop()
      val got = spark.read.parquet(outDir)
        .select("doc_id", "dup_of", "jaccard").distinct()
        .as[(Long, Long, Double)].collect().toSet
      assert(got === Set((2L, 1L, 1.0)))
    }
  }

  test("intervalJoinStream: streamed pairs equal the batch join across batches") {
    // clicks at :00/:10/:50; purchases at :05/:12/:45/:55 — 30-min window
    val clicks = Seq(
      Event(1, ts(0), 7, "click", 0.0),
      Event(2, ts(10), 7, "click", 0.0),
      Event(3, ts(50), 7, "click", 0.0),
      Event(4, ts(0), 9, "click", 0.0))
    val purchases = Seq(
      Event(101, ts(5), 7, "purchase", 1.0),
      Event(102, ts(12), 7, "purchase", 2.0),
      Event(103, ts(45), 7, "purchase", 3.0),  // matches only click :50? no — within [50,80]? 45<50 → no; within [10,40]? 45>40 → no
      Event(104, ts(55), 7, "purchase", 4.0),
      Event(105, ts(59), 8, "purchase", 5.0))  // other user — never matches
    // expected (l_id, r_id): 1→101,102; 2→102; 3→104; 4→none
    val expected = Set((1L, 101L), (1L, 102L), (2L, 102L), (3L, 104L))

    val out = Streams.intervalJoinStreamParity(spark,
        clicks.toDS(), purchases.toDS(),
        beforeMs = 0L, afterMs = 30L * 60 * 1000, batches = 3)
      .collect().head
    assert(out.getAs[Long]("n_batch") === expected.size)
    assert(out.getAs[Long]("n_stream") === expected.size)
    assert(out.getAs[Long]("n_matched") === expected.size)

    // and the batch-mode operator itself produces exactly the pair set
    val pairs = Streams.intervalJoinStream(clicks.toDS(), purchases.toDS(),
        0L, 30L * 60 * 1000)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(pairs === expected)
  }

  test("intervalJoinStream left_outer emits unmatched lefts once the watermark decides") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lIn = MemoryStream[Event]
    val rIn = MemoryStream[Event]
    val joined = Streams.intervalJoinStream(lIn.toDS(), rIn.toDS(),
      beforeMs = 0L, afterMs = 30L * 60 * 1000,
      watermarkDelay = "1 minute", joinType = "left_outer")
    val sinkName = "graft_interval_join_outer_out"
    spark.catalog.dropTempView(sinkName)
    val q = joined.writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try {
      lIn.addData(Event(1, ts(0), 7, "click", 0.0),   // will match
                  Event(2, ts(0), 9, "click", 0.0))   // never matches
      rIn.addData(Event(101, ts(5), 7, "purchase", 1.0))
      q.processAllAvailable()
      // advance BOTH watermarks far past click+window+delay; two rounds
      // because outer-null emission fires against the previous watermark
      for (m <- Seq(50, 55)) {
        val sentinel = Event(-m, Timestamp.valueOf(f"2024-01-01 12:$m%02d:00"), -1, "wm", 0.0)
        lIn.addData(sentinel); rIn.addData(sentinel)
        q.processAllAvailable()
      }
    } finally q.stop()
    val rows = spark.table(sinkName).filter(col("user_id") >= 0)
      .select("l_id", "r_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(rows === Set((1L, 101L), (2L, -1L)))
  }

  test("dedupEvents batch mode drops exact key duplicates") {
    import spark.implicits._
    val e = Seq(
      Event(1, ts(0), 7, "click", 1.0),
      Event(1, ts(0), 7, "click", 1.0), // exact replay
      Event(2, ts(5), 7, "click", 2.0)).toDF()
    assert(Streams.dedupEvents(e, Seq("event_id")).count() === 2)
  }

  test("dedupEvents stream mode: replays within the watermark are dropped, state bounded") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[Event]
    val deduped = Streams.dedupEvents(input.toDS().toDF(), Seq("event_id"),
      watermark = Some(("ts", "10 minutes")))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(Event(1, ts(0), 7, "click", 1.0), Event(2, ts(1), 8, "view", 2.0))
      q.processAllAvailable()
      // replay of event 1 in a later micro-batch, still inside the bound
      input.addData(Event(1, ts(2), 7, "click", 1.0), Event(3, ts(3), 9, "view", 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L)) // the replay emitted nothing
    } finally q.stop()
  }

  test("perplexity gate: stream equals batch under a frozen model") {
    import org.apache.spark.sql.functions.col
    val docs = (Seq.tabulate(40)(i => (i.toLong, "the cat sat on the mat")) :+
      ((99L, "zq xv qqq zz pf")) :+ ((100L, "")))
      .toDF("doc_id", "text")
    val streamed = Streams.perplexityGateStreamParity(
      spark, docs, "doc_id", "text", maxPpl = 8.0)
      .as[Long].collect().toSet
    val batch = graft.operators.LangModel.perplexityFilter(
      docs, docs, "doc_id", "text", maxPpl = 8.0)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(streamed === batch, "micro-batched gate must match the batch cut")
    assert(!streamed.contains(99L) && streamed.contains(100L))
  }

  test("heavyHittersStream: counts accumulate across micro-batches, " +
      "exactly-once crossing emission, batch HAVING parity") {
    // key 1: 10 arrivals, key 2: 6, key 3: 2 — threshold 5; spread so NO
    // single batch alone crosses for key 2 (the cross-batch catch)
    val keys = (Seq.fill(10)(1L) ++ Seq.fill(6)(2L) ++ Seq.fill(2)(3L))
    val shuffled = new scala.util.Random(7).shuffle(keys)
    val out = Streams.heavyHittersStreamParity(
        spark, shuffled.toDF("k"), "k", threshold = 5L)
      .as[(Long, Long)].collect().toSeq
    assert(out.map(_._1).sorted === Seq(1L, 2L)) // each emitted exactly once
    assert(out.forall(_._2 === 5L)) // crossing count == threshold (exact path)
  }

  test("heavyHittersStream under eviction: no false positives, heavy key " +
      "still caught (space-saving guarantee)") {
    import org.apache.spark.sql.functions.col
    // one bucket, capacity 2, threshold 6: keys 10,20,...,80 appear once
    // each (churn), key 99 appears 30 times — err from evictions can
    // only DELAY its crossing, never mint a light key
    val base = 1700000000000L
    val churn = (0 until 8).flatMap(i => Seq.fill(1)((i + 1) * 10L))
    val rows = (churn.take(4) ++ Seq.fill(30)(99L) ++ churn.drop(4))
      .zipWithIndex.map { case (k, i) =>
        Streams.KeyEvent(k, new java.sql.Timestamp(base + i))
      }
    val out = Streams.heavyHittersStream(
        spark.createDataset(rows), threshold = 6L,
        capacityPerBucket = 2, numBuckets = 1)
      .collect().toSeq
    assert(out.map(_.key) === Seq(99L)) // only the true heavy emits
    assert(out.head.guaranteed_count >= 6L)
  }

  test("transitionsStream: pairs close on watermark, cross-batch, tail flush") {
    import spark.implicits._
    // u1: a@1s, b@2s in batch 1; c@10s in batch 2 — the (b,c) pair
    // spans batches; equal-ts pair (d,e) at 20s orders by event id
    val ev = Seq(
      Streams.Event(1L, ts(1000), 1L, "a", 0.0),
      Streams.Event(2L, ts(2000), 1L, "b", 0.0),
      Streams.Event(3L, ts(10000), 1L, "c", 0.0),
      Streams.Event(5L, ts(20000), 1L, "e", 0.0),
      Streams.Event(4L, ts(20000), 1L, "d", 0.0),
      Streams.Event(6L, ts(1000), 2L, "x", 0.0),
      Streams.Event(7L, ts(3000), 2L, "y", 0.0)
    ).toDS()
    val got = Streams.transitionsStreamParity(spark, ev, batches = 3)
      .as[(Long, Long, Long)].head()
    // batch pairs: u1 a>b, b>c, c>d, d>e; u2 x>y → 5 distinct groups
    assert(got === ((5L, 5L, 5L)))
  }

  test("transitionsStream: idle single-event tail evicted after stateTtlMs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val H = 3600000L
    // u1 leaves one event, goes idle for 3h while other traffic moves
    // the watermark, then reappears. With a 1h TTL the idle tail must
    // be evicted (chain restarts: no cross-gap pair, state bounded);
    // with a TTL covering the gap the adjacency survives.
    def drive(ttlMs: Long, tag: String): Set[(Long, String, String)] = {
      val input = MemoryStream[Event]
      val sinkName = s"graft_transitions_ttl_$tag"
      spark.catalog.dropTempView(sinkName)
      val q = Streams.transitionsStream(input.toDS(), stateTtlMs = ttlMs)
        .writeStream.format("memory").queryName(sinkName)
        .outputMode("append").start()
      try {
        input.addData(Event(1L, ts(1000L), 1L, "a", 0.0))
        q.processAllAvailable()
        // wm → 2h; u1's TTL timeout (1s + 1h) is now past due
        input.addData(Event(2L, ts(2 * H), 2L, "x", 0.0))
        q.processAllAvailable()
        // u1 has NO data this batch, so its timeout fires and (small
        // TTL) evicts the tail before the user reappears
        input.addData(Event(3L, ts(2 * H + 1000L), 2L, "y", 0.0))
        q.processAllAvailable()
        input.addData(Event(4L, ts(3 * H), 1L, "b", 0.0))
        q.processAllAvailable()
        // two sentinels: advance wm past every tail, then fire timeouts
        input.addData(Event(5L, ts(10 * H), 3L, "wm", 0.0))
        q.processAllAvailable()
        input.addData(Event(6L, ts(11 * H), 3L, "wm2", 0.0))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(sinkName).as[Streams.Transition].collect()
        .map(t => (t.user_id, t.from_type, t.to_type)).toSet
    }
    val small = drive(H, "small")
    assert(!small.contains((1L, "a", "b")),
      "a 1h-idle tail past its TTL must not form a cross-gap pair")
    assert(small.contains((2L, "x", "y"))) // unrelated pairs unaffected
    val large = drive(100 * H, "large")
    assert(large.contains((1L, "a", "b")),
      "a TTL covering the idle gap must keep the adjacency chain")
  }

  test("transitionsStream: TTL gap rule is batch-invariant (data path)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val H = 3600000L
    // u1's reappearance lands in the SAME batch that advances the
    // watermark past tail.ts + TTL — no data-less batch ever fires the
    // eviction timeout. The ≥-TTL cross-gap pair must still be
    // forfeited (same outcome as the timeout-eviction path), while
    // u1's post-gap chain and a sub-TTL gap (u2) both emit.
    val input = MemoryStream[Event]
    val sinkName = "graft_transitions_gap_rule"
    spark.catalog.dropTempView(sinkName)
    val q = Streams.transitionsStream(input.toDS(), stateTtlMs = H)
      .writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try {
      input.addData(Event(1L, ts(1000L), 1L, "a", 0.0),
        Event(2L, ts(1000L), 2L, "p", 0.0))
      q.processAllAvailable()
      // one batch: u1 back after 3h (≥ TTL), u2 after 30min (< TTL)
      input.addData(Event(3L, ts(3 * H), 1L, "b", 0.0),
        Event(4L, ts(3 * H + 1000L), 1L, "c", 0.0),
        Event(5L, ts(H / 2), 2L, "q", 0.0))
      q.processAllAvailable()
      input.addData(Event(6L, ts(10 * H), 3L, "wm", 0.0))
      q.processAllAvailable()
      input.addData(Event(7L, ts(11 * H), 3L, "wm2", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    import spark.implicits._
    val got = spark.table(sinkName).as[Streams.Transition].collect()
      .map(t => (t.user_id, t.from_type, t.to_type)).toSet
    assert(!got.contains((1L, "a", "b")),
      "a same-batch reappearance past the TTL must not pair across the gap")
    assert(got.contains((1L, "b", "c")), "the restarted chain still emits")
    assert(got.contains((2L, "p", "q")), "a sub-TTL gap is a real adjacency")
  }

  test("changepointsStream: parity with the batch operator across micro-batches") {
    import spark.implicits._
    // u1: 4 obs at 10.00 then 4 at 50.00 (one flag at the 5th), spread
    // over batches so the pre/post windows straddle micro-batch
    // boundaries; u2: flat series, never flags; equal-ts pair orders
    // by event id inside u1's post window
    val ev = (1 to 8).map { i =>
      Streams.Event(i.toLong, ts(i * 1000L), 1L, "v",
        if (i <= 4) 10.0 else 50.0)
    } ++ Seq(
      Streams.Event(14L, ts(4000L), 2L, "v", 7.0),
      Streams.Event(15L, ts(5000L), 2L, "v", 7.0),
      Streams.Event(16L, ts(6000L), 2L, "v", 7.0))
    val got = Streams.changepointsStreamParity(spark, ev.toDS(),
        window = 4, minShiftUnits = 1000L, batches = 4)
      .as[(Long, Long, Long)].head()
    assert(got === ((1L, 1L, 1L)))
  }

  test("ewmaStream: bit-exact parity with batch across micro-batches") {
    import spark.implicits._
    // u1: a varying series whose windows straddle batch boundaries;
    // equal-ts pair orders by id; u2 single row smooths to itself
    val ev = Seq(
      Streams.Event(1L, ts(1000L), 1L, "v", 1.0),
      Streams.Event(2L, ts(2000L), 1L, "v", 2.0),
      Streams.Event(3L, ts(3000L), 1L, "v", 4.0),
      Streams.Event(5L, ts(4000L), 1L, "v", 8.0),
      Streams.Event(4L, ts(4000L), 1L, "v", 6.0),
      Streams.Event(6L, ts(9000L), 2L, "v", 3.5))
    val got = Streams.ewmaStreamParity(spark, ev.toDS(),
        lookback = 4, batches = 3)
      .as[(Long, Long, Long)].head()
    assert(got === ((6L, 6L, 6L)))
  }

  test("ewmaStream: a >=TTL gap restarts the smoothing window") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val H = 3600000L
    val input = MemoryStream[Streams.Event]
    val sinkName = "graft_ewma_ttl"
    spark.catalog.dropTempView(sinkName)
    val q = Streams.ewmaStream(input.toDS(), lookback = 4,
        stateTtlMs = H)
      .writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try {
      // two obs, a 3 h gap, then a third: the third must smooth from
      // a FRESH window (ewma == its own value), not blend across
      input.addData(Seq(
        Streams.Event(1L, ts(1000L), 1L, "v", 10.0),
        Streams.Event(2L, ts(2000L), 1L, "v", 20.0),
        Streams.Event(3L, ts(3 * H), 1L, "v", 40.0)))
      q.processAllAvailable()
      input.addData(Streams.Event(90L, ts(4 * H), 2L, "wm", 0.0))
      q.processAllAvailable()
      input.addData(Streams.Event(91L, ts(5 * H), 2L, "wm", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(sinkName)
      .filter(org.apache.spark.sql.functions.col("user_id") === 1L)
      .as[Streams.EwmaPoint].collect().map(p => p.event_id -> p.ewma).toMap
    assert(got(1L) === 10.0)
    // second row blends within the sub-TTL prefix: (2000·8+1000·4)/1200
    assert(got(2L) === 20000.0 / 1200.0)
    // post-gap row restarts: its own value exactly
    assert(got(3L) === 40.0)
  }

  test("changepointsStream: TTL gap splits the series; idle state evicts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val H = 3600000L
    // u1 has a textbook level shift, but its two halves sit 3 h apart;
    // with a 1 h TTL the gap voids every window spanning it → NO flag,
    // while a TTL covering the gap flags the 5th observation
    def drive(ttlMs: Long, tag: String): Seq[Long] = {
      val input = MemoryStream[Streams.Event]
      val sinkName = s"graft_changepoints_ttl_$tag"
      spark.catalog.dropTempView(sinkName)
      val q = Streams.changepointsStream(input.toDS(), window = 2,
          minShiftUnits = 100L, stateTtlMs = ttlMs)
        .writeStream.format("memory").queryName(sinkName)
        .outputMode("append").start()
      try {
        input.addData((1 to 4).map(i => Streams.Event(i.toLong,
          ts(if (i <= 2) i * 1000L else 3 * H + i * 1000L), 1L, "v",
          if (i <= 2) 10.0 else 50.0)))
        q.processAllAvailable()
        input.addData(Streams.Event(90L, ts(4 * H), 2L, "wm", 0.0))
        q.processAllAvailable()
        input.addData(Streams.Event(91L, ts(5 * H), 2L, "wm", 0.0))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(sinkName)
        .filter(org.apache.spark.sql.functions.col("user_id") === 1L)
        .as[Streams.ChangePoint].collect().map(_.event_id).toSeq.sorted
    }
    assert(drive(H, "short") === Seq.empty,
      "a >=TTL gap must void windows spanning it")
    assert(drive(10 * H, "long") === Seq(3L),
      "with the TTL past the gap the shift flags at the 3rd observation")
  }

  test("driftStream: per-window JS vs the reference — identical mix " +
      "reads 0, disjoint mix reads ln 2; stream bit-matches batch") {
    import spark.implicits._
    val ref = Seq(("a", 2L), ("b", 2L))
    // w0 (0-60s): mix == reference -> js 0; w1: all 'a'; w2: all
    // outside the reference (the OTHER bucket's ln 2 ceiling)
    val ev = Seq(
      Event(1, ts(0L), 1, "a", 0.0), Event(2, ts(1000L), 1, "b", 0.0),
      Event(3, ts(60000L), 1, "a", 0.0),
      Event(4, ts(61000L), 1, "a", 0.0),
      Event(5, ts(120000L), 1, "c", 0.0))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // batch evaluation of the SAME builder (watermark is a no-op on a
    // bounded frame): hand values per window
    val batch = Streams.driftStream(ev.toDS(), ref, "60 seconds")
      .orderBy("window_start")
      .as[(java.sql.Timestamp, Long, Double)].collect()
    assert(batch.length === 3)
    assert(batch(0)._3 === 0.0)
    // all-a window: ln(4/3) + 0.5·ln(2/3) + 0.5·ln 2, halved
    val w1 = (1.0 * math.log(1.0 / 0.75) + 0.5 * math.log(0.5 / 0.75) +
      0.5 * math.log(0.5 / 0.25)) / 2.0
    assert(batch(1)._3 === r6(w1))
    assert(batch(2)._3 === r6(math.log(2.0)))
    // true-streaming parity: every closed window identical to batch
    val got = Streams.driftStreamParity(spark, ev.toDS(), ref,
      windowMs = 60000L, batches = 2)
      .as[(Long, Long, Long)].head()
    assert(got === ((3L, 3L, 3L)))
    intercept[IllegalArgumentException] {
      Streams.driftStream(ev.toDS(), Seq(("a", 0L)), "60 seconds")
    }
  }

  test("cusumStream: per-key two-long state tracks the hand recursion; " +
      "single-type parity drive bit-matches batch cusumDetect") {
    import spark.implicits._
    // values 10,0,10,10,0 vs target 4 slack 1 (the batch spec's hand
    // case): S+ = 5,0,5,10,5 and S- = 0,3,0,0,3 at unitScale 1
    val ev = (1 to 5).map { i =>
      Event(i.toLong, ts(i * 1000L), 1L, "m",
        Seq(10.0, 0.0, 10.0, 10.0, 0.0)(i - 1))
    }
    val pts = Streams.cusumStream(ev.toDS(), target = 4.0, slack = 1.0,
      threshold = 9.0, unitScale = 1L)
      .collect().sortBy(_.event_id)
    assert(pts.map(_.s_pos).toSeq === Seq(5.0, 0.0, 5.0, 10.0, 5.0))
    assert(pts.map(_.s_neg).toSeq === Seq(0.0, 3.0, 0.0, 0.0, 3.0))
    assert(pts.map(_.alarm).toSeq ===
      Seq(false, false, false, true, false))
    // two keys evolve INDEPENDENT state: a per-key constant-low stream
    // alarms on its own negative side, untouched by the other key
    val two = ev ++ (1 to 3).map(i =>
      Event(10L + i, ts(i * 1000L), 1L, "k2", 0.0))
    val byKey = Streams.cusumStream(two.toDS(), 4.0, 1.0, 5.0, 1L)
      .collect().groupBy(_.event_type)
    assert(byKey("k2").sortBy(_.event_id).map(_.s_neg).toSeq ===
      Seq(3.0, 6.0, 9.0))
    // parity drive: streamed rows bit-match the batch closed form
    val got = Streams.cusumStreamParity(spark, ev.toDS(), 4.0, 1.0, 9.0,
      unitScale = 1L, batches = 3).as[(Long, Long, Long)].head()
    assert(got === ((5L, 5L, 5L)))
    intercept[IllegalArgumentException] { // mixed-type cohort rejected
      Streams.cusumStreamParity(spark, two.toDS(), 4.0, 1.0, 9.0, 1L)
    }
  }

  private def ts(ms: Long) = new java.sql.Timestamp(ms)

  test("srmStream: per-window chi2 matches the srmCheck hand case; " +
      "parity drive bit-matches the batch replica; unknown arm and " +
      "bad shares fail loud") {
    import spark.implicits._
    // window 1 ([0, 60s)): 30 'a' + 70 'b' on a 50/50 design — the
    // srmCheck hand case, chi2 = 2 * 20^2/50 = 16; window 2
    // ([60s, 120s)): a clean 50/50, chi2 = 0
    val w1 = (1 to 30).map(i =>
      Event(i.toLong, ts(1000L + i), 1L, "a", 0.0)) ++
      (31 to 100).map(i => Event(i.toLong, ts(1000L + i), 1L, "b", 0.0))
    val w2 = (101 to 150).map(i =>
      Event(i.toLong, ts(61000L + i), 1L, "a", 0.0)) ++
      (151 to 200).map(i => Event(i.toLong, ts(61000L + i), 1L, "b", 0.0))
    val design = Map("a" -> 0.5, "b" -> 0.5)
    val got = Streams.srmStreamParity(spark, (w1 ++ w2).toDS(), design,
      windowMs = 60000L, batches = 2).as[(Long, Long, Long)].head()
    assert(got === ((2L, 2L, 2L)))
    // (2, 2, 2) means every streamed row equals a batch-replica row on
    // all five columns, so the hand arithmetic is asserted on the replica
    val streamed = Streams.srmStream((w1 ++ w2).toDS(), design,
        "60000 milliseconds")
      .select("window_start", "n", "k", "df1", "chi2")
      .as[(Timestamp, Long, Long, Long, Option[Double])]
      .collect().sortBy(_._1.getTime)
    assert(streamed.map(_._2).toSeq === Seq(100L, 100L))
    assert(streamed.map(_._3).toSeq === Seq(2L, 2L))
    assert(streamed.map(_._4).toSeq === Seq(1L, 1L))
    assert(streamed.map(_._5).toSeq === Seq(Some(16.0), Some(0.0)))
    // an observed arm outside the design fails the STREAM loud when
    // its window emits (the srmCheck raise_error contract)
    intercept[Exception] {
      Streams.srmStreamParity(spark,
        (w1 :+ Event(999L, ts(2000L), 1L, "ghost", 0.0)).toDS(),
        design, windowMs = 60000L, batches = 1)
    }
    // NULL arm labels are dropped BEFORE the aggregate (the srmCheck
    // convention): they must count into neither n nor any O_g — a
    // NULL is not an unknown arm, and without the filter it would
    // skew every E_g silently
    val withNulls = w1 ++ (1 to 10).map(i =>
      Event(2000L + i, ts(3000L + i), 1L, null, 0.0))
    val gotN = Streams.srmStreamParity(spark, withNulls.toDS(), design,
      windowMs = 60000L, batches = 1).as[(Long, Long, Long)].head()
    assert(gotN === ((1L, 1L, 1L)))
    val streamedN = Streams.srmStream(withNulls.toDS(), design,
        "60000 milliseconds")
      .select("n", "chi2").as[(Long, Option[Double])].collect().head
    assert(streamedN === ((100L, Some(16.0)))) // NULLs excluded from n
    // share validation is the srmCheck contract
    intercept[IllegalArgumentException] {
      Streams.srmStream((w1 ++ w2).toDS().toDF().as[Event],
        Map("a" -> 1.0))
    }
    intercept[IllegalArgumentException] {
      Streams.srmStream((w1 ++ w2).toDS().toDF().as[Event],
        Map("a" -> 0.4, "b" -> 0.4))
    }
  }

  test("msprtStream: one readout per look; parity drive bit-matches " +
      "batch sequentialMSPRT; p never increases; guards") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, expr, row_number}
    val rnd = new scala.util.Random(41)
    val dayMs = 86400000L
    // 4 daily looks, two arms ("1" treatment via user parity), a real
    // effect so lam moves
    val ev = (0 until 4).flatMap { day =>
      (1 to 40).map { i =>
        val arm = if (i % 2 == 0) "1" else "0"
        Event((day * 100 + i).toLong, ts(day * dayMs + i * 1000L),
          i.toLong, arm,
          rnd.nextInt(50) / 10.0 + (if (arm == "1") 1.0 else 0.0))
      }
    }
    val got = Streams.msprtStreamParity(spark, ev.toDS(), "1",
      tau2 = 0.5, alpha = 0.05, unitScale = 10L)
      .as[(Long, Long, Long)].head()
    assert(got === ((4L, 4L, 4L)))
    // (4, 4, 4) means every streamed readout equals a batch readout on
    // all seven columns: assert always-valid semantics on the batch form
    val streamed = graft.operators.Profiling.sequentialMSPRT(
        ev.toDF().withColumn("day", expr(s"unix_millis(ts) div $dayMs")),
        "day", "event_type", "1", "value", 0.5, 0.05, 10L)
      .withColumn("look", row_number().over(Window.orderBy("look")))
      .select(col("look").cast("long"), col("n_t"), col("n_c"), col("p_always"))
      .as[(Long, Long, Long, Option[Double])]
      .collect().sortBy(_._1)
    assert(streamed.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(streamed.map(_._2).toSeq === Seq(20L, 40L, 60L, 80L))
    val ps = streamed.flatMap(_._4)
    assert(ps.length === 4)
    assert(ps.zip(ps.tail).forall { case (a, b) => b <= a })
    intercept[IllegalArgumentException] {
      Streams.msprtStream(ev.toDS(), "1", tau2 = 0.0)
    }
  }

  private def replayLeftovers(): (Seq[String], Int) =
    (spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith("graft_") && n.contains("_stream_out")).toSeq,
      spark.streams.active.length)

  test("a parity drive whose query fails to build restores the shuffle " +
      "partitions and leaves no view or query behind") {
    val key = "spark.sql.shuffle.partitions"
    spark.conf.set(key, "7")
    try {
      intercept[IllegalArgumentException] {
        Streams.heavyHittersStreamParity(spark, Seq(1L, 2L, 2L).toDF("k"),
          "k", threshold = 0L)
      }
      assert(spark.conf.get(key) === "7")
    } finally spark.conf.set(key, "4")
    assert(replayLeftovers() === ((Nil, 0)))
  }

  test("parity drives leave no memory-sink view and no active query") {
    val ev = (1 to 12).map(i => Event(i.toLong, ts(i * 60000L),
      (i % 3).toLong, if (i % 2 == 0) "a" else "b", i.toDouble))
    val counts = Seq(
      Streams.sessionizeStreamParity(spark, ev.toDS(), gapMs = 120000L),
      Streams.transitionsStreamParity(spark, ev.toDS()),
      Streams.ewmaStreamParity(spark, ev.toDS(), lookback = 2),
      Streams.changepointsStreamParity(spark, ev.toDS(), 2, 1L),
      Streams.driftStreamParity(spark, ev.toDS(), Seq(("a", 1L), ("b", 1L))),
      Streams.srmStreamParity(spark, ev.toDS(), Map("a" -> 0.5, "b" -> 0.5)),
      Streams.msprtStreamParity(spark, ev.toDS(), "a", tau2 = 1.0),
      Streams.intervalJoinStreamParity(spark, ev.toDS(), ev.toDS(), 0L,
        60000L)).map(_.as[(Long, Long, Long)].head())
    counts.foreach { case (s, b, m) => assert(s === b && b === m) }
    Streams.cusumStreamParity(spark, ev.map(_.copy(event_type = "a")).toDS(),
      4.0, 1.0, 9.0).collect()
    Streams.heavyHittersStreamParity(spark, Seq(1L, 1L, 2L).toDF("k"), "k",
      threshold = 2L).collect()
    Streams.nearDupStreamParity(spark,
      Seq((1L, "the quick brown fox jumps")).toDF("id", "text"), "id", "text")
      .collect()
    Streams.perplexityGateStreamParity(spark,
      Seq((1L, "the cat sat")).toDF("id", "text"), "id", "text", 8.0)
      .collect()
    assert(replayLeftovers() === ((Nil, 0)))
  }
}
