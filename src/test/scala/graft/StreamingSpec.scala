package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamOps

/** SURVEY §2.10 non-oracle rows: true incremental semantics via
  * MemoryStream — watermark late-data drop (stream_watermark_late) and
  * stateful dedup within watermark (stream_dedup_state). These exercise
  * the SAME transforms as the batch oracle rows (StreamOps), run
  * incrementally with state.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  test("stream_watermark_late: on-time window emits, >10min-late row is dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Timestamp, String, Double)]
    val windowed = StreamOps.tumblingAgg(
      source.toDF().toDF("ts", "event_type", "value").withWatermark("ts", "10 minutes"))
    val q = windowed.writeStream
      .format("memory").queryName("wm_late").outputMode(OutputMode.Append()).start()
    try {
      // Batch 1: two on-time rows in the 10:00 hour window.
      source.addData((ts("2024-01-01 10:05:00"), "click", 1.00),
        (ts("2024-01-01 10:20:00"), "click", 2.00))
      q.processAllAvailable()
      // Nothing emitted yet: watermark (10:10) hasn't passed the window end (11:00).
      assert(spark.table("wm_late").count() == 0)
      // Batch 2: an event at 12:30 pushes the watermark to 12:20 > 11:00.
      source.addData((ts("2024-01-01 12:30:00"), "view", 5.00))
      q.processAllAvailable()
      // Batch 3: a row for the 10:00 window arrives way past the watermark -> dropped.
      source.addData((ts("2024-01-01 10:40:00"), "click", 99.00))
      q.processAllAvailable()
      // Close the 12:00 window too so everything on time is out.
      source.addData((ts("2024-01-01 14:00:00"), "view", 1.00))
      q.processAllAvailable()
      val rows = spark.table("wm_late")
        .select(col("win_start_ms"), col("event_type"), col("n"), col("val_cents"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      val h10 = ts("2024-01-01 10:00:00").getTime
      val h12 = ts("2024-01-01 12:00:00").getTime
      // EXACT set equality: if the 10:40 late row were accepted it would
      // re-open the evicted 10:00 window and emit an extra (h10, click, 1,
      // 9900) row on the next watermark advance — contains-style asserts
      // would stay green through that regression.
      assert(rows == Set((h10, "click", 2L, 300L), (h12, "view", 1L, 500L)),
        rows.toString)
    } finally q.stop()
  }

  test("stream_dedup_within_watermark: duplicate ids dropped inside the window; state evicts past it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Timestamp)]
    // The builtin streaming exact-dedup primitive (the LSH detector's
    // exact sibling): keep the first arrival per event_id, drop repeats
    // that land within the watermark delay, and — unlike plain
    // dropDuplicates — EVICT the key's state once the watermark passes
    // it, so state is bounded by the dedup window, not the stream's
    // lifetime key cardinality. The flip side (pinned here, it's the
    // semantic cost a user must know): a repeat arriving AFTER eviction
    // is treated as new and re-emitted.
    val deduped = source.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream
      .format("memory").queryName("ddw").outputMode(OutputMode.Append()).start()
    try {
      source.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      // Batch 2: id 1 repeats 4 min later — inside the window, dropped.
      source.addData((1L, ts("2024-01-01 10:04:00")))
      q.processAllAvailable()
      // Batch 3: advance the watermark far past both keys' expiry.
      source.addData((3L, ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      // Batch 4: id 1 again, an hour later — its state was evicted, so
      // this is a NEW emission (the bounded-state trade, asserted).
      source.addData((1L, ts("2024-01-01 11:01:00")))
      q.processAllAvailable()
      val ids = spark.table("ddw").select("event_id").collect().map(_.getLong(0))
      assert(ids.sorted.toSeq == Seq(1L, 1L, 2L, 3L), ids.mkString(","))
      assert(ids.count(_ == 1L) == 2, "expected exactly one in-window drop and one post-eviction re-emit")
    } finally q.stop()
  }

  test("stream_session_state: session merges across batches, emits after watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Timestamp, Double)]
    val sessions = StreamOps.sessionAgg(
      source.toDF().toDF("user_id", "ts", "value").withWatermark("ts", "10 minutes"))
    val q = sessions.writeStream
      .format("memory").queryName("session_state").outputMode(OutputMode.Append()).start()
    try {
      // Batch 1 opens a session; batch 2 extends it within the 5-min gap —
      // the session STATE must merge across the batch boundary.
      source.addData((7L, ts("2024-01-01 10:00:00"), 1.00))
      q.processAllAvailable()
      source.addData((7L, ts("2024-01-01 10:03:00"), 2.00))
      q.processAllAvailable()
      assert(spark.table("session_state").count() == 0,
        "session must stay open until the watermark passes its close")
      // An 11:00 event pushes the watermark to 10:50, far past the session
      // close (10:08) -> the merged 2-event session is emitted.
      source.addData((8L, ts("2024-01-01 11:00:00"), 9.00))
      q.processAllAvailable()
      val rows = spark.table("session_state")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val t0us = ts("2024-01-01 10:00:00").getTime * 1000
      assert(rows.toSeq == Seq((7L, t0us, 2L, 300L)),
        s"expected one merged 2-event session, got ${rows.toSeq}")
    } finally q.stop()
  }

  test("stream_session_late_merge: a LATE row bridging two open sessions merges them into one") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Timestamp, Double)]
    val sessions = StreamOps.sessionAgg(
      source.toDF().toDF("user_id", "ts", "value").withWatermark("ts", "10 minutes"))
    val q = sessions.writeStream
      .format("memory").queryName("session_late_merge").outputMode(OutputMode.Append()).start()
    try {
      // Two events 7 min apart (> 5-min gap) open TWO separate sessions:
      // [10:00, 10:05) and [10:07, 10:12).
      source.addData((7L, ts("2024-01-01 10:00:00"), 1.00),
        (7L, ts("2024-01-01 10:07:00"), 2.00))
      q.processAllAvailable()
      // A LATE row at 10:04 (within the 10-min watermark: wm = 09:57)
      // lands in the gap — session_window state must MERGE the two open
      // sessions plus the late row into one [10:00, 10:12) session.
      source.addData((7L, ts("2024-01-01 10:04:00"), 4.00))
      q.processAllAvailable()
      assert(spark.table("session_late_merge").count() == 0,
        "merged session must stay open until the watermark passes its close")
      // 11:00 traffic pushes the watermark to 10:50 > 10:12 -> emit.
      source.addData((8L, ts("2024-01-01 11:00:00"), 9.00))
      q.processAllAvailable()
      val rows = spark.table("session_late_merge")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val t0us = ts("2024-01-01 10:00:00").getTime * 1000
      assert(rows.toSeq == Seq((7L, t0us, 3L, 700L)),
        s"expected ONE merged 3-event session (late row bridged the gap), got ${rows.toSeq}")
    } finally q.stop()
  }

  test("stream_stream_join: watermarked event-time range join across two streams") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Long, Timestamp)]
    val errors = MemoryStream[(Long, Timestamp)]
    // purchases matched to errors from the preceding 5 minutes, per user —
    // the streaming twin of the as-of/interval join family (§2.3), with
    // watermarks bounding both sides' state.
    val joined = purchases.toDF().toDF("p_user", "p_ts").withWatermark("p_ts", "10 minutes")
      .join(
        errors.toDF().toDF("e_user", "e_ts").withWatermark("e_ts", "10 minutes"),
        expr("p_user = e_user AND e_ts BETWEEN p_ts - INTERVAL 5 MINUTES AND p_ts"),
        "inner")
    val q = joined.writeStream
      .format("memory").queryName("ss_join").outputMode(OutputMode.Append()).start()
    try {
      errors.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
      purchases.addData(
        (1L, ts("2024-01-01 10:03:00")),  // within 5 min of user 1's error -> joins
        (1L, ts("2024-01-01 10:30:00")),  // too late -> no match
        (3L, ts("2024-01-01 10:02:00")))  // no error for user 3 -> no match
      q.processAllAvailable()
      val rows = spark.table("ss_join")
        .select(col("p_user"), col("p_ts"), col("e_ts"))
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
      assert(rows.toSeq == Seq((1L, ts("2024-01-01 10:03:00"), ts("2024-01-01 10:00:00"))),
        rows.toSeq.toString)
    } finally q.stop()
  }

  test("stream_stream_left_outer: unmatched left rows emit null-padded AFTER watermark expiry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Long, Timestamp)]
    val errors = MemoryStream[(Long, Timestamp)]
    // Outer stream-stream join is the semantics inner can't express: a
    // purchase with NO error in its window must still emit — but only
    // once the watermark proves no matching error can still arrive, which
    // is exactly the state-eviction contract (unmatched rows surface on a
    // LATER trigger, null-padded, not immediately).
    val joined = purchases.toDF().toDF("p_user", "p_ts").withWatermark("p_ts", "10 minutes")
      .join(
        errors.toDF().toDF("e_user", "e_ts").withWatermark("e_ts", "10 minutes"),
        expr("p_user = e_user AND e_ts BETWEEN p_ts - INTERVAL 5 MINUTES AND p_ts"),
        "leftOuter")
    val q = joined.writeStream
      .format("memory").queryName("ss_left").outputMode(OutputMode.Append()).start()
    try {
      errors.addData((1L, ts("2024-01-01 10:00:00")))
      purchases.addData(
        (1L, ts("2024-01-01 10:03:00")),  // matches user 1's error
        (3L, ts("2024-01-01 10:02:00")))  // no error for user 3 -> null-padded later
      q.processAllAvailable()
      val matched = spark.table("ss_left")
        .collect().map(r => (r.getLong(0), r.isNullAt(2)))
      assert(matched.toSeq.sorted == Seq((1L, false)),
        s"before watermark passes only the match may emit: ${matched.toSeq}")
      // advance both watermarks far past 10:02 + 10min -> user 3 provably unmatched
      errors.addData((99L, ts("2024-01-01 11:00:00")))
      purchases.addData((99L, ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      val after = spark.table("ss_left")
        .collect().map(r => (r.getLong(0), r.isNullAt(2))).sorted
      assert(after.toSeq.contains((3L, true)),
        s"unmatched purchase must null-pad after expiry: ${after.toSeq}")
    } finally q.stop()
  }

  test("stream_rocksdb_state: stateful dedup runs on the RocksDB state store (production backend)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The default HDFS-backed store keeps state on the JVM heap; RocksDB is
    // the at-scale backend for large keyed state. Provider is read at query
    // start from session conf — set, run, restore.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val source = MemoryStream[(Long, Timestamp, Double)]
      val deduped = source.toDF().toDF("event_id", "ts", "value")
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
      val q = deduped.writeStream
        .format("memory").queryName("rocksdb_state").outputMode(OutputMode.Append()).start()
      try {
        source.addData((1L, ts("2024-01-01 10:00:00"), 1.00),
          (2L, ts("2024-01-01 10:01:00"), 2.00))
        q.processAllAvailable()
        source.addData((1L, ts("2024-01-01 10:02:00"), 1.00),
          (3L, ts("2024-01-01 10:03:00"), 3.00))
        q.processAllAvailable()
        val ids = spark.table("rocksdb_state").select(col("event_id"))
          .collect().map(_.getLong(0)).sorted
        assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stream_restart_recovery: dedup state survives a stop + restart from checkpoint (RocksDB)") {
    import spark.implicits._
    // StreamingSpec so far proves state works WITHIN a query run; this
    // proves it survives ACROSS runs — stop a stateful query, restart from
    // its checkpoint, and show (a) restored state still suppresses a
    // duplicate first seen before the restart, (b) pre-restart input is not
    // reprocessed (no duplicate emission into the sink).
    val root = TestSpark.scratch("graft_restart")
    val (srcDir, ckpt, outDir) = (s"$root/src", s"$root/ckpt", s"$root/out")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def start() = spark.readStream
      .schema("event_id BIGINT, value BIGINT").parquet(srcDir)
      .dropDuplicates("event_id")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode(OutputMode.Append()).start()
    try {
      // Run 1: ids 1,2 (plus an in-batch duplicate of 1).
      Seq((1L, 10L), (2L, 20L), (1L, 11L)).toDF("event_id", "value")
        .write.mode("append").parquet(srcDir)
      val q1 = start()
      q1.processAllAvailable(); q1.stop()
      // New input lands while the query is DOWN: a replay of id 2 and a
      // fresh id 3.
      Seq((2L, 21L), (3L, 30L)).toDF("event_id", "value")
        .write.mode("append").parquet(srcDir)
      // Run 2 from the same checkpoint.
      val q2 = start()
      q2.processAllAvailable(); q2.stop()
      val ids = spark.read.parquet(outDir).select(col("event_id"))
        .collect().map(_.getLong(0)).toSeq
      // Exactly {1,2,3}, each ONCE: id 2 emitted twice would mean lost
      // state; id 1 twice would mean run 1's input was reprocessed.
      assert(ids.sorted == Seq(1L, 2L, 3L), s"got $ids")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stream_lsh_dedup: near-dup arriving in a LATER batch is paired against stream history; unrelated docs are not") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val pairs = graft.streaming.StreamingDedup.candidatePairs(
      source.toDF().toDF("doc_id", "text"))
    val q = pairs.writeStream
      .format("memory").queryName("lsh_dedup").outputMode(OutputMode.Append()).start()
    try {
      // Batch 1: two unrelated docs (disjoint vocab — no shared shingle,
      // so no band can collide).
      source.addData((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "alpha beta gamma delta epsilon zeta eta theta"))
      q.processAllAvailable()
      assert(spark.table("lsh_dedup").count() == 0)
      // Batch 2: doc 3 duplicates doc 1 — the pair must be found against
      // STATE (doc 1 arrived a batch earlier and is not in this batch).
      source.addData((3L, "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      // Batch 3: an in-batch duplicate pair (4, 5).
      source.addData((4L, "one two three four five six seven"),
        (5L, "one two three four five six seven"))
      q.processAllAvailable()
      val got = spark.table("lsh_dedup")
        .select(col("aId"), col("bId"), col("estSim"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // Identical texts -> identical signatures -> estimate exactly 1.0;
      // each pair collides in all 8 bands (multiplicity is by design —
      // dedupe downstream, as the batch candidate stage does).
      assert(got == Set((1L, 3L, 1.0), (4L, 5L, 1.0)), got.toString)
      val n = spark.table("lsh_dedup").count()
      assert(n == 16L, s"expected 8 band emissions per pair, got $n")
    } finally q.stop()
  }

  test("stream_lsh_dedup ≡ batch: uncapped stream pairs over the real corpus EQUAL the batch candidate-pair set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The "incremental twin" claim, checked as a set identity: with the
    // ring uncapped and no similarity threshold, a pair emits iff the two
    // docs share >= 1 band bucket — exactly the batch candidate stage's
    // definition over the SAME signature family. Arrival order must not
    // matter (state accumulates across micro-batches).
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val source = MemoryStream[(Long, String)]
    val pairs = graft.streaming.StreamingDedup.candidatePairs(
      source.toDF().toDF("doc_id", "text"),
      maxPerBucket = Int.MaxValue, minEstSim = 0.0)
    val q = pairs.writeStream
      .format("memory").queryName("lsh_equiv").outputMode(OutputMode.Append()).start()
    try {
      // Three micro-batches so most pairs span a batch boundary.
      docs.grouped((docs.size + 2) / 3).foreach { chunk =>
        source.addData(chunk: _*); q.processAllAvailable()
      }
      val stream = spark.table("lsh_equiv")
        .select(col("aId"), col("bId")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.operators.MinHash.candidatePairs(
        Tables.documents(spark, TestSpark.sf0001))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(stream == batch,
        s"stream/batch diverge: stream-only=${(stream -- batch).take(5)} batch-only=${(batch -- stream).take(5)} (sizes ${stream.size}/${batch.size})")
    } finally q.stop()
  }

  test("stream_lsh_dedup_ttl: bucket history older than the TTL is evicted — a later duplicate is NOT paired against it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, String, Timestamp)]
    val pairs = graft.streaming.StreamingDedup.candidatePairsTtl(
      source.toDF().toDF("doc_id", "text", "ts").withWatermark("ts", "1 minute"),
      ttlMs = 10 * 60 * 1000L) // 10-minute dedup window
    val q = pairs.writeStream
      .format("memory").queryName("lsh_ttl").outputMode(OutputMode.Append()).start()
    try {
      val text = "the quick brown fox jumps over the lazy dog"
      // doc 1 at 10:00 — its buckets' timeout = 10:10.
      source.addData((1L, text, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // Unrelated traffic at 11:00 advances the watermark (to 10:59 after
      // this batch)...
      source.addData((90L, "alpha beta gamma delta epsilon", ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      // ...and the NEXT batch fires the expired timeout, evicting doc 1's
      // bucket history.
      source.addData((91L, "zeta eta theta iota kappa", ts("2024-01-01 11:00:30")))
      q.processAllAvailable()
      // doc 2 duplicates doc 1 AFTER eviction: no pair may emerge.
      source.addData((2L, text, ts("2024-01-01 11:01:00")))
      q.processAllAvailable()
      // doc 3 duplicates doc 2 INSIDE the window: pair (2,3) — state
      // still works after an eviction cycle.
      source.addData((3L, text, ts("2024-01-01 11:02:00")))
      q.processAllAvailable()
      val got = spark.table("lsh_ttl")
        .select(col("aId"), col("bId")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((2L, 3L)),
        s"expected only (2,3) — (1,2) would mean the TTL did not evict: $got")
    } finally q.stop()
  }

  test("stream_lsh_dedup_ttl_monotone: a late-but-in-watermark arrival must NOT shorten the bucket's lifetime") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, String, Timestamp)]
    val pairs = graft.streaming.StreamingDedup.candidatePairsTtl(
      source.toDF().toDF("doc_id", "text", "ts").withWatermark("ts", "30 minutes"),
      ttlMs = 10 * 60 * 1000L) // 10-minute dedup window
    val q = pairs.writeStream
      .format("memory").queryName("lsh_ttl_mono").outputMode(OutputMode.Append()).start()
    try {
      val text = "the quick brown fox jumps over the lazy dog"
      // doc 1 at 10:30 — bucket newest = 10:30, eviction due 10:40.
      source.addData((1L, text, ts("2024-01-01 10:30:00")))
      q.processAllAvailable() // watermark -> 10:00
      // doc 5 is a LATE duplicate at 10:05 (> wm 10:00, so accepted). It
      // pairs with doc 1, and — the regression under test — its OLDER ts
      // must not pull the bucket timeout back to 10:15: eviction stays
      // keyed to the NEWEST arrival (10:30).
      source.addData((5L, text, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // Unrelated traffic at 10:48 advances the watermark to 10:18 — past
      // the WRONG timeout (10:15) but before the right one (10:40)...
      source.addData((90L, "alpha beta gamma delta epsilon", ts("2024-01-01 10:48:00")))
      q.processAllAvailable()
      // ...and the next batch is where an expired timeout would fire.
      source.addData((91L, "zeta eta theta iota kappa", ts("2024-01-01 10:49:00")))
      q.processAllAvailable()
      // doc 2 duplicates at 10:35 — inside the 10-min window of the
      // newest arrival (10:30). With a monotone timeout the bucket is
      // still alive: pairs (1,2) and (2,5) MUST emerge.
      source.addData((2L, text, ts("2024-01-01 10:35:00")))
      q.processAllAvailable()
      val got = spark.table("lsh_ttl_mono")
        .select(col("aId"), col("bId")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 5L), (1L, 2L), (2L, 5L)),
        s"missing pairs mean the late arrival shortened the bucket TTL: $got")
    } finally q.stop()
  }

  test("stream_dedup_state: duplicate event_id within watermark is emitted once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Timestamp, Double)]
    val deduped = source.toDF().toDF("event_id", "ts", "value")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream
      .format("memory").queryName("dedup_state").outputMode(OutputMode.Append()).start()
    try {
      source.addData((1L, ts("2024-01-01 10:00:00"), 1.00),
        (2L, ts("2024-01-01 10:01:00"), 2.00))
      q.processAllAvailable()
      // Replay event 1 within the watermark window, plus a fresh event 3.
      source.addData((1L, ts("2024-01-01 10:02:00"), 1.00),
        (3L, ts("2024-01-01 10:03:00"), 3.00))
      q.processAllAvailable()
      val ids = spark.table("dedup_state").select(col("event_id"))
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("q_stream_join streaming twin: two watermarked file-source streams ≡ the batch join on the real corpus") {
    // The registered q_stream_join is the batch twin; this leg runs the
    // SAME attributionJoin as a genuine stream-stream interval join (two
    // watermarked streams over the sf0.001 events files, append mode) and
    // asserts set identity with the batch result — Structured Streaming's
    // contract that the incremental plan computes the batch answer.
    val d = "/root/testdata/sf0.001"
    // FileStreamSource wants a DIRECTORY; the corpus ships single files.
    val srcDir = java.nio.file.Paths.get(TestSpark.scratch("ss_attr_src"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"), srcDir.resolve("events.parquet"))
    def side(tpe: String) =
      StreamOps.eventsStream(spark, srcDir.toString)
        .filter(col("event_type") === tpe)
        .withWatermark("ts", "1 hour")
    val joined = StreamOps.attributionJoin(side("view"), side("purchase"))
    val q = joined.writeStream
      .format("memory").queryName("ss_attr").outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ss_attr")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = SparkEntry.queries("q_stream_join")(spark, d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == batch,
        s"stream-stream join diverged from batch: only-stream=${streamed -- batch}, only-batch=${batch -- streamed}")
      assert(batch.nonEmpty, "degenerate corpus: batch twin returned no pairs")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join: unattributed views emit nulls only after the watermark closes their window") {
    // The outer-null half of the state-bounded two-stream contract: a view
    // with no purchase inside its 2h window may only be emitted once the
    // watermark PROVES no matching purchase can still arrive. With one
    // input batch the watermark ends below that bar, so the unmatched rows
    // sit in state; appending a far-future sentinel batch advances the
    // watermark past every real view's window and flushes them all.
    val d = "/root/testdata/sf0.001"
    val srcDir = java.nio.file.Paths.get(TestSpark.scratch("ss_attr_outer_src"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"), srcDir.resolve("events.parquet"))
    def side(tpe: String) =
      StreamOps.eventsStream(spark, srcDir.toString)
        .filter(col("event_type") === tpe)
        .withWatermark("ts", "1 hour")
    val joined = StreamOps.attributionJoin(side("view"), side("purchase"), "left_outer")
    val q = joined.writeStream
      .format("memory").queryName("ss_attr_outer").outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // After one input batch the watermark sits at max(ts)-1h, so outer
      // rows for EARLY views already emit (the no-data follow-up batch) —
      // but every view inside the trailing watermark+2h horizon must still
      // be withheld: the stream cannot yet prove no purchase is coming.
      val before = spark.table("ss_attr_outer").filter(col("purchase_id").isNull).count()
      // Sentinel batch: one far-future view + purchase per side (user -1,
      // +30 days), written with the corpus's physical schema and dropped
      // into the watched dir as a sibling file.
      val raw = spark.read.parquet(s"$d/events.parquet")
      // Anchor past the corpus MAX (the corpus spans more than any fixed
      // per-row offset): +30 days beyond the last event closes every real
      // view's 2h window under the 1h watermark delay.
      val maxTs = raw.agg(max(col("ts"))).head().get(0)
      val far = raw.limit(2)
        .withColumn("ts", lit(maxTs) + expr("INTERVAL 30 DAYS"))
        .withColumn("user_id", lit(-1L))
        .withColumn("event_type",
          when(monotonically_increasing_id() === 0, "view").otherwise("purchase"))
      val tmpOut = java.nio.file.Paths.get(TestSpark.scratch("ss_attr_sentinel"))
      far.coalesce(1).write.mode("overwrite").parquet(tmpOut.resolve("s").toString)
      val part = new java.io.File(tmpOut.resolve("s").toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, srcDir.resolve("sentinel.parquet"))
      q.processAllAvailable()
      val streamed = spark.table("ss_attr_outer").filter(col("user_id") =!= -1L)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      val ev = Tables.events(spark, d)
      val batch = StreamOps.attributionJoin(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"), "left_outer")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      assert(streamed == batch,
        s"left-outer stream diverged: only-stream=${(streamed -- batch).take(5)}, only-batch=${(batch -- streamed).take(5)}")
      val outerTotal = batch.count(_._3 == -1L)
      assert(outerTotal > 0, "degenerate corpus: no unattributed views")
      assert(before < outerTotal,
        s"watermark withheld nothing: $before outer rows pre-sentinel vs $outerTotal total — " +
          "the trailing-horizon views should only flush after the sentinel advances the watermark")
    } finally q.stop()
  }

  test("snapshot_change_feed: each commit surfaces as exactly its CDC delta; restart resumes; position loss is loud") {
    import spark.implicits._
    import graft.sources.SnapshotStore
    import graft.streaming.SnapshotChangeFeed
    val dir = java.nio.file.Paths.get(TestSpark.scratch("graft_feed"))
    val root = dir.resolve("tbl").toString
    val ckpt = dir.resolve("ckpt/pos").toString
    def df(rows: (Long, Long, String)*) = rows.toDF("k", "p", "payload")
    val cols = Seq(col("k"), col("p"), col("payload"), col("_change_type"))
    def rowsOf(d: org.apache.spark.sql.DataFrame) = d.select(cols: _*)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSet

    SnapshotStore.overwrite(df((1L, 0L, "a"), (2L, 1L, "b")), root, Some("p"))
    val feed = new SnapshotChangeFeed(root, ckpt)
    // Bootstrap: the initial snapshot arrives as all-inserts.
    val (b0, v0) = feed.poll(spark).get
    assert(v0 == 0L)
    assert(rowsOf(b0) == Set((1L, 0L, "a", "insert"), (2L, 1L, "b", "insert")))
    // At-least-once: an uncommitted batch is re-delivered.
    assert(feed.poll(spark).get._2 == 0L)
    feed.commit(0L)
    assert(feed.poll(spark).isEmpty, "caught-up consumer must see no batch")

    // Three writer commits land while the consumer is away.
    SnapshotStore.append(df((3L, 0L, "c")), root, Some("p"))        // v1
    SnapshotStore.merge(spark, root, df((1L, 0L, "A2")), "k", "p")  // v2
    SnapshotStore.delete(spark, root, col("k") === 2L, Some("p"))   // v3
    var seen = Map.empty[Long, Set[(Long, Long, String, String)]]
    val processed = feed.drain(spark) { (d, v) => seen += v -> rowsOf(d) }
    assert(processed == Seq(1L, 2L, 3L), processed.toString)
    // Each micro-batch is EXACTLY that commit's CDC delta.
    assert(seen(1L) == Set((3L, 0L, "c", "insert")))
    // The keyed upsert declares its key in the commit, so its single-hop
    // delta pairs old/new content into UPDATE IMAGES (the Delta CDF
    // contract) instead of anonymous churn.
    assert(seen(2L) == Set((1L, 0L, "A2", "update_postimage"),
      (1L, 0L, "a", "update_preimage")))
    assert(seen(3L) == Set((2L, 1L, "b", "delete")))
    // And the batches compose to the full-read diff v0 -> v3 (replaying
    // the feed reconstructs the table): postimages apply as inserts,
    // preimages as deletes.
    val insSide = Set("insert", "update_postimage")
    val delSide = Set("delete", "update_preimage")
    val netIns = seen.values.flatten.filter(t => insSide(t._4)).map(t => (t._1, t._2, t._3)).toSet --
      seen.values.flatten.filter(t => delSide(t._4)).map(t => (t._1, t._2, t._3)).toSet
    val nowRows = SnapshotStore.read(spark, root)
      .select(col("k"), col("p"), col("payload"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val bootRows = rowsOf(b0).map(t => (t._1, t._2, t._3))
    assert((bootRows -- seen.values.flatten.filter(t => delSide(t._4)).map(t => (t._1, t._2, t._3)).toSet) ++ netIns == nowRows)

    // RESTART: a new consumer on the same checkpoint is already caught up,
    // and picks up only what commits after it.
    val feed2 = new SnapshotChangeFeed(root, ckpt)
    assert(feed2.poll(spark).isEmpty, "restarted consumer must resume, not re-read")
    SnapshotStore.append(df((9L, 1L, "z")), root, Some("p"))        // v4
    val (b4, v4) = feed2.poll(spark).get
    assert(v4 == 4L && rowsOf(b4) == Set((9L, 1L, "z", "insert")))
    feed2.commit(4L)

    // startAfter skips history for a consumer that doesn't want bootstrap.
    val lateCkpt = dir.resolve("ckpt2/pos").toString
    val late = new SnapshotChangeFeed(root, lateCkpt, startAfter = Some(3L))
    assert(late.poll(spark).get._2 == 4L)

    // POSITION LOSS IS LOUD: vacuum past the consumer's base and the next
    // poll must throw the reseed error, never a silent wrong delta.
    val behindCkpt = dir.resolve("ckpt3/pos").toString
    val behind = new SnapshotChangeFeed(root, behindCkpt, startAfter = Some(0L))
    SnapshotStore.vacuum(root, keepVersions = 2, minAgeMs = 0L)
    val e = intercept[IllegalArgumentException] { behind.poll(spark) }
    assert(e.getMessage.contains("vacuumed past"))
  }

  test("stream_snapshot_sink: empty micro-batches are no-ops, including an empty FIRST batch") {
    import spark.implicits._
    import graft.sources.SnapshotStore
    import graft.streaming.SnapshotSink
    val root = TestSpark.scratch("graft_snapsink_empty") + "/tbl"
    val sink = SnapshotSink.mergeBatch(root, "user_id", "part", "appE")
    val empty = Seq.empty[(Long, Long, Long)].toDF("user_id", "sum_cents", "part")
    // Empty FIRST batch: must NOT bootstrap a zero-file table (a
    // partitioned write of nothing emits no parquet; the old behavior
    // published a manifest every later merge choked on).
    sink(empty, 0L)
    assert(SnapshotStore.versions(root).isEmpty,
      "an empty bootstrap batch must publish nothing")
    sink(Seq((1L, 100L, 1L)).toDF("user_id", "sum_cents", "part"), 1L)
    // Empty MID-stream batch: no new version, and the stream keeps going.
    sink(empty, 2L)
    sink(Seq((2L, 50L, 0L)).toDF("user_id", "sum_cents", "part"), 3L)
    val got = SnapshotStore.read(spark, root)
      .select(col("user_id"), col("sum_cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 100L), (2L, 50L)), got.toString)
    assert(SnapshotStore.versions(root) == Seq(0L, 1L), "empty batches must not commit")
  }

  test("stream_snapshot_sink: micro-batches merge into the snapshot store; batch replay is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.SnapshotStore
    import graft.streaming.SnapshotSink
    val root = TestSpark.scratch("graft_snapsink") + "/tbl"
    val source = MemoryStream[(Long, Long)]
    // Update-mode running totals per user, partitioned by pmod(user,2) —
    // each micro-batch emits only changed keys, the natural merge feed.
    val counts = source.toDF().toDF("user_id", "cents")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .withColumn("part", pmod(col("user_id"), lit(2L)))
    var lastBatch: Option[(org.apache.spark.sql.DataFrame, Long)] = None
    val sink = SnapshotSink.mergeBatch(root, "user_id", "part", "appTest")
    val q = counts.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val pinned = df.toDF().cache(); pinned.count()
        lastBatch = Some((pinned, id))
        sink(pinned, id)
      }
      .start()
    try {
      source.addData((1L, 100L), (2L, 200L), (1L, 50L))
      q.processAllAvailable()
      source.addData((1L, 25L), (3L, 300L))
      q.processAllAvailable()
      def state(asOf: Option[Long] = None) =
        SnapshotStore.read(spark, root, asOf)
          .select(col("user_id"), col("n"), col("sum_cents"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val expected = Set((1L, 3L, 175L), (2L, 1L, 200L), (3L, 1L, 300L))
      assert(state() == expected, state().toString)
      // Version history doubles as the stream's audit log: batch 0
      // bootstrapped v0, batch 1 merged v1 — and v0 is still readable
      // (snapshot isolation across batch boundaries).
      val vs = SnapshotStore.versions(root)
      assert(vs == Seq(0L, 1L), vs.toString)
      assert(state(Some(0L)) == Set((1L, 2L, 150L), (2L, 1L, 200L)),
        state(Some(0L)).toString)
      // Restart-replay: a recovering query re-runs the last batch with the
      // SAME batchId. The txn marker makes it a no-op — no new version, no
      // content change (exactly-once effect over at-least-once delivery).
      val (replayDf, replayId) = lastBatch.get
      assert(SnapshotStore.lastTxn(root, "appTest").contains(replayId))
      sink(replayDf, replayId)
      assert(SnapshotStore.versions(root) == Seq(0L, 1L),
        "replayed batch must not publish a new version")
      assert(state() == expected, s"replay corrupted the sink: ${state()}")
      // A DIFFERENT writer app is not fooled by this app's marker.
      assert(SnapshotStore.lastTxn(root, "otherApp").isEmpty)
    } finally q.stop()
  }

  test("graft-cdc source: readStream over a snapshot table — bootstrap, per-commit deltas, restart, vacuum loudness") {
    import spark.implicits._
    import graft.sources.SnapshotStore
    val dir = java.nio.file.Paths.get(TestSpark.scratch("graft_cdc_src"))
    val root = dir.resolve("tbl").toString
    def df(rows: (Long, Long, String)*) = rows.toDF("k", "p", "payload")
    def rowsOf(d: org.apache.spark.sql.DataFrame) = d
      .select(col("k"), col("payload"), col("_change_type"), col("_commit_version"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    // foreachBatch sink: the one built-in sink that both collects to the
    // driver for assertion AND supports restart from a checkpoint (the
    // memory sink refuses recovery).
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    def startQ(ckpt: String, opts: Map[String, String] = Map.empty) = {
      val r = spark.readStream.format("graft-cdc").option("path", root)
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load().writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized { seen ++= rowsOf(batch) }; ()
        }
        .option("checkpointLocation", dir.resolve(ckpt).toString).start()
    }
    def snapshot() = seen.synchronized(seen.toSet)

    SnapshotStore.overwrite(df((1L, 0L, "a"), (2L, 1L, "b")), root, Some("p"))
    val q = startQ("ckpt1")
    try {
      q.processAllAvailable()
      // bootstrap: the initial snapshot as all-inserts at _commit_version 0
      assert(snapshot() == Set((1L, "a", "insert", 0L), (2L, "b", "insert", 0L)))
      // two writer commits land while the stream runs; each arrives as
      // exactly its per-commit CDC delta
      SnapshotStore.append(df((3L, 0L, "c")), root, Some("p"))      // v1
      SnapshotStore.delete(spark, root, col("k") === 2L, Some("p")) // v2
      q.processAllAvailable()
      assert(snapshot() == Set(
        (1L, "a", "insert", 0L), (2L, "b", "insert", 0L),
        (3L, "c", "insert", 1L), (2L, "b", "delete", 2L)), snapshot().toString)
    } finally q.stop()

    // restart on the same checkpoint: a commit made while the stream was
    // down is the ONLY thing the resumed stream delivers
    SnapshotStore.append(df((9L, 1L, "z")), root, Some("p"))        // v3
    seen.synchronized(seen.clear())
    val q2 = startQ("ckpt1")
    try {
      q2.processAllAvailable()
      assert(snapshot() == Set((9L, "z", "insert", 3L)), snapshot().toString)
    } finally q2.stop()

    // startingVersion=latest tails only post-start commits
    seen.synchronized(seen.clear())
    val q3 = startQ("ckpt3", Map("startingVersion" -> "latest"))
    try {
      q3.processAllAvailable()
      assert(snapshot().isEmpty)
      SnapshotStore.append(df((10L, 0L, "w")), root, Some("p"))     // v4
      q3.processAllAvailable()
      assert(snapshot() == Set((10L, "w", "insert", 4L)))
    } finally q3.stop()

    // maxVersionsPerTrigger meters a backlog into bounded micro-batches:
    // 4 unconsumed commits at 2/trigger must arrive as >= 2 batches, each
    // spanning at most 2 commit versions, with nothing lost or reordered
    SnapshotStore.append(df((11L, 0L, "m1")), root, Some("p"))       // v5
    SnapshotStore.append(df((12L, 0L, "m2")), root, Some("p"))       // v6
    SnapshotStore.append(df((13L, 0L, "m3")), root, Some("p"))       // v7
    SnapshotStore.append(df((14L, 0L, "m4")), root, Some("p"))       // v8
    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q5 = spark.readStream.format("graft-cdc").option("path", root)
      .option("startingVersion", "4").option("maxVersionsPerTrigger", "2")
      .load().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.synchronized {
          batches += b.select(col("_commit_version"))
            .collect().map(_.getLong(0)).toSet
        }; ()
      }
      .option("checkpointLocation", dir.resolve("ckpt5").toString).start()
    try {
      q5.processAllAvailable()
      val got = batches.synchronized(batches.toList).filter(_.nonEmpty)
      assert(got.flatten.toSet == Set(5L, 6L, 7L, 8L), got.toString)
      assert(got.size >= 2, s"backlog arrived unmetered: $got")
      got.foreach(b => assert(b.size <= 2, s"batch spans >2 commits: $b"))
    } finally q5.stop()

    // vacuumed-past position fails LOUDLY, not by skipping commits
    SnapshotStore.vacuum(root, keepVersions = 1)
    val q4 = startQ("ckpt4", Map("startingVersion" -> "0"))
    val loud = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q4.processAllAvailable()
      q4.awaitTermination(30000)
    }
    try assert(loud.getMessage.contains("vacuumed") ||
      Option(loud.getCause).exists(_.getMessage.contains("vacuumed")), loud.getMessage)
    finally q4.stop()
  }

  test("graft sink: writeStream.format(\"graft\") — keyed merge commits, restart resumes exactly-once, append mode logs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.SnapshotStore
    val dir = java.nio.file.Paths.get(TestSpark.scratch("graft_fmt_sink"))
    val root = dir.resolve("tbl").toString
    val ckpt = dir.resolve("ckpt").toString
    val source = MemoryStream[(Long, Long)]
    def startQ() = source.toDF().toDF("user_id", "cents")
      .groupBy(col("user_id"))
      .agg(sum(col("cents")).as("sum_cents"))
      .withColumn("part", pmod(col("user_id"), lit(2L)))
      .writeStream.outputMode(OutputMode.Update())
      .format("graft").option("path", root)
      .option("key", "user_id").option("partition", "part")
      .option("checkpointLocation", ckpt).start()
    def state() = SnapshotStore.read(spark, root)
      .select(col("user_id"), col("sum_cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val q = startQ()
    try {
      source.addData((1L, 100L), (2L, 200L), (1L, 50L))
      q.processAllAvailable()
      source.addData((1L, 25L), (3L, 300L))
      q.processAllAvailable()
      assert(state() == Set((1L, 175L), (2L, 200L), (3L, 300L)), state().toString)
      // version history = the stream's audit log; v0 still readable
      assert(SnapshotStore.versions(root) == Seq(0L, 1L))
      assert(SnapshotStore.read(spark, root, Some(0L)).count() == 2L)
      // the exactly-once txn marker is the checkpoint-derived app id
      assert(SnapshotStore.lastTxn(root, ckpt).contains(1L))
    } finally q.stop()

    // RESTART from the checkpoint: only the new batch commits (no replay
    // double-merge), totals keep accumulating
    source.addData((2L, 1L))
    val q2 = startQ()
    try {
      q2.processAllAvailable()
      assert(state() == Set((1L, 175L), (2L, 201L), (3L, 300L)), state().toString)
      assert(SnapshotStore.versions(root) == Seq(0L, 1L, 2L),
        "restart must add exactly the one new batch's version")
    } finally q2.stop()

    // APPEND mode (no key): each micro-batch is an append commit — the
    // event-log shape
    val logRoot = dir.resolve("log").toString
    val src2 = MemoryStream[(Long, String)]
    val q3 = src2.toDF().toDF("ts", "msg")
      .writeStream.outputMode(OutputMode.Append())
      .format("graft").option("path", logRoot)
      .option("checkpointLocation", dir.resolve("ckpt_log").toString).start()
    try {
      src2.addData((1L, "a")); q3.processAllAvailable()
      src2.addData((2L, "b")); q3.processAllAvailable()
      assert(SnapshotStore.versions(logRoot) == Seq(0L, 1L))
      val got = SnapshotStore.read(spark, logRoot).select(col("msg"))
        .collect().map(_.getString(0)).toSet
      assert(got == Set("a", "b"))
    } finally q3.stop()

    // misconfiguration refuses loudly at start: key without partition
    val bad = intercept[Exception] {
      source.toDF().toDF("user_id", "cents").writeStream
        .format("graft").option("path", root).option("key", "user_id")
        .option("checkpointLocation", dir.resolve("ckpt_bad").toString).start()
    }
    assert(bad.getMessage.contains("partition"), bad.getMessage)
  }

  test("chained exactly-once topology: graft-cdc → stateful transform → graft sink survives a mid-batch kill + restart, byte-equal to the uninterrupted run") {
    import spark.implicits._
    import graft.sources.SnapshotStore
    import graft.streaming.SnapshotSink
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val dir = java.nio.file.Paths.get(TestSpark.scratch("graft_chain"))
    val rootA = dir.resolve("a").toString
    def df(rows: (Long, Long, String)*) = rows.toDF("k", "p", "payload")

    // The WHOLE upstream history commits first, so both runs (reference
    // and interrupted) consume identical version sequences.
    SnapshotStore.overwrite(df((1L, 0L, "a"), (2L, 1L, "b")), rootA, Some("p")) // v0
    SnapshotStore.append(df((3L, 0L, "c")), rootA, Some("p"))                   // v1
    SnapshotStore.merge(spark, rootA, df((1L, 0L, "A2")), "k", "p")             // v2
    SnapshotStore.append(df((4L, 1L, "d")), rootA, Some("p"))                   // v3

    // Stateful transform: per-key change counter carried across batches
    // (flatMapGroupsWithState — state lives in the checkpoint, so the
    // restart must ALSO recover it for the runs to agree).
    def topology(ckpt: String, sinkFn: (org.apache.spark.sql.DataFrame, Long) => Unit) =
      spark.readStream.format("graft-cdc").option("path", rootA)
        .option("maxVersionsPerTrigger", "1") // one upstream commit per batch
        .load()
        .filter(col("_change_type").isin("insert", "update_postimage"))
        .select(col("k").as[Long], col("p").as[Long],
          col("payload").as[String], col("_commit_version").as[Long])
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (k: Long, rows: Iterator[(Long, Long, String, Long)],
           state: GroupState[Long]) =>
            val rs = rows.toSeq.sortBy(r => (r._4, r._3))
            val seen = state.getOption.getOrElse(0L) + rs.size
            state.update(seen)
            val last = rs.last
            Iterator((k, last._2, last._3, seen))
        }
        .toDF("k", "p", "payload", "seen")
        .writeStream.outputMode(OutputMode.Update)
        .foreachBatch(sinkFn)
        .option("checkpointLocation", dir.resolve(ckpt).toString).start()

    // REFERENCE: uninterrupted end-to-end run.
    val rootRef = dir.resolve("bref").toString
    val qRef = topology("ckref", SnapshotSink.mergeBatch(rootRef, "k", "p", "chain15ref"))
    try qRef.processAllAvailable() finally qRef.stop()

    // INTERRUPTED: the sink COMMITS batch 2's merge, then dies before the
    // engine checkpoints the batch — the exact crash window exactly-once
    // is about. Restart must replay batch 2 (same id), the sink's txn
    // marker must no-op it, and the recovered state must keep counting.
    val rootB = dir.resolve("b").toString
    val boom = new java.util.concurrent.atomic.AtomicBoolean(true)
    val sink = SnapshotSink.mergeBatch(rootB, "k", "p", "chain15")
    val killing: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, id) => {
      sink(b, id)
      if (id >= 2 && boom.compareAndSet(true, false))
        throw new RuntimeException("injected mid-batch kill")
    }
    val q1 = topology("ck1", killing)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination(60000)
    }
    q1.stop()
    val q2 = topology("ck1", killing) // same checkpoint, boom spent
    try q2.processAllAvailable() finally q2.stop()

    // Downstream content equal to the uninterrupted run — including the
    // stateful counter (k=1 saw its v0 insert AND its v2 update).
    def content(root: String) = SnapshotStore.read(spark, root)
      .select(col("k"), col("p"), col("payload"), col("seen"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    val got = content(rootB)
    assert(got == content(rootRef), s"chained run diverged: $got")
    assert(got == Set((1L, 0L, "A2", 2L), (2L, 1L, "b", 1L),
      (3L, 0L, "c", 1L), (4L, 1L, "d", 1L)), got.toString)
    // Version histories clean: the replayed batch published NOTHING new —
    // both tables carry the same number of commits.
    assert(SnapshotStore.versions(rootB).length ==
      SnapshotStore.versions(rootRef).length,
      s"replay double-committed: ${SnapshotStore.versions(rootB)} vs ${SnapshotStore.versions(rootRef)}")
  }

  test("graft-cdc: catalog-resolved option(table) streams, incl. a DV delete commit; startingVersion=latest survives restart") {
    import spark.implicits._
    import graft.sources.SnapshotStore
    val dir = java.nio.file.Paths.get(TestSpark.scratch("graft_cdc_seam"))
    // Resolve through a GraftCatalog conf, not a filesystem path — the
    // same name a SQL consumer uses (r13 verdict #6).
    spark.conf.set("spark.sql.catalog.gcdc",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcdc.root", dir.resolve("cat").toString)
    val root = dir.resolve("cat").resolve("t").toString
    def df(rows: (Long, Long, String)*) = rows.toDF("k", "p", "payload")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    def startQ() = spark.readStream.format("graft-cdc")
      .option("table", "gcdc.t").option("startingVersion", "latest")
      .load().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized {
          seen ++= b.select(col("k"), col("payload"), col("_change_type"), col("_commit_version"))
            .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        }; ()
      }
      .option("checkpointLocation", dir.resolve("ckpt").toString).start()

    SnapshotStore.overwrite(df((1L, 0L, "a"), (2L, 1L, "b")), root, Some("p")) // v0
    val q = startQ()
    try {
      q.processAllAvailable()
      assert(seen.synchronized(seen.isEmpty), "latest must skip the bootstrap")
      SnapshotStore.append(df((3L, 0L, "c")), root, Some("p"))                 // v1
      q.processAllAvailable()
      assert(seen.synchronized(seen.toSet) == Set((3L, "c", "insert", 1L)),
        seen.synchronized(seen.toSet).toString)
    } finally q.stop()

    // While the stream is DOWN: a deletion-vector delete commit. On
    // restart the resumed stream must deliver it — before the r14 fix,
    // "latest" was re-resolved to the CURRENT version at restart and the
    // commit was withheld forever on a quiet table (ADVICE r13). The DV
    // version must also serve correct delete rows through the feed.
    SnapshotStore.delete(spark, root, col("k") === 1L,
      deletionVectors = true)                                                  // v2
    seen.synchronized(seen.clear())
    val q2 = startQ()
    try {
      q2.processAllAvailable()
      assert(seen.synchronized(seen.toSet) == Set((1L, "a", "delete", 2L)),
        s"DV delete commit withheld or wrong after restart: ${seen.synchronized(seen.toSet)}")
    } finally q2.stop()

    // A MERGE INTO commit streams as UPDATE IMAGES: the statement records
    // its ON equi-column as the commit's change key, and the per-version
    // batches the source serves are single-commit hops, so the feed labels
    // the in-place update update_preimage/update_postimage (Delta CDF) —
    // an incremental consumer no longer sees it as churn.
    Seq((2L, 1L, "B2"), (7L, 0L, "new")).toDF("k", "p", "payload")
      .createOrReplaceTempView("gcdc_src")
    seen.synchronized(seen.clear())
    val q3 = startQ()
    try {
      q3.processAllAvailable()
      spark.sql("""
        MERGE INTO gcdc.t t USING gcdc_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET payload = s.payload
        WHEN NOT MATCHED THEN INSERT (k, p, payload) VALUES (s.k, s.p, s.payload)
      """)                                                                     // v3
      q3.processAllAvailable()
      assert(seen.synchronized(seen.toSet) == Set(
        (2L, "b", "update_preimage", 3L), (2L, "B2", "update_postimage", 3L),
        (7L, "new", "insert", 3L)),
        s"MERGE commit must stream as update images: ${seen.synchronized(seen.toSet)}")
    } finally q3.stop()

    // A bogus table option refuses loudly at construction.
    val e = intercept[Exception] {
      spark.readStream.format("graft-cdc").option("table", "gcdc.nope").load()
    }
    assert(e.getMessage.contains("not a snapshot table"), e.getMessage)
  }
}
