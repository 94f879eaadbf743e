package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streams

class StreamsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def events = Seq(
    (1L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0),
    (2L, ts("2024-01-01 10:10:00"), 7L, "click", 2.0),   // same session (gap 10m < 30m)
    (3L, ts("2024-01-01 11:30:00"), 7L, "view", 3.0),    // new session (gap 80m)
    (4L, ts("2024-01-01 10:05:00"), 8L, "click", 4.0)
  ).toDF("event_id", "ts", "user_id", "event_type", "value")

  test("sessionizeBatch splits on gap and aggregates bounds") {
    val got = Streams.sessionizeBatch(events, 30)
      .select("user_id", "session_seq", "n_events")
      .as[(Long, Int, Long)].collect().toSet
    assert(got == Set((7L, 1, 2L), (7L, 2, 1L), (8L, 1, 1L)))
  }

  test("tumblingCounts buckets by hour and event type") {
    val got = Streams.tumblingCounts(events, "1 hour")
      .select("win_start", "event_type", "n")
      .as[(Timestamp, String, Long)].collect().toSet
    assert(got == Set(
      (ts("2024-01-01 10:00:00"), "click", 3L),
      (ts("2024-01-01 11:00:00"), "view", 1L)))
  }

  test("intervalJoin batch: purchases within the window after a click") {
    val clicks = Seq((7L, ts("2024-01-01 10:00:00"), 1L))
      .toDF("user_id", "ts", "event_id")
    val buys = Seq(
      (7L, ts("2024-01-01 10:30:00"), 2L),  // in window
      (7L, ts("2024-01-01 11:30:00"), 3L),  // outside (+90m)
      (7L, ts("2024-01-01 09:59:00"), 4L),  // before the click
      (8L, ts("2024-01-01 10:30:00"), 5L)   // other user
    ).toDF("user_id", "ts", "event_id")
    val got = Streams.intervalJoin(clicks, buys, "user_id", "0 seconds", "1 hour")
      .select("event_id", "r_event_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  test("intervalJoinStream joins two MemoryStreams within the watermarked band") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val buys = MemoryStream[(Long, Timestamp, Long)]
    val joined = Streams.intervalJoinStream(
      clicks.toDF().toDF("user_id", "ts", "event_id"),
      buys.toDF().toDF("user_id", "ts", "event_id"),
      "user_id", "10 minutes", "0 seconds", "1 hour")
      .select(col("event_id"), col("r_event_id"))
    val q = joined.writeStream.format("memory").queryName("ij_out")
      .outputMode("append").start()
    try {
      clicks.addData((7L, ts("2024-01-01 10:00:00"), 1L))
      buys.addData(
        (7L, ts("2024-01-01 10:30:00"), 2L),
        (7L, ts("2024-01-01 12:00:00"), 3L), // outside the interval
        (8L, ts("2024-01-01 10:30:00"), 4L)) // other user
      q.processAllAvailable()
      val got = spark.table("ij_out").as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 2L)))
    } finally q.stop()
  }

  test("intervalJoinStream left_outer emits unmatched rows null-padded after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val buys = MemoryStream[(Long, Timestamp, Long)]
    val joined = Streams.intervalJoinStream(
      clicks.toDF().toDF("user_id", "ts", "event_id"),
      buys.toDF().toDF("user_id", "ts", "event_id"),
      "user_id", "10 minutes", "0 seconds", "1 hour", joinType = "left_outer")
      .select(col("event_id"), col("r_event_id"))
    val q = joined.writeStream.format("memory").queryName("ij_outer_out")
      .outputMode("append").start()
    try {
      clicks.addData(
        (7L, ts("2024-01-01 10:00:00"), 1L),  // will match
        (9L, ts("2024-01-01 10:00:00"), 2L))  // never matches
      buys.addData((7L, ts("2024-01-01 10:30:00"), 10L))
      q.processAllAvailable()
      // outer-null results are watermark-delayed by contract: advance event
      // time on BOTH streams far past click 2's match interval + watermark
      clicks.addData((99L, ts("2024-01-01 15:00:00"), 3L))
      buys.addData((98L, ts("2024-01-01 15:00:00"), 11L))
      q.processAllAvailable()
      // one more batch so the new watermark is applied to buffered state
      clicks.addData((97L, ts("2024-01-01 16:00:00"), 4L))
      buys.addData((96L, ts("2024-01-01 16:00:00"), 12L))
      q.processAllAvailable()
      val got = spark.table("ij_outer_out").as[(Long, Option[Long])].collect().toSet
      assert(got.contains((1L, Some(10L))))  // inner result, streamed immediately
      assert(got.contains((2L, None)))       // unmatched, emitted after watermark
    } finally q.stop()
  }

  test("sessionWindowStream finalizes sessions once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Event]
    val sessions = Streams.sessionWindowStream(input.toDS().toDF(), "30 minutes", "10 minutes")
    val q = sessions.writeStream.format("memory").queryName("sw_out")
      .outputMode("append").start()
    try {
      input.addData(
        Streams.Event(1L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0),
        Streams.Event(2L, ts("2024-01-01 10:10:00"), 7L, "click", 2.0))
      q.processAllAvailable()
      // push the watermark far past the session's end so it finalizes
      input.addData(Streams.Event(3L, ts("2024-01-01 13:00:00"), 9L, "view", 1.0))
      q.processAllAvailable()
      input.addData(Streams.Event(4L, ts("2024-01-01 15:00:00"), 9L, "view", 1.0))
      q.processAllAvailable()
      val got = spark.table("sw_out")
        .select("user_id", "session_start", "session_end", "n_events")
        .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
      // user 7's merged session: [10:00, 10:10 + 30m), 2 events
      assert(got.contains((7L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:40:00"), 2L)))
    } finally q.stop()
  }

  test("sessionizeStream emits sessions via flatMapGroupsWithState timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Event]
    val sessions = Streams.sessionizeStream(spark, input.toDS(), gapMinutes = 30)
    val q = sessions.writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      input.addData(
        Streams.Event(1L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0),
        Streams.Event(2L, ts("2024-01-01 10:10:00"), 7L, "click", 2.0))
      q.processAllAvailable()
      // advance event time far enough that the watermark passes the timeout
      input.addData(Streams.Event(3L, ts("2024-01-01 13:00:00"), 9L, "view", 1.0))
      q.processAllAvailable()
      input.addData(Streams.Event(4L, ts("2024-01-01 15:00:00"), 9L, "view", 1.0))
      q.processAllAvailable()
      val got = spark.table("sessions_out")
        .select("user_id", "n_events").as[(Long, Long)].collect().toSet
      assert(got.contains((7L, 2L))) // user 7's first session closed by timeout
    } finally q.stop()
  }

  test("tumblingCountsStream aggregates with a watermark over MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Event]
    val agg = Streams.tumblingCountsStream(input.toDS().toDF(), "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("tumble_out")
      .outputMode("complete").start()
    try {
      input.addData(
        Streams.Event(1L, ts("2024-01-01 10:05:00"), 7L, "click", 1.0),
        Streams.Event(2L, ts("2024-01-01 10:50:00"), 8L, "click", 2.0),
        Streams.Event(3L, ts("2024-01-01 11:10:00"), 7L, "view", 3.0))
      q.processAllAvailable()
      val got = spark.table("tumble_out")
        .select("win_start", "event_type", "n")
        .as[(Timestamp, String, Long)].collect().toSet
      assert(got == Set(
        (ts("2024-01-01 10:00:00"), "click", 2L),
        (ts("2024-01-01 11:00:00"), "view", 1L)))
    } finally q.stop()
  }

  test("windowedDistinctUsersStream estimates per-window distinct users; matches batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Event]
    val agg = Streams.windowedDistinctUsersStream(input.toDS().toDF(), "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("wdist_out")
      .outputMode("complete").start()
    try {
      val evs = Seq(
        Streams.Event(1L, ts("2024-01-01 10:05:00"), 7L, "click", 1.0),
        Streams.Event(2L, ts("2024-01-01 10:50:00"), 7L, "click", 2.0),  // dup user in window
        Streams.Event(3L, ts("2024-01-01 10:51:00"), 8L, "view", 3.0),
        Streams.Event(4L, ts("2024-01-01 11:10:00"), 7L, "view", 4.0))
      input.addData(evs: _*)
      q.processAllAvailable()
      val got = spark.table("wdist_out")
        .as[(Timestamp, Long)].collect().toSet
      // coupon-mode sketch at these cardinalities: estimates are exact
      assert(got == Set(
        (ts("2024-01-01 10:00:00"), 2L),
        (ts("2024-01-01 11:00:00"), 1L)))
      val batch = Streams.windowedDistinctUsers(evs.toDF(), "1 hour")
        .as[(Timestamp, Long)].collect().toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("dedupIngestSink keeps the target exactly-deduplicated across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_ingest_cp").toString
    val input = MemoryStream[(Long, String)]
    val q = Streams.dedupIngestSink(
      input.toDS().toDF("doc_id", "text"), s"$dir/t", "doc_id", "text", cp)
    try {
      // batch 1: within-batch dup (2 repeats 1's content) -> canonical only;
      // (1, alpha) REDELIVERED twice in the same batch (at-least-once
      // source) -> still written exactly once, no join fan-out
      input.addData((1L, "alpha"), (1L, "alpha"), (2L, "alpha"), (3L, "beta"))
      q.processAllAvailable()
      // batch 2: cross-batch dup (4 repeats stored content) -> rejected
      input.addData((4L, "alpha"), (5L, "gamma"))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$dir/t")
        .select("doc_id", "text").as[(Long, String)].collect().toSet
      assert(got == Set((1L, "alpha"), (3L, "beta"), (5L, "gamma")))
    } finally q.stop()
  }

  test("appending sinks maintain a zone-map manifest across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ingman").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_ingman_cp").toString
    val input = MemoryStream[(Long, String)]
    val q = Streams.dedupIngestSink(
      input.toDS().toDF("doc_id", "text"), s"$dir/t", "doc_id", "text", cp)
    try {
      // batch 1 creates the store; the user bootstraps the manifest ONCE
      input.addData((1L, "alpha"), (2L, "beta"))
      q.processAllAvailable()
      graft.sources.Tables.writeStatsManifest(spark, s"$dir/t", Seq("doc_id"))
      // every later batch appends files — the sink's maintainManifest call
      // keeps the sidecar fresh, so the pruned scan NEVER goes stale and
      // always equals the plain filtered read
      input.addData((3L, "gamma"), (4L, "delta"))
      q.processAllAvailable()
      input.addData((5L, "epsilon"), (6L, "zeta"))
      q.processAllAvailable()
      val pruned = graft.sources.Tables
        .manifestPrunedScan(spark, s"$dir/t", "doc_id", 3L, 5L)
        .select("doc_id").as[Long].collect().sorted
      val full = spark.read.parquet(s"$dir/t")
        .filter(col("doc_id").between(3L, 5L))
        .select("doc_id").as[Long].collect().sorted
      assert(pruned.toSeq == full.toSeq && pruned.toSeq == Seq(3L, 4L, 5L))
    } finally q.stop()
  }

  test("nearDedupIngestSink drops exact and stored-near dups; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_neardup_cp").toString
    val input = MemoryStream[(Long, String)]
    val q = Streams.nearDedupIngestSink(
      input.toDS().toDF("doc_id", "text"), s"$dir/t", "doc_id", "text", cp,
      n = 1, threshold = 0.7)
    val doc1 = "alpha beta gamma delta epsilon zeta eta theta iota"
    val near1 = doc1 + " kappa" // word-set Jaccard 9/10 vs doc1
    val doc5 = "p q r s t u v w x y"
    val near5 = doc5 + " z"
    try {
      // batch 1 bootstraps the empty store
      input.addData((1L, doc1), (2L, "one two three"))
      q.processAllAvailable()
      // batch 2: 3 is an exact dup of stored 1 (exact stage), 4 a 0.9-near
      // dup of stored 1 (near stage); 5 is novel; 6 is a near-dup of 5
      // WITHIN the batch -> cross-pairs-only contract keeps both
      input.addData((3L, doc1), (4L, near1), (5L, doc5), (6L, near5))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/t")
        .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 5L, 6L))
      // batch 3: REPLAY of batch 2 — 5/6 are now exact dups of their stored
      // selves, 3 still exact-blocked, 4 still near-blocked by stored 1
      input.addData((3L, doc1), (4L, near1), (5L, doc5), (6L, near5))
      q.processAllAvailable()
      val store = spark.read.parquet(s"$dir/t")
      assert(store.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 5L, 6L))
      assert(store.count() == 4) // the replay appended nothing
    } finally q.stop()
  }

  test("indexedNearDedupIngestSink dedupes against the persisted index; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_idxdup").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_idxdup_cp").toString
    val input = MemoryStream[(Long, String)]
    val q = Streams.indexedNearDedupIngestSink(
      input.toDS().toDF("doc_id", "text"), s"$dir/t", s"$dir/idx",
      "doc_id", "text", cp, n = 1, threshold = 0.7)
    val doc1 = "alpha beta gamma delta epsilon zeta eta theta iota"
    val near1 = doc1 + " kappa" // word-set Jaccard 9/10 vs doc1
    val doc5 = "p q r s t u v w x y"
    try {
      // batch 1 bootstraps store AND index
      input.addData((1L, doc1), (2L, "one two three"))
      q.processAllAvailable()
      // batch 2: 3 exact-dups stored 1 (hashes table), 4 near-dups stored 1
      // (index probe), 5 is novel
      input.addData((3L, doc1), (4L, near1), (5L, doc5))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/t")
        .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 5L))
      // batch 3: near-dup of batch-2-ACCEPTED 5 — blocked by the INGESTED
      // index rows (the index accumulated without a store recompute);
      // exact replay of 5 blocked by the hashes append
      input.addData((6L, doc5 + " z"), (7L, doc5))
      q.processAllAvailable()
      val store = spark.read.parquet(s"$dir/t")
      assert(store.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 5L))
      assert(store.count() == 3)
      // the index holds exactly the accepted sets (once each, pre-compact)
      assert(spark.read.parquet(s"$dir/idx/sets").select("skey")
        .distinct().count() == 3)
    } finally q.stop()
  }

  test("indexedNearDedupIngestSink recovers from a sets-present/hashes-missing bootstrap crash") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_idxcrash").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_idxcrash_cp").toString
    val doc1 = "alpha beta gamma delta epsilon zeta eta theta iota"
    // simulate the crash window: the bootstrap batch built sets/bands/
    // members (buildDedupIndex) but died BEFORE the hashes/ append — the
    // first-draft sink keyed the hashes read on sets/ existence and the
    // replay wedged forever on PATH_NOT_FOUND
    graft.ext.Dedup.buildDedupIndex(
      Seq((1L, doc1)).toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/idx", n = 1, numHashes = 64, bands = 16)
    val input = MemoryStream[(Long, String)]
    val q = Streams.indexedNearDedupIngestSink(
      input.toDS().toDF("doc_id", "text"), s"$dir/t", s"$dir/idx",
      "doc_id", "text", cp, n = 1, threshold = 0.7)
    try {
      // the replayed batch: its text is already in the near-dup index, so
      // it blocks ITSELF at jaccard 1 (nothing lands in the store — the
      // pre-crash attempt's store write is per-partition idempotent); a
      // novel doc in the same batch must still be accepted
      input.addData((1L, doc1), (9L, "p q r s t u v w x y"))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/t")
        .select("doc_id").as[Long].collect().toSet == Set(9L))
      // and the hashes table exists again after the batch (written last)
      assert(spark.read.parquet(s"$dir/idx/hashes").count() == 1)
    } finally q.stop()
  }

  test("indexedSemanticIngestSink gates against the persisted index; ingested vectors block later batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_idxsem").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_idxsem_cp").toString
    val input = MemoryStream[(Long, Seq[Float])]
    val q = Streams.indexedSemanticIngestSink(
      input.toDS().toDF("vec_id", "embedding"), s"$dir/t", s"$dir/idx",
      "vec_id", "embedding", threshold = 0.99, cp, nlist = 2)
    try {
      // batch 1 bootstraps store AND index (fits the frozen quantizer)
      input.addData((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)))
      q.processAllAvailable()
      // batch 2: 3 colinear with indexed 1 -> blocked; 4 at 45 deg -> accepted
      input.addData((3L, Seq(2f, 0f)), (4L, Seq(1f, 1f)))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/t")
        .select("vec_id").as[Long].collect().toSet == Set(1L, 2L, 4L))
      // batch 3: colinear with batch-2-ACCEPTED 4 -> blocked by the
      // INGESTED index rows, no store recompute, no refit
      input.addData((5L, Seq(2f, 2f)))
      q.processAllAvailable()
      val store = spark.read.parquet(s"$dir/t")
      assert(store.select("vec_id").as[Long].collect().toSet == Set(1L, 2L, 4L))
      assert(store.count() == 3)
      // the index's vectors table holds exactly the accepted ids
      assert(spark.read.parquet(s"$dir/idx/vectors")
        .select("neighbor_id").as[Long].collect().toSet == Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("indexedSignatureIngestSink gates by hamming against the persisted index across batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_idxsig").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_idxsig_cp").toString
    val input = MemoryStream[(Long, Long)]
    val q = Streams.indexedSignatureIngestSink(
      input.toDS().toDF("media_id", "dhash"), s"$dir/t", s"$dir/idx",
      "media_id", "dhash", cp, maxHamming = 3)
    try {
      val base = 0x0f0f0f0f0f0f0f0fL
      // batch 1 bootstraps store and index
      input.addData((1L, base), (2L, base ^ 0xff00ff00L)) // far apart
      q.processAllAvailable()
      // batch 2: 3 within 2 bits of indexed 1 -> blocked; 4 far -> accepted
      input.addData((3L, base ^ 3L), (4L, 0x123456789abcdef0L))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/t")
        .select("media_id").as[Long].collect().toSet == Set(1L, 2L, 4L))
      // batch 3: within 1 bit of batch-2-ACCEPTED 4 -> blocked by the
      // ingested index rows, store never rescanned
      input.addData((5L, 0x123456789abcdef1L))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/t")
        .select("media_id").as[Long].collect().toSet == Set(1L, 2L, 4L))
      // the index (base plus appended delta) holds exactly the accepted
      // signatures (4 chunk rows each)
      assert(graft.ext.Dedup.readSigs(spark, s"$dir/idx")
        .select("id").distinct().as[Long].collect().toSet == Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("semanticIngestSink blocks near-dup vectors; a replayed micro-batch is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_semingest").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_semingest_cp").toString
    val input = MemoryStream[(Long, Seq[Float])]
    val q = Streams.semanticIngestSink(
      input.toDS().toDF("vec_id", "embedding"), s"$dir/t", "vec_id", "embedding",
      threshold = 0.99, cp)
    try {
      // batch 1 bootstraps the empty store (everything accepted)
      input.addData((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)))
      q.processAllAvailable()
      // batch 2: 3 is colinear with stored 1 (cos = 1) -> blocked;
      // 4 is 45 degrees from both (cos ~= 0.707 < 0.99) -> accepted
      input.addData((3L, Seq(2f, 0f)), (4L, Seq(1f, 1f)))
      q.processAllAvailable()
      // batch 3: REPLAY of batch 2 (restart/retry) -> no-op: 4's stored
      // copy blocks its duplicate at cos exactly 1, 3 is still blocked by 1
      input.addData((3L, Seq(2f, 0f)), (4L, Seq(1f, 1f)))
      q.processAllAvailable()
      val store = spark.read.parquet(s"$dir/t")
      assert(store.select("vec_id").as[Long].collect().toSet == Set(1L, 2L, 4L))
      assert(store.count() == 3) // the replay appended nothing
    } finally q.stop()
  }

  test("mixDriftSink writes per-window entropy once finalized; replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_mixdrift").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_mixdrift_cp").toString
    val input = MemoryStream[Streams.Event]
    val q = Streams.mixDriftSink(
      input.toDS().toDF(), "1 hour", "1 hour", s"$dir/t", cp)
    try {
      // hour 10: 2 clicks + 2 views (uniform over 2 types -> ln 2);
      // hour 11: 4 clicks (single type -> 0)
      input.addData(
        Streams.Event(1L, ts("2024-01-01 10:05:00"), 7L, "click", 1.0),
        Streams.Event(2L, ts("2024-01-01 10:10:00"), 7L, "click", 1.0),
        Streams.Event(3L, ts("2024-01-01 10:20:00"), 8L, "view", 1.0),
        Streams.Event(4L, ts("2024-01-01 10:40:00"), 8L, "view", 1.0),
        Streams.Event(5L, ts("2024-01-01 11:05:00"), 7L, "click", 1.0),
        Streams.Event(6L, ts("2024-01-01 11:15:00"), 7L, "click", 1.0),
        Streams.Event(7L, ts("2024-01-01 11:25:00"), 7L, "click", 1.0),
        Streams.Event(8L, ts("2024-01-01 11:35:00"), 7L, "click", 1.0))
      q.processAllAvailable()
      // advance the watermark far enough to finalize both hours
      input.addData(Streams.Event(9L, ts("2024-01-01 14:00:00"), 9L, "click", 1.0))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$dir/t")
        .select("win_start", "n_events", "n_types", "entropy")
        .as[(Timestamp, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got(ts("2024-01-01 10:00:00")) == ((4L, 2L, math.rint(math.log(2) * 1e6) / 1e6)))
      assert(got(ts("2024-01-01 11:00:00")) == ((4L, 1L, 0.0)))
      // emitted windows never re-emit; later batches leave them untouched
      input.addData(Streams.Event(10L, ts("2024-01-01 15:00:00"), 9L, "view", 1.0))
      q.processAllAvailable()
      val again = spark.read.parquet(s"$dir/t")
        .filter(col("win_start") < lit(ts("2024-01-01 12:00:00"))).count()
      assert(again == 2)
    } finally q.stop()
  }

  test("slidingCountsStream fans each event into width/slide windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Event]
    val agg = Streams.slidingCountsStream(input.toDS().toDF(), "1 hour", "30 minutes", "2 hours")
    val q = agg.writeStream.format("memory").queryName("slide_out")
      .outputMode("complete").start()
    try {
      input.addData(Streams.Event(1L, ts("2024-01-01 10:05:00"), 7L, "click", 1.0))
      q.processAllAvailable()
      val got = spark.table("slide_out")
        .select("win_start", "n").as[(Timestamp, Long)].collect().toSet
      // one event, two windows: [09:30, 10:30) and [10:00, 11:00)
      assert(got == Set(
        (ts("2024-01-01 09:30:00"), 1L),
        (ts("2024-01-01 10:00:00"), 1L)))
    } finally q.stop()
  }

  test("enrichStream joins each micro-batch against a broadcast dim") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Event]
    val dim = Seq((7L, "gold"), (9L, "basic")).toDF("uid", "tier")
    val enriched = Streams.enrichStream(input.toDS().toDF(), dim,
      col("user_id") === col("uid"))
    val q = enriched.writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      input.addData(
        Streams.Event(1L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0),
        Streams.Event(2L, ts("2024-01-01 10:01:00"), 8L, "view", 2.0))
      q.processAllAvailable()
      val got = spark.table("enrich_out").select("event_id", "tier")
        .as[(Long, Option[String])].collect().toMap
      assert(got(1L).contains("gold"))
      assert(got(2L).isEmpty) // left join keeps unmatched
    } finally q.stop()
  }

  test("upsertSink: replayed keys across micro-batches are not duplicated") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val input = MemoryStream[Streams.Event]
    val q = Streams.upsertSink(input.toDS().toDF(),
      s"$base/fact", Seq("event_id"), s"$base/ckpt")
    try {
      input.addData(Streams.Event(1L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0))
      q.processAllAvailable()
      // second batch replays key 1 (at-least-once upstream) + a new key
      input.addData(
        Streams.Event(1L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0),
        Streams.Event(2L, ts("2024-01-01 10:05:00"), 7L, "view", 2.0))
      q.processAllAvailable()
      val stored = spark.read.parquet(s"$base/fact")
      assert(stored.count() == 2) // key 1 inserted exactly once
    } finally q.stop()
  }

  test("dedupedAppendStream drops duplicate business keys within watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Event]
    val deduped = Streams.dedupedAppendStream(
      input.toDS().toDF(), Seq("event_id"), "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        Streams.Event(1L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0),
        Streams.Event(1L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0),
        Streams.Event(2L, ts("2024-01-01 10:01:00"), 7L, "click", 2.0))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 2)
    } finally q.stop()
  }

  test("indexedComponentsIngestSink maintains the cluster assignment across chained micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_idxcc").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_idxcc_cp").toString
    val input = MemoryStream[(Long, Long)]
    val q = Streams.indexedComponentsIngestSink(
      input.toDS().toDF("media_id", "dhash"), s"$dir/idx",
      "media_id", "dhash", cp, maxHamming = 3)
    try {
      // the ComponentsIndexSpec chain fixture as three micro-batches:
      // batch 1 bootstraps; batch 2 lowers comp(10)'s rep to 5; batch 3
      // bridges comp(20) in and lowers the rep to 2 — resolution must
      // follow the 10 -> 5 -> 2 merge chain written across batches
      input.addData((10L, 0x00L), (20L, 0x1FL), (50L, 0xFFFFFFFF00000000L))
      q.processAllAvailable()
      input.addData((30L, 0x01L), (5L, 0x02L))
      q.processAllAvailable()
      input.addData((40L, 0x07L), (2L, 0x04L))
      q.processAllAvailable()
      val got = graft.ext.Dedup.componentsTable(spark, s"$dir/idx")
        .as[(Long, Long)].collect().toMap
      assert(got == Map(2L -> 2L, 5L -> 2L, 10L -> 2L, 20L -> 2L,
        30L -> 2L, 40L -> 2L, 50L -> 50L))
    } finally q.stop()
  }

  test("classifierGateSink keeps rows scoring above the frozen model's threshold; replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_clsgate").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_clsgate_cp").toString
    // frozen model: weight mass on the bucket of token "good" — docs
    // containing it score ~sigmoid(positive), others sigmoid(0)=0.5
    val (h, n) = graft.functions.expressions.WordShingleHashes.tokenHashes(
      org.apache.spark.unsafe.types.UTF8String.fromString("good"))
    assert(n == 1)
    val w = new Array[Double](64)
    w(java.lang.Math.floorMod(h(0), 64L).toInt) = 8.0
    val model = graft.ext.Classifier.LogRegModel(w, bias = -2.0)
    val input = MemoryStream[(Long, String)]
    val q = Streams.classifierGateSink(
      input.toDS().toDF("doc_id", "text"), s"$dir/t", model, "text", cp,
      threshold = 0.5)
    try {
      input.addData((1L, "good stuff here"), (2L, "bad junk"), (3L, "more good text"))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$dir/t")
      assert(got.select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
      // scores ride along for downstream thresholding audits
      assert(got.columns.contains("score"))
      // next batch: the gate is stateless — same text, same decision
      input.addData((4L, "bad junk"), (5L, "good"))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/t")
        .select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 5L))
    } finally q.stop()
  }

  test("indexedChunkDedupIngestSink drops admitted chunks across batches; empty rewrites dropped") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_chunksink").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_chunksink_cp").toString
    val input = MemoryStream[(Long, String)]
    val q = Streams.indexedChunkDedupIngestSink(
      input.toDS().toDF("doc_id", "text"), s"$dir/t", s"$dir/idx",
      "doc_id", "text", cp, chunkSize = 2)
    try {
      // batch 1 bootstraps: doc 2 repeats doc 1's chunk "a b" in-batch
      input.addData((1L, "a b c d"), (2L, "a b e f"))
      q.processAllAvailable()
      val s1 = spark.read.parquet(s"$dir/t")
      assert(s1.select("doc_id", "text_dedup").as[(Long, String)].collect().toSet
        == Set((1L, "a b c d"), (2L, "e f")))
      // batch 2: doc 3 only repeats admitted chunks -> rewritten empty ->
      // DROPPED from the store; doc 4 keeps its novel tail
      input.addData((3L, "c d e f"), (4L, "c d g h"))
      q.processAllAvailable()
      val s2 = spark.read.parquet(s"$dir/t")
      assert(s2.select("doc_id", "text_dedup").as[(Long, String)].collect().toSet
        == Set((1L, "a b c d"), (2L, "e f"), (4L, "g h")))
      // the index holds each admitted chunk hash exactly once pre-compact
      // (recursive: post-bootstrap admits land in atomic admit_<token> dirs)
      val hashes = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$dir/idx/chunks")
      assert(hashes.count() == hashes.distinct().count())
      assert(hashes.count() == 4) // "a b", "c d", "e f", "g h"
    } finally q.stop()
  }

  test("indexedPqIngestSink bootstraps the model on batch 1; later batches frozen-codebook ingest, probe-visible") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_idxpq").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_idxpq_cp").toString
    val input = MemoryStream[(Long, Seq[Float])]
    val q = Streams.indexedPqIngestSink(
      input.toDS().toDF("vec_id", "embedding"), s"$dir/t", s"$dir/idx",
      "vec_id", "embedding", cp, m = 2, ksub = 2)
    try {
      // batch 1 bootstraps store + model (codebooks fit on this batch)
      input.addData(
        (1L, Seq(1f, 0.1f, 0.1f, 0.1f)), (2L, Seq(0.1f, 1f, 0.1f, 0.1f)),
        (3L, Seq(0.1f, 0.1f, 1f, 0.1f)), (4L, Seq(0.1f, 0.1f, 0.1f, 1f)))
      q.processAllAvailable()
      val books = spark.read.parquet(s"$dir/idx/codebooks").collect().toSet
      assert(books.size == 4) // the full m=2 x ksub=2 grid
      // batch 2: appended under the FROZEN model — codebooks unchanged,
      // codes grow by the batch
      input.addData((5L, Seq(1f, 0.2f, 0.1f, 0.1f)),
        (6L, Seq(0.1f, 0.1f, 1f, 0.2f)))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/idx/codebooks").collect().toSet == books)
      assert(spark.read.parquet(s"$dir/idx/codes").count() == 6)
      val store = spark.read.parquet(s"$dir/t")
      assert(store.select("vec_id").as[Long].collect().toSet ==
        Set(1L, 2L, 3L, 4L, 5L, 6L))
      // the ingested rows are probe-visible: exact-reranked top-2 for a
      // query colinear with id 1 is {1, 5} — 5 arrived AFTER bootstrap
      val queries = Seq((100L, Seq(1f, 0.1f, 0.1f, 0.1f)))
        .toDF("vec_id", "embedding")
      val top = graft.ext.Similarity.pqIndexTopK(spark, s"$dir/idx", queries,
        "vec_id", "embedding", k = 2, rerank = 6,
        vectors = Some(store.select("vec_id", "embedding")))
      assert(top.select("neighbor_id").as[Long].collect().toSet == Set(1L, 5L))
      // compact folds the bootstrap + append file sets; rows preserved
      graft.ext.Similarity.pqIndexCompact(spark, s"$dir/idx")
      assert(spark.read.parquet(s"$dir/idx/codes").count() == 6)
    } finally q.stop()
  }
}
