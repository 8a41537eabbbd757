package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.FunnelStream

/** Streaming funnel: drive MemoryStream micro-batches through the
  * watermarked daily aggregation and the stateful sessionizer; assert
  * batch parity (a closed streaming day == the batch aggregate of the
  * same rows).
  */
class FunnelStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def ts(day: Int, hour: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")

  test("daily windowed counts equal the batch aggregate of the same rows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val events = input.toDF().toDF("ts", "event_type")

    val q = FunnelStream.dailyEventCounts(events)
      .writeStream.format("memory").queryName("daily")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(Seq(
        (ts(1, 1), "view"), (ts(1, 2), "view"), (ts(1, 3), "purchase"),
        (ts(2, 1), "error"), (ts(2, 2), "view")))
      q.processAllAvailable()

      val streamed = spark.table("daily")
        .select("day_start", "event_type", "cnt")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
        .toSet
      assert(streamed === Set(
        ("2024-01-01 00:00:00.0", "view", 2L),
        ("2024-01-01 00:00:00.0", "purchase", 1L),
        ("2024-01-02 00:00:00.0", "error", 1L),
        ("2024-01-02 00:00:00.0", "view", 1L)))
    } finally q.stop()
  }

  test("streaming FI status mapping matches the batch status map") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val events = input.toDF().toDF("ts", "event_type")

    val q = FunnelStream.dailyFiStatusCounts(events)
      .writeStream.format("memory").queryName("fi")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(Seq(
        (ts(1, 1), "purchase"), (ts(1, 2), "purchase"), (ts(1, 3), "error"),
        (ts(1, 4), "view"), (ts(1, 5), "click"))) // click -> dropped
      q.processAllAvailable()
      val got = spark.table("fi").select("fetch_status", "Count")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === Map("Success" -> 2L, "Failed" -> 1L, "Not Attempted" -> 1L))
    } finally q.stop()
  }

  test("stream-static enrichment joins the broadcast dim and equals batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val events = input.toDF().toDF("user_id", "ts", "event_type")
    val dim = Seq((1L, "gold"), (2L, "free")).toDF("user_id", "segment")

    val q = FunnelStream.enrichedDailyCounts(events, dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(Seq(
        (1L, ts(1, 1), "view"), (1L, ts(1, 2), "purchase"),
        (2L, ts(1, 3), "view"), (3L, ts(1, 4), "view"))) // 3 has no profile
      q.processAllAvailable()
      val got = spark.table("enriched").select("segment", "cnt")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === Map("gold" -> 2L, "free" -> 1L))
    } finally q.stop()
  }

  test("streaming dedup drops replayed events across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val events = input.toDF().toDF("event_id", "ts", "event_type")

    val q = FunnelStream.dedupedEvents(events)
      .writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Seq((1L, ts(1, 1), "view"), (2L, ts(1, 2), "view")))
      q.processAllAvailable()
      // replay of 1 plus a fresh event in a later batch
      input.addData(Seq((1L, ts(1, 1), "view"), (3L, ts(1, 3), "purchase")))
      q.processAllAvailable()
      val ids = spark.table("deduped").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("flatMapGroupsWithState closes sessions on gap and keeps the open one") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[FunnelStream.UserEvent]

    val q = FunnelStream.userSessions(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("usersessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: two events 10 min apart (one session), then a 2h gap —
      // the third event closes the first session within the same batch
      input.addData(
        FunnelStream.UserEvent(1L, ts(1, 1), "view"),
        FunnelStream.UserEvent(1L, Timestamp.valueOf("2024-01-01 01:10:00"), "view"),
        FunnelStream.UserEvent(1L, ts(1, 3), "purchase"))
      q.processAllAvailable()

      val closed = spark.table("usersessions")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getLong(3)))
      assert(closed.toSeq === Seq(
        (1L, "2024-01-01 01:00:00.0", "2024-01-01 01:10:00.0", 2L)))
    } finally q.stop()
  }

  test("a late in-gap event widens the session instead of moving its end backwards") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[FunnelStream.UserEvent]

    val q = FunnelStream.userSessions(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("latesessions")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(FunnelStream.UserEvent(1L, ts(1, 10), "view"))
      q.processAllAvailable()
      // late event 10 min EARLIER, still within the gap and watermark
      input.addData(
        FunnelStream.UserEvent(1L, Timestamp.valueOf("2024-01-01 09:50:00"), "view"))
      q.processAllAvailable()
      // a far-later event closes the widened session in-batch
      input.addData(FunnelStream.UserEvent(1L, ts(1, 15), "purchase"))
      q.processAllAvailable()

      val closed = spark.table("latesessions").collect()
        .map(r => (r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getLong(3)))
      assert(closed.toSeq === Seq(
        ("2024-01-01 09:50:00.0", "2024-01-01 10:00:00.0", 2L)))
    } finally q.stop()
  }

  test("stale late events in one batch merge with each other before closing") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[FunnelStream.UserEvent]

    // lateness must put the watermark strictly BELOW 09:00 (watermark =
    // 12:00 - lateness; an event at the watermark is dropped)
    val q = FunnelStream.userSessions(input.toDS(),
        gapMinutes = 30, lateness = "4 hours")
      .writeStream.format("memory").queryName("stalemerge")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(FunnelStream.UserEvent(1L, ts(1, 12), "view"))
      q.processAllAvailable()
      // two late events 5 min apart, both far before the open session:
      // they must fuse into ONE closed session, not two singletons
      input.addData(
        FunnelStream.UserEvent(1L, Timestamp.valueOf("2024-01-01 09:00:00"), "view"),
        FunnelStream.UserEvent(1L, Timestamp.valueOf("2024-01-01 09:05:00"), "view"))
      q.processAllAvailable()

      val closed = spark.table("stalemerge").collect()
        .map(r => (r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getLong(3)))
      assert(closed.toSeq === Seq(
        ("2024-01-01 09:00:00.0", "2024-01-01 09:05:00.0", 2L)))
    } finally q.stop()
  }

  test("a late event beyond the gap becomes its own session, not a merge") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[FunnelStream.UserEvent]

    val q = FunnelStream.userSessions(input.toDS(),
        gapMinutes = 30, lateness = "2 hours")
      .writeStream.format("memory").queryName("prelatesessions")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(FunnelStream.UserEvent(1L, ts(1, 10), "view"))
      q.processAllAvailable()
      // 50 min before the session start: beyond the gap, within lateness
      input.addData(
        FunnelStream.UserEvent(1L, Timestamp.valueOf("2024-01-01 09:10:00"), "view"))
      q.processAllAvailable()
      input.addData(FunnelStream.UserEvent(1L, ts(1, 15), "purchase"))
      q.processAllAvailable()

      val closed = spark.table("prelatesessions").collect()
        .map(r => (r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getLong(3)))
        .sortBy(_._1)
      assert(closed.toSeq === Seq(
        ("2024-01-01 09:10:00.0", "2024-01-01 09:10:00.0", 1L), // stale singleton
        ("2024-01-01 10:00:00.0", "2024-01-01 10:00:00.0", 1L)))
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates per-user funnel state across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[FunnelStream.UserEvent]

    val q = FunnelStream.userFunnelState(input.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        FunnelStream.UserEvent(1L, ts(1, 1), "view"),
        FunnelStream.UserEvent(1L, ts(1, 2), "view"),
        FunnelStream.UserEvent(2L, ts(1, 1), "view"))
      q.processAllAvailable()
      input.addData(FunnelStream.UserEvent(1L, ts(1, 3), "purchase"))
      q.processAllAvailable()

      val last = spark.table("sessions")
        .groupBy("user_id")
        .agg(max("events").as("events"), max("purchases").as("purchases"),
          max("converted").as("converted"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
        .toMap
      assert(last(1L) === ((3L, 1L, true)))  // state carried across batches
      assert(last(2L) === ((1L, 0L, false)))
    } finally q.stop()
  }

  test("restart from checkpoint resumes dedup state exactly-once into a file sink") {
    // The durability contract a production stream lives on: stop the
    // query, start a NEW one on the same checkpoint, replay an
    // already-seen event — the restored dropDuplicates state must drop
    // the replay, the committed source offset must not re-emit batch 0,
    // and the file sink's _spark_metadata must keep the output
    // exactly-once across the restart boundary.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = Tmp.dir("funnel_ckpt").toString
    val outDir = Tmp.dir("funnel_sink").toString
    val input = MemoryStream[(Long, Timestamp, String)]
    def start() = FunnelStream
      .dedupedEvents(input.toDF().toDF("event_id", "ts", "event_type"))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    val q1 = start()
    try {
      input.addData(Seq((1L, ts(1, 1), "view"), (2L, ts(1, 2), "view")))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      // replay of 1 (must hit restored state) plus a fresh event
      input.addData(Seq((1L, ts(1, 1), "view"), (3L, ts(1, 3), "purchase")))
      q2.processAllAvailable()
    } finally q2.stop()
    val ids = spark.read.parquet(outDir).select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L))
  }

  test("transformWithState funnel tracker matches the mapGroupsWithState semantics") {
    // The v2 stateful API requires the RocksDB provider; same two-batch
    // accumulation contract as the mapGroupsWithState test above.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    GraftSession.withRocksDbState(spark) {
      // TimeMode.None here (ttlMillis = 0): under ProcessingTime the
      // engine keeps running empty batches to advance the TTL clock, so
      // processAllAvailable never quiesces in a test harness
      val input = MemoryStream[FunnelStream.UserEvent]
      val q = FunnelStream.userFunnelStateV2(input.toDS())
        .writeStream.format("memory").queryName("funnel_tws")
        .outputMode(OutputMode.Update()).start()
      try {
        input.addData(
          FunnelStream.UserEvent(1L, ts(1, 1), "view"),
          FunnelStream.UserEvent(1L, ts(1, 2), "view"),
          FunnelStream.UserEvent(2L, ts(1, 1), "view"))
        q.processAllAvailable()
        input.addData(FunnelStream.UserEvent(1L, ts(1, 3), "purchase"))
        q.processAllAvailable()
        val last = spark.table("funnel_tws")
          .groupBy("user_id")
          .agg(max("events").as("events"), max("purchases").as("purchases"),
            max("converted").as("converted"))
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
          .toMap
        assert(last(1L) === ((3L, 1L, true)))
        assert(last(2L) === ((1L, 0L, false)))
      } finally q.stop()
    }
  }

  test("transformWithState restart recovers state from RocksDB SST files " +
      "with identical post-restart output") {
    // The r12 restart test predates the RocksDB pinning and proves
    // recovery of HDFSBackedStateStore heap snapshots only. This one
    // restarts a transformWithState query on the SAME checkpoint under
    // the RocksDB provider, so what must reload is RocksDB's own
    // artifact chain (SST files + changelog), and asserts rocksdb*
    // metrics in BOTH runs plus output identity with the uninterrupted
    // semantics: user 1's counter continues from the restored (2 events)
    // state, not from zero.
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    GraftSession.withRocksDbState(spark) {
      val ckpt = Tmp.dir("tws_ckpt").toString
      val input = MemoryStream[FunnelStream.UserEvent]
      // foreachBatch: the one Update-mode sink that supports checkpoint
      // recovery (memory sink refuses to restart from a checkpoint)
      val out = new java.util.concurrent.ConcurrentLinkedQueue[
        (Long, Long, Long, Boolean)]()
      def start() = FunnelStream.userFunnelStateV2(input.toDS())
        .writeStream
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[FunnelStream.UserFunnelUpdate],
              _: Long) =>
            df.collect().foreach(u =>
              out.add((u.user_id, u.events, u.purchases, u.converted)))
            ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update()).start()
      def rocksMetrics(q: org.apache.spark.sql.streaming.StreamingQuery)
          : Unit = {
        val withState = q.recentProgress.filter(_.stateOperators.nonEmpty)
        assert(withState.nonEmpty, "no stateful batch progress recorded")
        val custom = withState.last.stateOperators.head.customMetrics.keySet()
        assert(custom.stream().anyMatch(_.startsWith("rocksdb")),
          s"state metrics are not RocksDB's: $custom")
      }
      val q1 = start()
      try {
        input.addData(
          FunnelStream.UserEvent(1L, ts(1, 1), "view"),
          FunnelStream.UserEvent(1L, ts(1, 2), "view"),
          FunnelStream.UserEvent(2L, ts(1, 1), "view"))
        q1.processAllAvailable()
        rocksMetrics(q1)
      } finally q1.stop()
      val q2 = start() // NEW query, same checkpoint: RocksDB state reloads
      try {
        input.addData(FunnelStream.UserEvent(1L, ts(1, 3), "purchase"))
        q2.processAllAvailable()
        rocksMetrics(q2)
      } finally q2.stop()
      // exactly the uninterrupted update sequence: run-1 emits (1,2,0) and
      // (2,1,0); run-2's purchase continues user 1 at events=3 — a reset
      // (lost state) would emit events=1, a replayed batch would duplicate
      val updates = out.asScala.toSeq.sorted
      assert(updates === Seq(
        (1L, 2L, 0L, false), (1L, 3L, 1L, true), (2L, 1L, 0L, false)))
    }
  }

  test("stream-stream join runs on RocksDB state and matches hand semantics") {
    // The 100 TB posture for join state: the HDFSBackedStateStore keeps
    // every keyed entry on-heap, so watermark-bounded join state at
    // high key cardinality OOMs the executor; RocksDB spills to local
    // disk. This pins (a) the provider actually engages — the progress
    // metrics are RocksDB's — and (b) join results are unchanged.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    GraftSession.withRocksDbState(spark) {
      val views = MemoryStream[(Long, Timestamp)]
      val purchases = MemoryStream[(Long, Timestamp)]
      val v = views.toDF().toDF("v_user", "v_ts").withWatermark("v_ts", "1 day")
      val p = purchases.toDF().toDF("p_user", "p_ts").withWatermark("p_ts", "1 day")
      val joined = v.join(p,
        col("v_user") === col("p_user") &&
          col("p_ts") >= col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr("INTERVAL 7 DAYS"))
      val q = joined.writeStream.format("memory").queryName("ssj_rocks")
        .outputMode(OutputMode.Append()).start()
      try {
        views.addData((1L, ts(1, 1)), (2L, ts(1, 2)))
        q.processAllAvailable()
        // across micro-batches: one purchase in-window, one 8 days out,
        // one for a user with no view
        purchases.addData((1L, ts(3, 1)), (2L, ts(9, 3)), (7L, ts(2, 1)))
        q.processAllAvailable()
        val got = spark.table("ssj_rocks")
          .select("v_user", "p_ts").collect()
          .map(r => (r.getLong(0), r.getTimestamp(1).toString)).toSet
        assert(got === Set((1L, "2024-01-03 01:00:00.0")))
        val stateMetrics = q.lastProgress.stateOperators
        assert(stateMetrics.nonEmpty)
        val custom = stateMetrics.head.customMetrics.keySet()
        assert(custom.stream().anyMatch(_.startsWith("rocksdb")),
          s"state metrics are not RocksDB's: $custom")
      } finally q.stop()
    }
  }

  test("stream-stream join state survives a RocksDB checkpoint restart " +
      "with identical post-restart output") {
    // The transformWithState restart test proves RocksDB SST recovery
    // for user-defined state; symmetric JOIN state (the heaviest stream
    // query — both sides buffered per key until the watermark closes
    // the interval) had never crossed a restart. Run 1 buffers view
    // rows for users 1 and 2 and emits user 1's in-window match; run 2
    // — a NEW query on the SAME checkpoint — feeds a purchase for
    // user 2, whose matching view exists ONLY in run-1's recovered join
    // state. A lost-state restart emits nothing for user 2; a replayed
    // batch duplicates user 1's row. rocksdb* metrics are asserted in
    // both runs so the recovery being proven is RocksDB's artifact
    // chain, not a heap snapshot.
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    GraftSession.withRocksDbState(spark) {
      val ckpt = Tmp.dir("ssj_ckpt").toString
      val views = MemoryStream[(Long, Timestamp)]
      val purchases = MemoryStream[(Long, Timestamp)]
      val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
      def start() = {
        val v = views.toDF().toDF("v_user", "v_ts")
          .withWatermark("v_ts", "1 day")
        val p = purchases.toDF().toDF("p_user", "p_ts")
          .withWatermark("p_ts", "1 day")
        v.join(p,
            col("v_user") === col("p_user") &&
              col("p_ts") >= col("v_ts") &&
              col("p_ts") <= col("v_ts") + expr("INTERVAL 7 DAYS"))
          .select("v_user", "p_ts")
          .writeStream
          .foreachBatch {
            (df: org.apache.spark.sql.DataFrame, _: Long) =>
              df.collect().foreach(r =>
                out.add((r.getLong(0), r.getTimestamp(1).toString)))
              ()
          }
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append()).start()
      }
      def rocksMetrics(q: org.apache.spark.sql.streaming.StreamingQuery)
          : Unit = {
        val withState = q.recentProgress.filter(_.stateOperators.nonEmpty)
        assert(withState.nonEmpty, "no stateful batch progress recorded")
        val custom = withState.last.stateOperators.head.customMetrics.keySet()
        assert(custom.stream().anyMatch(_.startsWith("rocksdb")),
          s"state metrics are not RocksDB's: $custom")
      }
      val q1 = start()
      try {
        views.addData((1L, ts(1, 1)), (2L, ts(1, 2)))
        q1.processAllAvailable()
        purchases.addData((1L, ts(3, 1)))
        q1.processAllAvailable()
        rocksMetrics(q1)
      } finally q1.stop()
      val q2 = start() // NEW query, same checkpoint: join state reloads
      try {
        // user 2's purchase joins a view buffered BEFORE the restart;
        // the 8-days-out purchase for user 1 must stay unmatched
        purchases.addData((2L, ts(5, 1)), (1L, ts(9, 1)))
        q2.processAllAvailable()
        rocksMetrics(q2)
      } finally q2.stop()
      assert(out.asScala.toSeq.sorted === Seq(
        (1L, "2024-01-03 01:00:00.0"), (2L, "2024-01-05 01:00:00.0")))
    }
  }

  test("session gap compares exact microseconds, not truncated millis") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[FunnelStream.UserEvent]
    val q = FunnelStream.userSessions(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("microsessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // gap = 30min + 400µs: sub-millisecond overshoot that a
      // getTime-based (ms) comparison truncates away. The batch
      // sessionizer breaks here, so the stream must too.
      val a = Timestamp.valueOf("2024-01-01 01:00:00")
      val b = Timestamp.valueOf("2024-01-01 01:30:00")
      b.setNanos(400000) // 01:30:00.000400 → gap 1800000400 µs
      val c = Timestamp.valueOf("2024-01-01 09:00:00")
      input.addData(
        FunnelStream.UserEvent(1L, a, "view"),
        FunnelStream.UserEvent(1L, b, "view"),
        FunnelStream.UserEvent(1L, c, "purchase"))
      q.processAllAvailable()
      val closed = spark.table("microsessions").collect()
        .map(r => (r.getTimestamp(1).toString, r.getLong(3)))
      assert(closed.toSeq === Seq(
        ("2024-01-01 01:00:00.0", 1L), ("2024-01-01 01:30:00.0004", 1L)))
    } finally q.stop()
  }

  test("random time-ordered micro-batches reproduce the batch session split exactly") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(17)
    // 4 users x ~40 events each; inter-event gaps 0..50 min, so the
    // 30-min rule splits mid-stream many times; delivered to the
    // stream in global time order across random batch boundaries
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val evs = (for {
      u <- 1L to 4L
      _ <- 1 to 1
    } yield {
      var t = base + rnd.nextInt(600000)
      (1 to 40).map { _ =>
        t += rnd.nextInt(50 * 60000).toLong
        FunnelStream.UserEvent(u, new Timestamp(t), "view")
      }
    }).flatten.sortBy(_.ts.getTime)

    val input = MemoryStream[FunnelStream.UserEvent]
    val q = FunnelStream.userSessions(input.toDS(), gapMinutes = 30,
        lateness = "10 minutes")
      .writeStream.format("memory").queryName("randsessions")
      .outputMode(OutputMode.Append()).start()
    try {
      var rest = evs
      while (rest.nonEmpty) {
        val k = 1 + rnd.nextInt(25)
        input.addData(rest.take(k))
        q.processAllAvailable()
        rest = rest.drop(k)
      }
      // two far-future sentinels: the first advances the watermark past
      // every real timeout, the second runs a batch under it
      val far = evs.map(_.ts.getTime).max + 365L * 86400000L
      input.addData(FunnelStream.UserEvent(-1L, new Timestamp(far), "x"))
      q.processAllAvailable()
      input.addData(FunnelStream.UserEvent(-1L, new Timestamp(far * 2), "x"))
      q.processAllAvailable()

      val got = spark.table("randsessions")
        .collect().filter(_.getLong(0) >= 0)
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getLong(3))).toSet

      // batch reference: split each user's ordered stream on gap > 30min
      val expected = evs.groupBy(_.user_id).flatMap { case (u, es) =>
        val ts = es.map(_.ts.getTime).sorted
        val sessions = ts.tail.foldLeft(List(List(ts.head))) { (acc, t) =>
          if (t - acc.head.head <= 30 * 60000L) (t :: acc.head) :: acc.tail
          else List(t) :: acc
        }
        sessions.map(sess =>
          (u, sess.min, sess.max, sess.length.toLong))
      }.toSet
      assert(got === expected)
    } finally q.stop()
  }

  test("stream_hll is register-identical to the batch sketch") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Tmp.dir("fs_hll").toString
    (1 to 300).map(i => (i.toLong * 1000000L,
        if (i % 2 == 0) "a" else "b", (i % 40).toLong))
      .toDF("us", "event_type", "user_id")
      .select(timestamp_micros(col("us")).as("ts"), col("event_type"),
        col("user_id"))
      .write.parquet(s"$dir/events.parquet")
    val stream = SparkEntry.queries("stream_hll")(spark, dir)
      .collect().map(_.toSeq)
    val batch = SparkEntry.queries("hll_distinct")(
      spark, dir).collect().map(_.toSeq)
    assert(stream.toSeq === batch.toSeq)
  }

  test("stream_bitmap: OR-merged words count exactly, straddling a word") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Tmp.dir("fs_bmap").toString
    // users straddle the 62-bit word boundary (61 | 62) and repeat
    val rows = Seq((0L, "a"), (61L, "a"), (62L, "a"), (61L, "a"),
      (124L, "a"), (5L, "b"))
    rows.zipWithIndex.map { case ((u, et), i) =>
      (i.toLong * 1000000L, u, et) }
      .toDF("us", "user_id", "event_type")
      .select(timestamp_micros(col("us")).as("ts"), col("user_id"),
        col("event_type"))
      .write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("stream_bitmap")(spark, dir)
      .collect().map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("distinct_bitmap"),
          r.getAs[Long]("distinct_exact")))).toMap
    assert(out("a") === ((3L, 4L, 4L))) // words 0, 1, 2; users {0,61,62,124}
    assert(out("b") === ((1L, 1L, 1L)))
  }

  test("stream_bloom: no false negatives, probe counts reconcile") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Tmp.dir("fs_bloom").toString
    // purchase users 10..19 are inside the 0..1999 probe grid
    val rows = (10L to 19L).map(u => (u, "purchase")) ++
      (5000L to 5004L).map(u => (u, "purchase")) ++ // outside the grid
      (1L to 5L).map(u => (u, "view"))
    rows.zipWithIndex.map { case ((u, et), i) =>
      (i.toLong * 1000000L, u, et) }
      .toDF("us", "user_id", "event_type")
      .select(timestamp_micros(col("us")).as("ts"), col("user_id"),
        col("event_type"))
      .write.parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("stream_bloom")(spark, dir)
      .collect()(0)
    assert(r.getAs[Long]("n_probes") === 2000L)
    assert(r.getAs[Long]("n_present") === 10L) // only in-grid members
    // every present key must pass (no false negatives — the Bloom law)
    assert(r.getAs[Long]("n_pass") >= 10L)
    assert(r.getAs[Long]("n_fp") ===
      r.getAs[Long]("n_pass") - 10L)
  }

  test("stream_cms counters equal the batch sketch's estimates") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Tmp.dir("fs_cms").toString
    (1 to 200).map(i => (i.toLong * 1000000L,
        Seq("a", "b", "c")(i % 3)))
      .toDF("us", "event_type")
      .select(timestamp_micros(col("us")).as("ts"), col("event_type"))
      .write.parquet(s"$dir/events.parquet")
    val stream = SparkEntry.queries("stream_cms")(spark, dir)
      .collect().map(_.toSeq)
    val batch = SparkEntry.queries("cms_heavy_hitters")(
      spark, dir).collect().map(_.toSeq)
    assert(stream.toSeq === batch.toSeq)
  }

  test("stream_quantile equals batch sketch_quantiles row for row") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Tmp.dir("fs_quant").toString
    val rnd = new scala.util.Random(3)
    (1 to 400).map { i =>
      (i.toLong * 1000000L, if (i % 2 == 0) "a" else "b",
        rnd.nextDouble() * 400.0)
    }.toDF("us", "event_type", "value")
      .select(timestamp_micros(col("us")).as("ts"), col("event_type"),
        col("value"))
      .write.parquet(s"$dir/events.parquet")
    val stream = SparkEntry.queries("stream_quantile")(
      spark, dir).collect().map(_.toSeq)
    val batch = SparkEntry.queries("sketch_quantiles")(
      spark, dir).collect().map(_.toSeq)
    assert(stream.toSeq === batch.toSeq)
  }

  test("SparkEntry stream verification path runs its stateful operators " +
      "on RocksDB") {
    // The r13 gap: FunnelStreamSpec pinned RocksDB for two hand-built
    // shapes, but the registered stream queries verified on the default
    // heap-backed store — the one component that cannot hold 100 TB/day
    // key spaces. StreamRunner pins the provider for every engine stream
    // run (GraftSession.withRocksDbState); this test watches the actual
    // verification path of each listed stateful entry — one per runner
    // mode that opens a store: dedup (complete), the state read (state)
    // and the paper's funnel (complete) — through a progress listener and
    // asserts every stateful micro-batch reported RocksDB's custom
    // metrics (the heap store reports none prefixed "rocksdb").
    import spark.implicits._
    val rocks = new java.util.concurrent.atomic.AtomicInteger(0)
    val nonRocks = new java.util.concurrent.atomic.AtomicInteger(0)
    val terminated = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener
            .QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener
            .QueryProgressEvent): Unit = {
        val ops = e.progress.stateOperators
        if (ops != null && ops.nonEmpty) {
          val isRocks = ops.exists(_.customMetrics.keySet().stream()
            .anyMatch(_.startsWith("rocksdb")))
          if (isRocks) rocks.incrementAndGet()
          else nonRocks.incrementAndGet()
        }
      }
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener
            .QueryTerminatedEvent): Unit = terminated.incrementAndGet()
    }
    spark.streams.addListener(listener)
    try {
      val dir = Tmp.dir("srocks").toString
      Seq((1L, 1L, "a", 1.5), (2L, 1L, "a", 2.0), (3L, 1L, "a", 0.5),
        (4L, 1L, "b", 3.0), (5L, 2L, "a", 1.0))
        .toDF("us", "user_id", "event_type", "value")
        .select(col("us").as("event_id"),
          timestamp_micros(col("us")).as("ts"), col("user_id"),
          col("event_type"), col("value"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      Seq("stream_dedup_counts", "stream_state_read", "stream_funnel_table")
        .foreach { name =>
          rocks.set(0); nonRocks.set(0)
          val before = terminated.get()
          val got = SparkEntry.queries(name)(spark, dir).collect()
          assert(got.nonEmpty, name)
          // listener events are async and in order: once this query's
          // termination arrived, all its progress events have too
          var waited = 0
          while (terminated.get() == before && waited < 50) {
            Thread.sleep(200); waited += 1
          }
          assert(rocks.get() > 0,
            s"$name: no RocksDB-backed stateful micro-batch observed on " +
              "the verification path")
          assert(nonRocks.get() === 0,
            s"$name: ${nonRocks.get()} stateful micro-batches ran on a " +
              "non-RocksDB store during the verification run")
        }
    } finally spark.streams.removeListener(listener)
  }

  test("stream_funnel_table restart-recovery: crash mid-stream, " +
      "resume from checkpoint, settle to batch parity") {
    import spark.implicits._
    val dir = Tmp.dir("fs_restart").toString
    val events = (0 until 400).map { i =>
      (i.toLong, i.toLong % 7,
        Seq("view", "purchase", "error")(i % 3), i.toLong * 3600000000L)
    }.toDF("event_id", "user_id", "event_type", "us")
      .select(col("event_id"), col("user_id"), col("event_type"),
        timestamp_micros(col("us")).as("ts"))
    // 4 data files → 4 micro-batches under maxFilesPerTrigger=1, and
    // batch 1 reads files(1)
    val files = graft.io.StaggeredBatches.write(s"$dir/events.parquet",
      (0 until 4).map(b => events.filter(col("event_id") % 4 === b)))
    // the crash rides in on the DataFrame: while armed, a row from
    // batch 1's file throws before that batch writes anything
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    val crashFile = files(1).getName
    val guard = udf { (file: String) =>
      if (armed.get && file.endsWith(crashFile))
        throw new RuntimeException("injected failure at batch 1")
      true
    }
    val agg = graft.queries.FunnelOverEvents.funnelAgg(
      graft.io.Tables.stream(spark, s"$dir/events.parquet",
        maxFilesPerTrigger = Some(1)).filter(guard(input_file_name())))
    val base = Tmp.dir("fs_restart_run").toString
    def run(): org.apache.spark.sql.DataFrame =
      graft.streaming.StreamRunner.run(spark, agg,
        graft.streaming.StreamRunner.Complete, "funnel", Some(base))

    // run 1: batch 0's offsets and aggregate state are committed to the
    // checkpoint; batch 1 dies, batches 2-3 never run
    val ex = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException](run())
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage)
        .exists(_.contains("injected failure at batch 1"))), ex)
    // run 2: SAME checkpoint + sink, disarmed — the engine must resume
    // from the committed offsets (restoring batch 0's state, not
    // re-reading its file: the first batch it runs is 1) and the
    // idempotent overwrite must settle to exactly the batch aggregate
    // of all 400 rows
    // only run 2's events count (keyed by the run id it starts with)
    @volatile var rerun: java.util.UUID = null
    val batchIds = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val ended = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener
            .QueryStartedEvent): Unit = rerun = e.runId
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener
            .QueryProgressEvent): Unit =
        if (e.progress.runId == rerun) batchIds.add(e.progress.batchId)
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener
            .QueryTerminatedEvent): Unit =
        if (e.runId == rerun) ended.countDown()
    }
    armed.set(false)
    spark.streams.addListener(listener)
    val settled =
      try {
        val out = run()
        assert(ended.await(10, java.util.concurrent.TimeUnit.SECONDS))
        out
      } finally spark.streams.removeListener(listener)
    import scala.jdk.CollectionConverters._
    assert(batchIds.asScala.toSeq.sorted === Seq(1L, 2L, 3L),
      "the rerun did not resume after batch 0's commit")
    val recovered = graft.engine.FunnelTable.rows(
        graft.engine.FunnelTable.wideFromJoined(settled))
      .orderBy("row_idx").collect().map(_.toSeq)
    val batch = graft.queries.FunnelOverEvents.query(spark, dir)
      .collect().map(_.toSeq)
    assert(recovered.toSeq === batch.toSeq)
  }

  test("streamStateWidth derives from source bytes: floor 1, " +
      "8 MiB/partition, capped at defaultParallelism, scoped conf") {
    // r17: stateful-stream shuffle width is data-derived (AQE cannot
    // size stateful shuffles), replacing the fixed core-count width
    // that oversharded small replays into fsync-bound RocksDB commits.
    // r18: the per-partition byte target dropped 64 MiB → 8 MiB — the
    // sf1 per-batch probe showed the regime past the fsync fix is
    // COMPUTE-bound (a 22 MB source ran a
    // 2M-row symmetric-hash join single-partition for 30 s while state
    // commit cost ~1 s), so the width must widen as soon as there is
    // real per-row work to spread.
    val par = spark.sparkContext.defaultParallelism
    assert(GraftSession.streamStateWidth(spark, 0L) === 1)
    assert(GraftSession.streamStateWidth(spark, 2L << 20) === 1)
    assert(GraftSession.streamStateWidth(spark, 8L << 20) === 1)
    assert(GraftSession.streamStateWidth(spark, (8L << 20) + 1) === 2)
    // monotone in bytes, and saturates at the cluster width — the
    // 100 TB posture: width is the cluster's, never the constant's
    assert(GraftSession.streamStateWidth(spark, 1L << 40) === par)
    val sizes = Seq(1L, 1L << 20, 1L << 26, 1L << 28, 1L << 34, 1L << 44)
      .map(GraftSession.streamStateWidth(spark, _))
    assert(sizes === sizes.sorted, s"width not monotone: $sizes")

    // the wrapper scopes spark.sql.shuffle.partitions to the derived
    // width and restores the session's value afterwards, even on throw
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    val events = spark.readStream
      .schema(spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet("/root/testdata/sf0.001")
    var inside = ""
    GraftSession.withStreamStateWidth(spark, events) {
      inside = spark.conf.get(key)
    }
    assert(inside === "1", s"sf0.001 events should derive width 1: $inside")
    assert(spark.conf.get(key) === prior, "width conf not restored")
    intercept[RuntimeException] {
      GraftSession.withStreamStateWidth(spark, events) {
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.get(key) === prior,
      "width conf not restored after a throw")

    // unknown source bytes (memory stream — no file source) keeps the
    // session's width untouched: never guess narrower than configured
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long](spark)
    GraftSession.withStreamStateWidth(spark, mem.toDF()) {
      assert(spark.conf.get(key) === prior)
    }
  }

  test("a single-file stream table beside a large sibling derives its " +
      "width from that file alone") {
    // Tables.stream reads a single-file table as its parent directory
    // plus a pathGlobFilter: the width must count the files the glob
    // admits, not every table in that directory
    import spark.implicits._
    val staged = Tmp.dir("sfile_stage").toString
    (0 until 100).map(i => (i.toLong, "view")).toDF("user_id", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(staged)
    val dir = Tmp.dir("sfile").toFile
    val table = new java.io.File(dir, "events.parquet")
    assert(new java.io.File(staged).listFiles
      .find(_.getName.endsWith(".parquet")).get.renameTo(table))
    val sibling = new java.io.RandomAccessFile(
      new java.io.File(dir, "sibling.bin"), "rw")
    try sibling.setLength(3 * GraftSession.StreamStatePartitionBytes)
    finally sibling.close()
    val stream = graft.io.Tables.stream(spark, table.toString)
    assert(org.apache.spark.sql.graftbridge.GraftBridge
      .streamSourceBytes(stream) === table.length)
    var inside = ""
    GraftSession.withStreamStateWidth(spark, stream) {
      inside = spark.conf.get("spark.sql.shuffle.partitions")
    }
    assert(inside === "1", s"a ${table.length}-byte table derived $inside")
  }
}
