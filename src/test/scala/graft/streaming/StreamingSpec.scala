package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.streaming.Streaming.{Event, SessionOut, TierHeavyEvents}

/** Streaming operators driven through MemoryStream + the memory sink:
  * incremental results must equal the batch expressions on the same data.
  */
class StreamingSpec extends SparkSpec with Matchers {

  test("streaming word count equals batch word count (update mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val q = Streaming
      .wordCount(input.toDF())
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName("wc_stream")
      .start()
    try {
      input.addData("the cat and the dog", "a cat")
      q.processAllAvailable()
      input.addData("the end")
      q.processAllAvailable()
      // update mode re-emits changed keys; latest state per key is the answer
      val got = spark.table("wc_stream")
        .groupBy("word").agg(max("cnt").as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      got shouldBe Map("the" -> 3L, "cat" -> 2L, "and" -> 1L,
        "dog" -> 1L, "a" -> 1L, "end" -> 1L)
    } finally q.stop()
  }

  test("streaming flagship q1 equals the batch q1_agg row-for-row") {
    // the update-mode drain + monotone per-group max collapse must land on
    // exactly the batch plan's rows — same exact-cents arithmetic, so the
    // comparison is bit-for-bit on every double
    val stream = Streaming.qStreamQ1(spark, sf()).collect().map(_.toString)
    val batch = graft.operators.Relational.q1Agg(spark, sf())
      .collect().map(_.toString)
    stream shouldBe batch
  }

  test("streaming bitmap distinct equals batch countDistinct per segment") {
    import org.apache.spark.sql.functions._
    val stream = Streaming.qStreamBitmap(spark, sf())
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.tables.Tables.events(spark, sf())
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    stream shouldBe batch
  }

  test("streaming KMV estimate converges to the batch q_kmv estimate " +
    "under shuffled micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = graft.tables.Tables.events(spark, sf())
      .select(col("event_type"), col("user_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val batch = graft.operators.Events.qKmv(spark, sf()).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getDouble(3)))).toMap

    val order = new scala.util.Random(11).shuffle(rows)
    val input = MemoryStream[(String, Long)]
    val q = Streaming
      .kmvDistinct(input.toDF().toDF("event_type", "user_id"),
        graft.operators.Events.KmvK)
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName("kmv_stream")
      .start()
    try {
      order.grouped(math.max(1, order.size / 5 + 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      // update mode: the LAST emission per key is the converged sketch;
      // batch number is the micro-batch sequence, so max(kmv_size) rows
      // are the latest (the sketch only grows)
      val got = spark.table("kmv_stream")
        .groupBy("event_type")
        .agg(max(struct(col("kmv_size"), col("est"))).as("s"))
        .select(col("event_type"), col("s.kmv_size"), col("s.est"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      got shouldBe batch
    } finally q.stop()
  }

  test("Misra-Gries heavy hitters: planted heavy user always tracked, " +
    "estimates within the deterministic bound, state bounded by k") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val k = 10
    // synthetic skew: user 999 is ~30% of arrivals (far above n/(k+1) ≈ 9%),
    // the rest spread over 200 ids; shuffled, delivered in 4 micro-batches
    val arrivals = new scala.util.Random(3).shuffle(
      (0 until 300).map(i => ("click", 999L)) ++
        (0 until 700).map(i => ("click", (i % 200).toLong)))
    val trueCounts = arrivals.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n = arrivals.size.toLong

    val input = MemoryStream[(String, Long)]
    val q = Streaming
      .heavyHitters(input.toDF().toDF("event_type", "user_id"), k)
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName("hh_stream")
      .start()
    try {
      arrivals.grouped(250).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      // final tracked set = the emission with the max n_seen
      val all = spark.table("hh_stream").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      val nFinal = all.map(_._3).max
      nFinal shouldBe n
      val tracked = all.collect { case (u, est, ns) if ns == nFinal => u -> est }.toMap
      tracked.size should be <= k
      // presence: every id over the n/(k+1) threshold is tracked
      trueCounts.foreach { case (u, c) =>
        if (c > n / (k + 1)) tracked.keySet should contain(u)
      }
      // bounds: est never exceeds truth; undercount at most n/(k+1)
      tracked.foreach { case (u, est) =>
        est should be <= trueCounts(u)
        trueCounts(u) - est should be <= n / (k + 1)
      }
      tracked(999L) should be >= 300L - n / (k + 1)
    } finally q.stop()
  }

  test("windowed counts with watermark finalize in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = Streaming
      .windowedCounts(events, watermark = "10 minutes", window_ = "1 hour")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("win_stream")
      .start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData(
        (t("2024-01-01 00:05:00"), "click", 1.0),
        (t("2024-01-01 00:40:00"), "click", 2.0))
      q.processAllAvailable()
      // advance the watermark far past hour 0 → hour-0 window finalizes
      input.addData((t("2024-01-01 03:00:00"), "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_stream")
        .select("window_start", "event_type", "n")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
      rows should contain(("2024-01-01 00:00:00.0", "click", 2L))
    } finally q.stop()
  }

  test("stream-stream join attributes purchases to in-window signups") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streaming
      .purchaseAttribution(input.toDF(), watermark = "10 minutes",
        attributionWindow = "1 hour")
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_stream").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData(
        Event(0, t("2024-01-01 09:50:00"), 1, "signup", 0.0), // earlier signup
        Event(1, t("2024-01-01 10:00:00"), 1, "signup", 0.0),
        Event(2, t("2024-01-01 10:30:00"), 1, "purchase", 9.0), // in window of both
        Event(3, t("2024-01-01 12:30:00"), 1, "purchase", 5.0), // beyond 1h
        Event(4, t("2024-01-01 10:20:00"), 2, "purchase", 3.0)) // no signup
      q.processAllAvailable()
      input.addData(Event(5, t("2024-01-01 23:00:00"), 3, "click", 0.0))
      q.processAllAvailable()
      input.addData(Event(6, t("2024-01-02 23:00:00"), 3, "click", 0.0))
      q.processAllAvailable()
      // PAIR semantics: one row per (purchase, in-window signup) — the
      // purchase with two prior signups yields two attribution rows
      val rows = spark.table("attr_stream")
        .select("event_id", "signup_ts").collect()
        .map(r => r.getLong(0) -> r.getTimestamp(1).toString)
        .sortBy(_._2)
      rows.toSeq shouldBe Seq(
        2L -> "2024-01-01 09:50:00.0",
        2L -> "2024-01-01 10:00:00.0")
    } finally q.stop()
  }

  test("foreachBatch latest-signup collapse upserts across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val store = new Streaming.AttributionStore
    val q = Streaming.attributionLatest(input.toDF(), store,
      watermark = "10 minutes", attributionWindow = "1 hour")
    try {
      def t(s: String) = Timestamp.valueOf(s)
      // batch 1: purchase matches the 10:00 signup → pair emits now
      input.addData(
        Event(0, t("2024-01-01 10:00:00"), 1, "signup", 0.0),
        Event(1, t("2024-01-01 10:30:00"), 1, "purchase", 9.0))
      q.processAllAvailable()
      // batch 2: LATER signup arrives late but inside the watermark —
      // its pair for purchase 1 emits in a different micro-batch, so a
      // per-batch-only collapse would leave two rows; the keyed upsert
      // must converge on the newer signup
      input.addData(
        Event(2, t("2024-01-01 10:25:00"), 1, "signup", 0.0))
      q.processAllAvailable()
      val got = store.snapshot
      got.keySet shouldBe Set(1L)
      got(1L)._3.toString shouldBe "2024-01-01 10:25:00.0"
      // and the store state equals the all-data batch collapse
      val batchPairs = Seq(
        (1L, 1L, t("2024-01-01 10:30:00"), t("2024-01-01 10:00:00"), 9.0),
        (1L, 1L, t("2024-01-01 10:30:00"), t("2024-01-01 10:25:00"), 9.0))
        .toDF("event_id", "user_id", "purchase_ts", "signup_ts", "value")
      val expected = Streaming.collapseLatestSignup(batchPairs).collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getTimestamp(2), r.getTimestamp(3), r.getDouble(4)))
        .toMap
      got shouldBe expected
    } finally q.stop()
  }

  test("distributed attribution store: batch ≡ stream with no driver-side " +
    "state, across micro-batch splits of a late signup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val store = new Streaming.DistributedAttributionStore(spark)
    val q = Streaming.attributionLatestDistributed(input.toDF(), store,
      watermark = "10 minutes", attributionWindow = "1 hour")
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData(
        Event(0, t("2024-01-01 10:00:00"), 1, "signup", 0.0),
        Event(1, t("2024-01-01 10:30:00"), 1, "purchase", 9.0),
        Event(2, t("2024-01-01 10:05:00"), 2, "signup", 0.0),
        Event(3, t("2024-01-01 10:06:00"), 2, "purchase", 4.0))
      q.processAllAvailable()
      // a frame handed out BEFORE later merges must stay valid after them
      val early = store.mapping
      // the later signup's pair for purchase 1 emits in a second
      // micro-batch; the distributed upsert must converge on it
      input.addData(Event(4, t("2024-01-01 10:25:00"), 1, "signup", 0.0))
      q.processAllAvailable()

      val got = store.snapshot
      got.keySet shouldBe Set(1L, 3L)
      got(1L)._3.toString shouldBe "2024-01-01 10:25:00.0"
      // distributed state ≡ the batch-layer collapse over all pairs
      val batchPairs = Seq(
        (1L, 1L, t("2024-01-01 10:30:00"), t("2024-01-01 10:00:00"), 9.0),
        (1L, 1L, t("2024-01-01 10:30:00"), t("2024-01-01 10:25:00"), 9.0),
        (3L, 2L, t("2024-01-01 10:06:00"), t("2024-01-01 10:05:00"), 4.0))
        .toDF("event_id", "user_id", "purchase_ts", "signup_ts", "value")
      val expected = Streaming.collapseLatestSignup(batchPairs).collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getTimestamp(2), r.getTimestamp(3), r.getDouble(4)))
        .toMap
      got shouldBe expected
      // ...and equals what the driver-memory test double would hold
      val double_ = new Streaming.AttributionStore
      double_.merge(Streaming.collapseLatestSignup(batchPairs))
      got shouldBe double_.snapshot
      // the pre-merge snapshot is self-contained: still readable, still
      // showing the state as of its own merge point
      early.count() shouldBe 2L
    } finally q.stop()
  }

  test("stream-static join enriches events with broadcast segments") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val segments = Seq((1L, "paid"), (2L, "free")).toDF("user_id", "segment")
    val input = MemoryStream[Event]
    val q = Streaming.enrichWithSegments(input.toDF(), segments)
      .writeStream.outputMode("append").format("memory")
      .queryName("enriched_stream").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData(
        Event(1, t("2024-01-01 10:00:00"), 1, "click", 0.0),
        Event(2, t("2024-01-01 10:01:00"), 2, "click", 0.0),
        Event(3, t("2024-01-01 10:02:00"), 9, "click", 0.0)) // no dimension row
      q.processAllAvailable()
      val rows = spark.table("enriched_stream")
        .select("event_id", "segment").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      rows shouldBe Map(1L -> "paid", 2L -> "free", 3L -> "unknown")
    } finally q.stop()
  }

  test("streaming sessionizer closes sessions on gap and on timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streaming
      .sessionize(input.toDS(), gapMinutes = 30, watermark = "1 minute")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("sess_stream")
      .start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      // user 1: two events 10 min apart (one session), then a 2h gap
      input.addData(
        Event(1, t("2024-01-01 00:00:00"), 1, "click", 1.0),
        Event(2, t("2024-01-01 00:10:00"), 1, "click", 2.0))
      q.processAllAvailable()
      input.addData(Event(3, t("2024-01-01 02:00:00"), 1, "view", 5.0))
      q.processAllAvailable()
      // push the watermark forward so the open session times out
      input.addData(Event(4, t("2024-01-01 06:00:00"), 2, "click", 1.0))
      q.processAllAvailable()
      input.addData(Event(5, t("2024-01-01 09:00:00"), 2, "click", 1.0))
      q.processAllAvailable()

      val sessions = spark.table("sess_stream").as[SessionOut]
        .collect().sortBy(s => (s.user_id, s.session_start.getTime))
      val u1 = sessions.filter(_.user_id == 1)
      u1.length shouldBe 2
      u1(0).n_events shouldBe 2
      u1(0).session_value shouldBe 3.0
      u1(0).session_end.toString shouldBe "2024-01-01 00:10:00.0"
      u1(1).n_events shouldBe 1
      u1(1).session_value shouldBe 5.0
    } finally q.stop()
  }

  test("late event far before the open session starts its own session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streaming
      .sessionize(input.toDS(), gapMinutes = 30, watermark = "3 hours")
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_late").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData(Event(1, t("2024-01-01 10:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // 9:00 is inside the 3h watermark but >30min before the open
      // session — must NOT merge into [10:00,10:00]
      input.addData(Event(2, t("2024-01-01 09:00:00"), 1, "view", 2.0))
      q.processAllAvailable()
      // flush everything
      input.addData(Event(3, t("2024-01-01 23:00:00"), 2, "click", 0.0))
      q.processAllAvailable()
      input.addData(Event(4, t("2024-01-02 23:00:00"), 2, "click", 0.0))
      q.processAllAvailable()
      val u1 = spark.table("sess_late").as[SessionOut]
        .collect().filter(_.user_id == 1).sortBy(_.session_start.getTime)
      u1.map(_.n_events).toSeq shouldBe Seq(1, 1)
      u1(0).session_start.toString shouldBe "2024-01-01 09:00:00.0"
      u1(1).session_start.toString shouldBe "2024-01-01 10:00:00.0"
    } finally q.stop()
  }

  test("late event bridging two open sessions merges them") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streaming
      .sessionize(input.toDS(), gapMinutes = 30, watermark = "6 hours")
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_bridge").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      // two sessions 50 min apart: [10:00] and [10:50]
      input.addData(
        Event(1, t("2024-01-01 10:00:00"), 1, "a", 1.0),
        Event(2, t("2024-01-01 10:50:00"), 1, "b", 2.0))
      q.processAllAvailable()
      // 10:25 is within 30min of both → all three become ONE session
      input.addData(Event(3, t("2024-01-01 10:25:00"), 1, "c", 4.0))
      q.processAllAvailable()
      input.addData(Event(4, t("2024-01-02 23:00:00"), 2, "z", 0.0))
      q.processAllAvailable()
      input.addData(Event(5, t("2024-01-03 23:00:00"), 2, "z", 0.0))
      q.processAllAvailable()
      val u1 = spark.table("sess_bridge").as[SessionOut]
        .collect().filter(_.user_id == 1)
      u1.length shouldBe 1
      u1(0).n_events shouldBe 3
      u1(0).session_value shouldBe 7.0
      u1(0).session_start.toString shouldBe "2024-01-01 10:00:00.0"
      u1(0).session_end.toString shouldBe "2024-01-01 10:50:00.0"
    } finally q.stop()
  }

  test("streaming dedup keeps first arrival per fingerprint within watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val q = Streaming
      .dedupByFingerprint(input.toDF().toDF("ts", "text"), watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_stream").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData(
        (t("2024-01-01 00:00:00"), "doc A"),
        (t("2024-01-01 00:01:00"), "doc B"),
        (t("2024-01-01 00:02:00"), "doc A")) // dup within watermark
      q.processAllAvailable()
      input.addData((t("2024-01-01 00:05:00"), "doc A")) // still within
      q.processAllAvailable()
      val texts = spark.table("dedup_stream")
        .select("text").collect().map(_.getString(0)).sorted.toSeq
      texts shouldBe Seq("doc A", "doc B")
    } finally q.stop()
  }

  test("shuffled out-of-order delivery reproduces batch sessions exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // ground truth: the batch sessionizer on the full table
    val batch = graft.operators.Events.qEventsSessionize(spark, sf())
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("session_value"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), math.round(r.getDouble(4) * 100)))
      .toSet

    val events = graft.tables.Tables.events(spark, sf())
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect()
    // deterministic shuffle, split into 4 arbitrary-order batches: with a
    // huge watermark nothing is late, so ANY delivery order must converge
    // to the batch answer
    val rnd = new scala.util.Random(42)
    val shuffled = rnd.shuffle(events.toVector)
    val input = MemoryStream[Event]
    val q = Streaming
      .sessionize(input.toDS(), gapMinutes = 30, watermark = "365 days")
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_shuffled").start()
    try {
      shuffled.grouped(shuffled.size / 4 + 1).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
      // flush: push the watermark past everything
      input.addData(Event(-1, Timestamp.valueOf("2030-01-01 00:00:00"), -1, "x", 0.0))
      q.processAllAvailable()
      input.addData(Event(-2, Timestamp.valueOf("2032-01-01 00:00:00"), -1, "x", 0.0))
      q.processAllAvailable()
      val got = spark.table("sess_shuffled").as[SessionOut]
        .collect().filter(_.user_id >= 0)
        .map(s => (s.user_id, s.session_start, s.session_end,
          s.n_events, math.round(s.session_value * 100)))
        .toSet
      got shouldBe batch
    } finally q.stop()
  }

  test("streaming sessionizer agrees with batch sessionization on real data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = graft.operators.Events.qEventsSessionize(spark, sf())
      .select(sum("n_events").as("n"), count(lit(1)).as("sessions"))
      .head()

    val events = graft.tables.Tables.events(spark, sf())
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => e.ts.getTime)
    val input = MemoryStream[Event]
    val q = Streaming
      .sessionize(input.toDS(), gapMinutes = 30, watermark = "0 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_full").start()
    try {
      // feed in two event-time-ordered halves, then a far-future flush tick
      val (h1, h2) = events.splitAt(events.length / 2)
      input.addData(h1.toIndexedSeq); q.processAllAvailable()
      input.addData(h2.toIndexedSeq); q.processAllAvailable()
      input.addData(Event(-1, Timestamp.valueOf("2030-01-01 00:00:00"), -1, "x", 0.0))
      q.processAllAvailable()
      val got = spark.table("sess_full").filter(col("user_id") >= 0)
        .agg(sum("n_events"), count(lit(1))).head()
      got.getLong(0) shouldBe batch.getLong(0)
      got.getLong(1) shouldBe batch.getLong(1)
    } finally q.stop()
  }
  test("streaming EWMA equals batch q_ewma across arbitrary ordered " +
    "micro-batch splits, and rejects out-of-order arrivals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // ordered per-type hourly feed = the batch rollup sorted by hour
    val hourly = graft.operators.Events.qEventsHourly(spark, sf())
      .select(col("hour"), col("event_type"), col("n"))
      .collect()
      .map(r => (r.getString(1), r.getTimestamp(0), r.getLong(2)))
      .sortBy(t => (t._2.getTime, t._1))
    val batch = graft.operators.Events.qEwma(spark, sf()).collect()
      .map(r => (r.getString(0), r.getTimestamp(1)) ->
        r.getAs[Double]("ewma")).toMap

    val input = MemoryStream[(String, Timestamp, Long)]
    val q = Streaming
      .ewma(input.toDF().toDF("event_type", "hour", "n"))
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName("ewma_stream")
      .start()
    try {
      // three uneven splits of the ordered feed
      val (a, rest) = hourly.splitAt(hourly.length / 5)
      val (b, c) = rest.splitAt(rest.length / 2)
      Seq(a, b, c).foreach { chunk =>
        if (chunk.nonEmpty) { input.addData(chunk.toSeq); q.processAllAvailable() }
      }
      val got = spark.table("ewma_stream")
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1)) ->
          r.getAs[Double]("ewma")).toMap
      got shouldBe batch
    } finally q.stop()
    // out-of-order regression fails loudly instead of corrupting state
    val bad = MemoryStream[(String, Timestamp, Long)]
    val qb = Streaming
      .ewma(bad.toDF().toDF("event_type", "hour", "n"))
      .writeStream.outputMode("update").format("memory")
      .queryName("ewma_bad").start()
    try {
      val t0 = new Timestamp(1700000000000L)
      val t1 = new Timestamp(1700003600000L)
      bad.addData(Seq(("x", t1, 5L)))
      qb.processAllAvailable()
      bad.addData(Seq(("x", t0, 3L)))
      an[Exception] should be thrownBy qb.processAllAvailable()
    } finally qb.stop()
  }

  test("streaming KS drift bins reproduce the batch statistic over " +
    "shuffled multi-batch arrival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.tables.Tables.events(spark, sf())
      .select(col("ts"), col("value")).collect()
      .map(r => (r.getTimestamp(0), r.getDouble(1)))
    // deterministic pseudo-shuffle: Knuth multiplicative hash of position
    val shuffled = ev.zipWithIndex
      .sortBy { case (_, i) => (i * 2654435761L) & 0x7fffffffL }
      .map(_._1)
    val input = MemoryStream[(Timestamp, Double)]
    val q = Streaming
      .ksDriftBins(input.toDF().toDF("ts", "value"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("ks_bins_t")
      .start()
    try {
      shuffled.grouped(shuffled.length / 3 + 1).foreach { batch =>
        input.addData(batch.toSeq)
        q.processAllAvailable()
      }
      val got = graft.operators.Events
        .ksFromBins(spark.table("ks_bins_t")).head()
      val want = graft.operators.Events.qKsDrift(spark, sf()).head()
      got.getAs[Long]("n_early") shouldBe want.getAs[Long]("n_early")
      got.getAs[Long]("n_late") shouldBe want.getAs[Long]("n_late")
      got.getAs[Long]("d_scaled") shouldBe want.getAs[Long]("d_scaled")
      got.getAs[Long]("ks_bin") shouldBe want.getAs[Long]("ks_bin")
      got.getAs[Double]("d") shouldBe want.getAs[Double]("d")
    } finally q.stop()
  }

  test("q_stream_kmv: the registered file-source drain equals the batch " +
    "q_kmv sketch columns") {
    val got = Streaming.qStreamKmv(spark, sf()).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val want = graft.operators.Events.qKmv(spark, sf()).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    got shouldBe want
    // a second invocation in the same session must work (fresh sink name)
    Streaming.qStreamKmv(spark, sf()).count() shouldBe want.size.toLong
  }

  test("sessionizer state survives stop + restart from checkpoint: the " +
    "resumed query emits run 1's still-open sessions (durable file sink)") {
    import java.nio.file.Files
    val stage = Files.createTempDirectory("graft_ckpt_stage")
    val ckpt = Files.createTempDirectory("graft_ckpt_loc")
    val out = Files.createTempDirectory("graft_ckpt_out")
    def movePart(tmp: java.nio.file.Path, to: String): Unit = {
      val st = Files.list(tmp)
      val part =
        try st.filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        finally st.close()
      Files.move(part, stage.resolve(to))
      ()
    }
    // split by TIME (the watermark advances monotonically across the
    // restart, so a user-based split would drop the second half as late):
    // the cut bisects a known within-gap event pair, so at least one
    // session is OPEN in checkpointed state at the stop and must be
    // EXTENDED by run 2 — if recovery dropped or double-counted state,
    // that session's row would diverge from the batch derivation
    val ev = graft.tables.Tables.events(spark, sf())
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"),
        round(col("value") * 100, 0).as("value"))
    val gapUs = graft.operators.Events.SessionGapMinutes * 60L * 1000000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"))
    val cutUs = ev
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .filter(col("prev_us").isNotNull &&
        col("ts_us") - col("prev_us") < gapUs &&
        col("ts_us") > col("prev_us") + 1)
      .select(((col("prev_us") + col("ts_us")) / 2).cast("long").as("cut"))
      .orderBy(col("cut")).head().getLong(0)
    def writeFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft_ckpt_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      movePart(tmp, s"$name.parquet")
    }
    writeFile(ev.filter(col("ts_us") < cutUs), "a")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts_us",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    def startQuery() = {
      import spark.implicits._
      Streaming.sessionize(
        spark.readStream.schema(schema).parquet(stage.toString)
          .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
            col("user_id"), col("event_type"), col("value"))
          .as[Event],
        gapMinutes = graft.operators.Events.SessionGapMinutes,
        watermark = "0 seconds")
        .writeStream.outputMode("append").format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .start()
    }
    // run 1: even users only, then a hard stop mid-stream
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // while DOWN: the rest of the timeline + the far-future flush sentinel
    writeFile(ev.filter(col("ts_us") >= cutUs), "b")
    import spark.implicits._
    writeFile(Seq((-1L, 4102444800L * 1000000L, -1L, "x", 0.0))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value"), "z")
    // run 2: recover from checkpoint, drain, flush everything
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out.toString).filter(col("user_id") >= 0)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("session_start"),
        r.getAs[Timestamp]("session_end"), r.getAs[Long]("n_events"),
        r.getAs[Double]("session_value") / 100.0)).toSet
    val want = graft.operators.Events.qEventsSessionize(spark, sf())
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("session_value"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    want should not be empty
    got shouldBe want
    // the recovery proof: at least one emitted session STRADDLES the cut
    // — it was open in checkpointed state at the stop and finished after
    // the restart
    def us(t: Timestamp) = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    got.exists(r => us(r._2) < cutUs && us(r._3) > cutUs) shouldBe true
  }

  test("q_stream_wc: the reference workload drained as a stream equals " +
    "the batch word count") {
    val got = Streaming.qStreamWc(spark, sf()).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = graft.mr.WordCount
      .viaSql(graft.tables.Tables.documents(spark, sf()), "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    want should not be empty
    got shouldBe want
  }

  test("q_stream_sessions: the registered append-mode drain reproduces " +
    "every batch session row, values exact") {
    val got = Streaming.qStreamSessions(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    val want = graft.operators.Events.qEventsSessionize(spark, sf())
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("session_value"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    want should not be empty
    got shouldBe want
  }

  test("q_stream_join: the drained stream-static enrichment equals the " +
    "batch left-join rollup, all three segments populated") {
    val got = Streaming.qStreamJoin(spark, sf()).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val ev = graft.tables.Tables.events(spark, sf())
    val want = ev
      .join(Streaming.userSegments(spark, sf()), Seq("user_id"), "left_outer")
      .select(coalesce(col("segment"), lit("unknown")).as("segment"),
        col("event_type"),
        graft.operators.Relational.cents(col("value")).as("c"))
      .groupBy(col("segment"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("vc"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    want should not be empty
    got shouldBe want
    // both tiers split near the median spend; 'unknown' only appears at
    // SFs where some user never purchased (not this one)
    Set("hi", "lo").subsetOf(got.keySet.map(_._1)) shouldBe true
    got.keySet.map(_._1).subsetOf(Set("hi", "lo", "unknown")) shouldBe true
    // the rollup partitions the event stream
    got.values.map(_._1).sum shouldBe ev.count()
  }

  test("q_stream_stream_join: the drained watermarked interval join " +
    "equals the batch pair rollup") {
    val got = Streaming.qStreamStreamJoin(spark, sf()).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    val ev = graft.tables.Tables.events(spark, sf())
    val touches = ev.filter(col("event_type")
        .isInCollection(graft.operators.Events.AttrTouchTypes))
      .select(col("user_id"), col("event_id").as("touch_id"),
        col("event_type").as("channel"), col("ts").as("ts_t"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("ts_p"),
        graft.operators.Relational.cents(col("value")).as("cents"))
    val days = graft.operators.Events.AttrWindowDays
    val want = purchases.join(touches, Seq("user_id"))
      .filter(col("ts_t") <= col("ts_p") &&
        col("ts_t") > col("ts_p") - expr(s"INTERVAL $days DAYS"))
      .groupBy(col("channel"))
      .agg(count(lit(1)), countDistinct(col("purchase_id")),
        countDistinct(col("touch_id")), sum(col("cents")))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    want should not be empty
    got shouldBe want
  }

  test("q_stream_outer_join: sentinel-flushed outer state matches the " +
    "batch LEFT JOIN — unmatched touches emit exactly once") {
    val rows = Streaming.qStreamOuterJoin(spark, sf()).collect()
    val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toMap
    val ev = graft.tables.Tables.events(spark, sf())
    val touches = ev.filter(col("event_type")
        .isInCollection(graft.operators.Events.AttrTouchTypes))
      .select(col("user_id"), col("event_id").as("touch_id"),
        col("event_type").as("channel"), col("ts").as("ts_t"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("ts_p"),
        graft.operators.Relational.cents(col("value")).as("cents"))
    val days = graft.operators.Events.AttrWindowDays
    val want = touches.join(purchases,
        col("user_id") === col("p_user") &&
          col("ts_t") <= col("ts_p") &&
          col("ts_t") > col("ts_p") - expr(s"INTERVAL $days DAYS"),
        "left_outer")
      .groupBy(col("channel"))
      .agg(count(lit(1)), count(col("purchase_id")),
        sum(when(col("purchase_id").isNull, 1L).otherwise(0L)),
        coalesce(sum(col("cents")), lit(0L)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    want should not be empty
    got shouldBe want
    got.foreach { case (_, (nRows, nMatched, nUnmatched, _)) =>
      nRows shouldBe nMatched + nUnmatched
    }
    // the outer semantics are non-vacuous on this corpus
    got.values.map(_._3).sum should be > 0L
  }

  test("q_stream_dedup: the drained incremental fingerprint states " +
    "reproduce the batch exact-dedup histogram over the planted union") {
    val got = Streaming.qStreamDedup(spark, sf()).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val docs = graft.tables.Tables.documents(spark, sf())
      .select(col("doc_id"), col("text"))
    val union = docs.unionAll(docs.select(
      (col("doc_id") + graft.operators.Dedup.PlantOffset).as("doc_id"),
      col("text")))
    val want = union
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("cnt"))
      .groupBy(col("cnt"))
      .agg(count(lit(1)), sum(col("keeper")))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    want should not be empty
    got shouldBe want
    // the re-crawl plant guarantees every fingerprint arrives >= twice,
    // so a dup_count-1 bucket would mean the stream dropped an arrival
    got.keySet.min should be >= 2L
  }

  test("q_stream_tws_sessions: the timer-driven transformWithState " +
    "sessionizer emits exactly the flatMapGroupsWithState sessions") {
    val got = Streaming.qStreamTwsSessions(spark, sf()).collect()
      .map(_.toString).sorted
    // equality here proves the TIMER path ran for every user: in the
    // sentinel micro-batch only user -1 receives input rows, so every
    // real user's sessions can only emit from handleExpiredTimer
    val want = Streaming.qStreamSessions(spark, sf()).collect()
      .map(_.toString).sorted
    want should not be empty
    got shouldBe want
  }

  test("q_stream_tws_map: drained per-channel map states reproduce the " +
    "batch channel-mix census with both tiers populated") {
    val rows = Streaming.qStreamTwsMap(spark, sf()).collect()
    val got = rows.map(r => (r.getString(0), r.getString(1)) ->
      ((r.getLong(2), r.getLong(3)))).toMap
    val uc = graft.tables.Tables.events(spark, sf())
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("n_total", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))))
      .withColumn("tier",
        when(col("n_total") >= TierHeavyEvents, "heavy").otherwise("light"))
    val want = uc.groupBy(col("tier"), col("event_type"))
      .agg(count(lit(1)), sum(col("cnt")))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    want should not be empty
    got shouldBe want
    // the tier split is non-vacuous on this corpus
    rows.map(_.getString(0)).distinct.sorted shouldBe Seq("heavy", "light")
  }

  test("q_stream_tws_seeded: the warm-started (snapshot + delta) drain " +
    "equals the cold full-stream drain, and seed-only users exist") {
    val warm = Streaming.qStreamTwsSeeded(spark, sf()).collect()
      .map(_.toString).sorted
    val cold = Streaming.qStreamTws(spark, sf()).collect()
      .map(_.toString).sorted
    cold should not be empty
    warm shouldBe cold
    // the anti-join path is non-vacuous: fully-migrated users
    // (user_id % 5 == 0) never appear in the delta stream, so their
    // state exists only via handleInitialState
    graft.tables.Tables.events(spark, sf())
      .filter(col("event_type") === "purchase" &&
        col("user_id") % 5 === 0)
      .count() should be > 0L
  }

  test("q_stream_attribution: the drained foreachBatch store rollup " +
    "equals the batch latest-signup pairing") {
    val got = Streaming.qStreamAttribution(spark, sf()).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val ev = graft.tables.Tables.events(spark, sf())
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("pts"),
        col("value"))
    val sg = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("sts"))
    val days = graft.operators.Events.AttrWindowDays
    val want = p.join(sg, col("user_id") === col("s_user") &&
        col("sts") <= col("pts") &&
        col("pts") <= col("sts") + expr(s"INTERVAL $days DAYS"))
      .groupBy(col("event_id"), col("pts"), col("value"))
      .agg(max(col("sts")).as("sts"))
      .select(expr("(unix_micros(pts) - unix_micros(sts)) div 3600000000")
        .as("lag_hours"),
        graft.operators.Relational.cents(col("value")).as("cents"))
      .groupBy(col("lag_hours"))
      .agg(count(lit(1)), sum(col("cents")))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    want should not be empty
    got shouldBe want
  }

  test("q_stream_tws: transformWithState value states drained under " +
    "RocksDB reproduce the batch purchases-per-user histogram, and the " +
    "provider conf is restored") {
    val before = spark.conf
      .getOption("spark.sql.streaming.stateStore.providerClass")
    val got = Streaming.qStreamTws(spark, sf()).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass") shouldBe before
    val want = graft.tables.Tables.events(spark, sf())
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        graft.operators.Relational.cents(col("value")).as("cents"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      .groupBy(col("n")).agg(count(lit(1)), sum(col("c")))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    want should not be empty
    got shouldBe want
  }

  test("Tables.eventsStream drains to exactly Tables.events, ts included, " +
    "and a pruned read declares only its columns") {
    import org.apache.spark.sql.types.{LongType, StringType}
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val path = s"${sf()}/events.parque*"
    val q = graft.tables.Tables.eventsStream(spark, path, cols: _*)
      .writeStream.format("memory").queryName("events_stream_t").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("events_stream_t")
    val want = graft.tables.Tables.events(spark, sf()).select(cols.map(col): _*)
    got.schema.map(f => f.name -> f.dataType) shouldBe
      want.schema.map(f => f.name -> f.dataType)
    val wantRows = want.collect().sortBy(_.getLong(0)).toSeq
    wantRows should not be empty
    got.collect().sortBy(_.getLong(0)).toSeq shouldBe wantRows
    graft.tables.Tables.eventsStream(spark, path, "event_type", "user_id")
      .schema.map(f => f.name -> f.dataType) shouldBe
      Seq("event_type" -> StringType, "user_id" -> LongType)
  }

  test("the staged drains leave nothing new in the JVM temp dir outside " +
    "their fixture families, however often they run") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def entries(): Set[String] = tmp.list().toSet
    // the session's own dirs and the native libraries the drains load
    // (snappy for parquet, lz4 for the shuffle, RocksDB for state) land
    // in the temp dir once per JVM: start them all before the snapshot
    graft.tables.Tables.events(spark, sf())
      .groupBy(col("user_id")).count().collect()
    org.rocksdb.RocksDB.loadLibrary()
    val before = entries()
    for (_ <- 1 to 2) Seq(Streaming.qStreamSessions _,
      Streaming.qStreamTwsSessions _, Streaming.qStreamOuterJoin _,
      Streaming.qStreamDedup _, Streaming.qStreamDedupWm _)
      .foreach(q => q(spark, sf()).collect())
    val families = Set("graft_stream_events", "graft_stream_recrawl")
    entries() -- before -- families shouldBe empty
  }
}
