package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.tables.Tables

/** Structured Streaming surface — the unbounded mirror of the batch
  * operators. The reference has no streaming at all (SURVEY §2.2: the
  * master blocks on one batch job at a time), so this is north-star
  * surface, designed Spark-first:
  *
  *   - transformations are the SAME declarative expressions as batch
  *     (word count, windowed aggregation) applied to a streaming Dataset —
  *     Catalyst plans them incrementally;
  *   - sessionization needs custom state, so it uses
  *     `flatMapGroupsWithState` with event-time timeout — the streaming
  *     twin of [[graft.operators.Events.qEventsSessionize]], emitting a
  *     session exactly when the watermark passes its gap.
  *
  * Scale notes: state is O(open sessions) per user key, partitioned by
  * user_id across executors; watermarks bound it. Sinks are the caller's
  * choice (tests use the memory sink).
  *
  * **The registered `q_stream_*` queries drain one way.** Each reads a
  * file-source stream, events through [[graft.tables.Tables.eventsStream]]
  * (which owns the events format), and runs it to completion through
  * [[drain]]: a fresh memory sink, [[withDrainPartitions]], wait with
  * `processAllAvailable`, then `stop` in a `finally`; the query's batch
  * rollup then reads the sink table. The `transformWithState` rows wrap
  * the drain in [[withRocksDbState]]; `q_stream_attribution` drains into
  * its foreachBatch store instead. A drain that needs a staged landing
  * directory reads a [[graft.operators.SessionMemo.fixture]] built once
  * per corpus ([[sentinelEvents]], [[recrawlDocs]]), so repeated calls
  * write nothing new.
  */
object Streaming {

  /** Streaming word count over a stream of text lines — literally the batch
    * expression tree ([[graft.mr.WordCount.viaSql]] works on a streaming
    * DataFrame unchanged; one tokenizer definition, one oracle), in update
    * mode. */
  def wordCount(lines: DataFrame, textCol: String = "value"): DataFrame =
    graft.mr.WordCount.viaSql(lines, textCol)

  /** Tumbling event-time windows with a watermark — the streaming mirror
    * of the hourly batch rollup; append-mode capable (windows finalize
    * when the watermark passes).
    */
  def windowedCounts(
      events: DataFrame,
      watermark: String = "1 hour",
      window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming KMV sketch state: the ≤ k smallest distinct hashes,
    * ascending.
    */
  final case class KmvInput(event_type: String, hv: Long)
  /** Per-key estimate emitted each micro-batch (update semantics). */
  final case class KmvEstimate(event_type: String, kmv_size: Long, est: Double)

  /** Streaming approximate distinct count — the KMV sketch
    * ([[graft.operators.Events.qKmv]]'s estimator) as keyed streaming
    * state. The sketch buffer (k smallest DISTINCT hashes) is a
    * commutative-idempotent set fold, so the state after any arrival order
    * and micro-batch split equals the batch sketch over the same rows —
    * the streaming estimate converges to the batch q_kmv estimate exactly
    * (StreamingSpec pins it). State per key is ≤ k longs, which is the
    * entire point of running a sketch instead of exact distinct on an
    * unbounded stream (exact needs every seen id in state, forever).
    */
  def kmvDistinct(events: DataFrame, k: Int): Dataset[KmvEstimate] = {
    val spark = events.sparkSession
    import spark.implicits._
    val pow60 = 1152921504606846976L // 2^60, the hash range
    events
      .select(col("event_type"),
        graft.functions.SketchExpressions
          .md5Prefix60Long(col("user_id").cast("string")).as("hv"))
      .as[KmvInput]
      .groupByKey(_.event_type)
      .mapGroupsWithState[List[Long], KmvEstimate](GroupStateTimeout.NoTimeout()) {
        (et: String, rows: Iterator[KmvInput], state: GroupState[List[Long]]) =>
          var s = state.getOption.getOrElse(Nil) // ascending, ≤ k, distinct
          rows.foreach { r =>
            if (!s.contains(r.hv)) {
              val (lo, hi) = s.span(_ < r.hv)
              s = (lo ::: r.hv :: hi).take(k)
            }
          }
          state.update(s)
          // same estimator, same rounding as the batch q_kmv SQL
          val est =
            if (s.size < k) s.size.toDouble
            else BigDecimal((k - 1).toDouble * pow60 / s.last.toDouble)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          KmvEstimate(et, s.size.toLong, est)
      }
  }

  /** Misra-Gries heavy-hitter state: tracked (id, counter) pairs + total
    * arrivals seen.
    */
  final case class MgState(counters: List[(Long, Long)], n_seen: Long)
  /** One tracked heavy-hitter candidate, emitted per micro-batch. */
  final case class HeavyHitter(event_type: String, user_id: Long,
      est: Long, n_seen: Long)

  /** Streaming heavy hitters per key — the Misra-Gries summary (Misra &
    * Gries 1982, "Finding repeated elements") as keyed streaming state:
    * ≤ k counters per group, every arrival either increments its counter,
    * claims a free slot, or decrements ALL counters (discarding zeros).
    * Guarantees after n arrivals: every id with true count > n/(k+1) is
    * tracked, and a tracked id's estimate sits in
    * [true − n/(k+1), true] — deterministic bounds, any arrival order.
    * This is the bounded-state replacement for exact per-id counting when
    * the id domain is unbounded (exact top-k needs every id's count; the
    * batch q_events_topk_users can afford it, an infinite stream cannot).
    * Emits the tracked set each micro-batch (update semantics).
    */
  def heavyHitters(events: DataFrame, k: Int): Dataset[HeavyHitter] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_type"), col("user_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[MgState, HeavyHitter](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (et: String, rows: Iterator[(String, Long)], state: GroupState[MgState]) =>
          val prev = state.getOption.getOrElse(MgState(Nil, 0L))
          var counters = scala.collection.mutable.Map(prev.counters: _*)
          var n = prev.n_seen
          rows.foreach { case (_, uid) =>
            n += 1
            counters.get(uid) match {
              case Some(c) => counters(uid) = c + 1
              case None if counters.size < k => counters(uid) = 1L
              case None =>
                counters = counters.collect {
                  case (u, c) if c > 1 => (u, c - 1)
                }
            }
          }
          state.update(MgState(counters.toList.sortBy(_._1), n))
          counters.toList.sortBy(_._1)
            .map { case (u, c) => HeavyHitter(et, u, c, n) }.iterator
      }
  }

  final case class EwmaIn(event_type: String, hour: Timestamp, n: Long)
  final case class EwmaOut(
      event_type: String, hour: Timestamp, n: Long, ewma: Double)
  /** EWMA carry-state: last processed hour (ms) + the running average. */
  final case class EwmaState(last_ms: Long, s: Double)

  /** Streaming EWMA — the order-SENSITIVE recurrence of
    * [[graft.operators.Events.qEwma]] as keyed streaming state: s ←
    * α·x + (1−α)·s with s₁ = x₁, carried as two numbers per key (the
    * bounded-state point: the batch fold needs the whole series in one
    * array; the stream needs 16 bytes per key, forever). Unlike the
    * KMV/Misra-Gries states this fold does NOT commute, so the
    * equivalence contract is explicitly ORDERED arrival: observations
    * per key must arrive hour-ascending across micro-batches (the
    * monitoring-pipeline case — each hour's rollup emits once the hour
    * closes); within a micro-batch rows are sorted before folding, and
    * a regression (hour ≤ last processed) fails loudly rather than
    * silently corrupting the average. StreamingSpec pins stream ≡ batch
    * q_ewma across arbitrary micro-batch splits of the ordered feed.
    */
  def ewma(hourly: DataFrame): Dataset[EwmaOut] = {
    val spark = hourly.sparkSession
    import spark.implicits._
    hourly
      .select(col("event_type"), col("hour"), col("n"))
      .as[EwmaIn]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (et: String, rows: Iterator[EwmaIn], state: GroupState[EwmaState]) =>
          var st = state.getOption.getOrElse(EwmaState(Long.MinValue, 0.0))
          val out = rows.toSeq.sortBy(_.hour.getTime).map { r =>
            require(r.hour.getTime > st.last_ms,
              s"out-of-order EWMA arrival for $et at ${r.hour}")
            val x = r.n.toDouble
            val s1 =
              if (st.last_ms == Long.MinValue) x
              else 0.3e0 * x + 0.7e0 * st.s
            st = EwmaState(r.hour.getTime, s1)
            EwmaOut(et, r.hour, r.n,
              BigDecimal(s1).setScale(6, BigDecimal.RoundingMode.HALF_UP)
                .toDouble)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming exact dedup — the unbounded twin of
    * [[graft.operators.Dedup.qDedupExact]]'s fingerprint key: keeps the
    * first arrival per fingerprint, with state bounded by the watermark
    * (duplicates arriving later than `watermark` after their original may
    * pass through — the standard at-scale trade; unbounded state is not an
    * option on an infinite stream).
    */
  def dedupByFingerprint(
      docs: DataFrame,
      textCol: String = "text",
      tsCol: String = "ts",
      watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Watermarked stream-stream join: purchase→signup attribution PAIRS —
    * one row per (purchase, in-window signup); a user with several signups
    * inside `attributionWindow` yields several rows for that purchase.
    * Collapsing to the latest signup is a downstream concern (a trivial
    * max-by in `foreachBatch` or the batch layer): a chained post-join
    * aggregation is restricted to time-window groups with delayed
    * watermark propagation, which buys nothing over the batch step here.
    * Both sides carry watermarks and the join condition is time-bounded in
    * both directions — the two constraints Spark needs to bound join
    * state; state is O(events inside the watermark), independent of total
    * history.
    */
  def purchaseAttribution(
      events: DataFrame,
      watermark: String = "1 hour",
      attributionWindow: String = "24 hours"): DataFrame = {
    val signups = events
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user_id"), col("ts").as("signup_ts"))
      .withWatermark("signup_ts", watermark)
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"),
        col("value"))
      .withWatermark("purchase_ts", watermark)
    purchases.join(
      signups,
      col("user_id") === col("s_user_id") &&
        col("purchase_ts") >= col("signup_ts") &&
        col("purchase_ts") <= col("signup_ts") + expr(s"INTERVAL $attributionWindow"),
      "inner")
      .select(col("event_id"), col("user_id"), col("purchase_ts"),
        col("signup_ts"), col("value"))
  }

  /** Per-batch latest-signup collapse for [[purchaseAttribution]] pairs:
    * one row per purchase, keeping the max signup_ts seen IN THIS BATCH.
    * The non-key columns are functionally dependent on event_id, so
    * grouping on them only preserves them through the aggregate.
    */
  def collapseLatestSignup(pairs: DataFrame): DataFrame =
    pairs
      .groupBy(col("event_id"), col("user_id"), col("purchase_ts"), col("value"))
      .agg(max(col("signup_ts")).as("signup_ts"))
      .select(col("event_id"), col("user_id"), col("purchase_ts"),
        col("signup_ts"), col("value"))

  /** Keyed upsert sink for the latest-signup collapse. A chained streaming
    * aggregation after a stream-stream join is restricted (time-window
    * groups + delayed watermark propagation), so the production pattern is
    * foreachBatch: collapse the batch, then MERGE into a keyed store with
    * max-signup semantics — correct even when one purchase's pairs arrive
    * across micro-batches (a late in-watermark signup emits its pair in a
    * later batch). This store is the driver-memory TEST DOUBLE for that
    * MERGE target (state grows with distinct purchases — fine in specs,
    * wrong on an unbounded stream); [[DistributedAttributionStore]] is the
    * scale path with identical upsert semantics and no driver-side state.
    * Batches arrive sequentially, so a plain synchronized map suffices.
    */
  final class AttributionStore {
    import scala.collection.mutable
    private val rows =
      mutable.Map.empty[Long, (Long, Timestamp, Timestamp, Double)]

    def merge(collapsed: DataFrame): Unit = {
      val batch = collapsed.collect()
      rows.synchronized {
        batch.foreach { r =>
          val id = r.getLong(0)
          val cand = (r.getLong(1), r.getTimestamp(2), r.getTimestamp(3),
            r.getDouble(4))
          rows.get(id) match {
            case Some(old) if !old._3.before(cand._3) => ()
            case _ => rows(id) = cand
          }
        }
      }
    }

    /** (event_id, user_id, purchase_ts, signup_ts, value) snapshot. */
    def snapshot: Map[Long, (Long, Timestamp, Timestamp, Double)] =
      rows.synchronized(rows.toMap)
  }

  /** Fully DISTRIBUTED attribution MERGE target — the scale path past
    * [[AttributionStore]], whose map lives in driver memory (fine while
    * the purchase population fits on the driver; an unbounded stream's
    * does not). State is a persisted one-row-per-purchase DataFrame; each
    * micro-batch's collapsed pairs union with it and re-reduce under
    * max-signup_ts-wins per event_id — a keyed aggregation, shuffled on
    * the purchase key, no driver-side collection anywhere. The upsert is
    * commutative/associative/idempotent (a max), so duplicate pair
    * emissions, batch boundaries, and arrival order are all absorbed:
    * the state after any prefix of batches equals the batch-layer
    * collapse over every pair seen so far (StreamingSpec pins it).
    *
    * Same fault-tolerance trade as
    * [[IncrementalDedup.DistributedClusterStore]]: lineage is truncated
    * via `localCheckpoint` (unreplicated executor blocks — an executor
    * loss fails the stream rather than recomputing wrong); production
    * swaps in a Delta/JDBC MERGE with identical semantics.
    */
  final class DistributedAttributionStore(spark: org.apache.spark.sql.SparkSession) {
    private var state: Option[DataFrame] = None

    def merge(collapsed: DataFrame): Unit = synchronized {
      // a foreachBatch frame is only valid inside its call — pin it
      val batch = collapsed.localCheckpoint()
      val all = state.map(_.union(batch)).getOrElse(batch)
      // latest signup wins; the remaining columns are functionally
      // dependent on event_id, so the struct tail only rides along
      val next = all
        .groupBy(col("event_id"))
        .agg(max(struct(col("signup_ts"), col("user_id"), col("purchase_ts"),
          col("value"))).as("r"))
        .select(col("event_id"), col("r.user_id"), col("r.purchase_ts"),
          col("r.signup_ts"), col("r.value"))
        .persist()
      next.count() // materialize before releasing the predecessor's blocks
      state.foreach(_.unpersist(blocking = false))
      state = Some(next)
    }

    /** Live (event_id, user_id, purchase_ts, signup_ts, value) state — the
      * distributed product; an eager localCheckpoint snapshot so a later
      * merge() cannot invalidate a frame the caller still holds. Empty
      * before any batch arrives.
      */
    def mapping: DataFrame = synchronized {
      state match {
        case Some(m) => m.localCheckpoint(eager = true)
        case None =>
          import spark.implicits._
          Seq.empty[(Long, Long, Timestamp, Timestamp, Double)]
            .toDF("event_id", "user_id", "purchase_ts", "signup_ts", "value")
      }
    }

    /** Driver-side view, same shape as [[AttributionStore.snapshot]]. */
    def snapshot: Map[Long, (Long, Timestamp, Timestamp, Double)] =
      mapping.collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getTimestamp(2), r.getTimestamp(3), r.getDouble(4))).toMap
  }

  /** Wire [[purchaseAttribution]] → per-batch collapse → DISTRIBUTED keyed
    * upsert; `store.mapping` is the live one-row-per-purchase state.
    */
  def attributionLatestDistributed(
      events: DataFrame,
      store: DistributedAttributionStore,
      watermark: String = "1 hour",
      attributionWindow: String = "24 hours")
      : org.apache.spark.sql.streaming.StreamingQuery =
    purchaseAttribution(events, watermark, attributionWindow)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        store.merge(collapseLatestSignup(batch))
      }
      .start()

  /** Wire [[purchaseAttribution]] → per-batch collapse → keyed upsert:
    * returns the started query; final one-row-per-purchase state lives in
    * `store` (driver-memory TEST DOUBLE — see [[AttributionStore]];
    * [[attributionLatestDistributed]] is the scale path).
    */
  def attributionLatest(
      events: DataFrame,
      store: AttributionStore,
      watermark: String = "1 hour",
      attributionWindow: String = "24 hours")
      : org.apache.spark.sql.streaming.StreamingQuery =
    purchaseAttribution(events, watermark, attributionWindow)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        store.merge(collapseLatestSignup(batch))
      }
      .start()

  /** Streaming KS drift monitor — the incremental twin of
    * [[graft.operators.Events.qKsDrift]]: the bin-count head runs as a
    * BUILT-IN keyed streaming aggregation (state = the same
    * ≤ [[graft.operators.Events.KsBins]] (bin, ne, nl) rows the batch
    * aggregation produces — bounded by the grid, never the stream), and
    * the statistic tail evaluates over any snapshot of that state with
    * the SAME [[graft.operators.Events.ksFromBins]] code path — batch ≡
    * stream by construction (spec-pinned over shuffled multi-batch
    * arrival). The production shape: complete/update-mode sink feeding a
    * dashboard that recomputes D from ≤ 500 rows per refresh.
    */
  def ksDriftBins(events: DataFrame): DataFrame =
    graft.operators.Events.ksBins(events)

  /** Stream-static enrichment join: tag each streamed event with its
    * user's segment from a static (batch) dimension. No watermark needed —
    * the static side is bounded, so there is no join state to expire; each
    * micro-batch plans a fresh broadcast of the dimension (picking up
    * dimension updates between batches at re-read sources). At 100 TB of
    * stream this is THE enrichment shape: the dimension broadcasts, the
    * stream never shuffles.
    */
  def enrichWithSegments(events: DataFrame, segments: DataFrame): DataFrame =
    events.join(broadcast(segments), Seq("user_id"), "left_outer")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"),
        coalesce(col("segment"), lit("unknown")).as("segment"))

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionOut(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long,
      session_value: Double)

  /** Internal open-session state (public: Catalyst codegen instantiates it).
    * A user's state is a LIST of open sessions, ordered by start: late
    * events inside the watermark may open a session before, between, or
    * bridging existing ones — a single open-session state cannot express
    * that and silently merges across gaps (diverging from the batch
    * sessionizer).
    */
  final case class SessionState(
      startUs: Long, endUs: Long, nEvents: Long, totalValue: Double)

  /** Fold one event into a sorted open-session list: extend the session it
    * lands within `gap` of, merging the neighbor when the event bridges
    * two sessions; otherwise insert a new session. Preserves the invariant
    * that consecutive sessions are separated by more than the gap, which
    * makes the fold order-independent (property-tested against brute-force
    * sessionization over random permutations).
    */
  private[streaming] def absorb(
      sessions: List[SessionState], t: Long, v: Double, gapUs: Long): List[SessionState] = {
    val (before, rest) = sessions.span(_.endUs < t - gapUs)
    rest match {
      case s :: tail if t >= s.startUs - gapUs =>
        val merged = SessionState(math.min(s.startUs, t), math.max(s.endUs, t),
          s.nEvents + 1, s.totalValue + v)
        // the extended session may now bridge into the next one
        tail match {
          case n :: more if n.startUs - merged.endUs <= gapUs =>
            before ::: SessionState(merged.startUs, math.max(merged.endUs, n.endUs),
              merged.nEvents + n.nEvents, merged.totalValue + n.totalValue) :: more
          case _ => before ::: merged :: tail
        }
      case _ =>
        before ::: SessionState(t, t, 1, v) :: rest
    }
  }

  /** Gap-based streaming sessionizer: one state object per user holding the
    * open session; events extend it or close it (gap exceeded → emit);
    * event-time timeout flushes sessions the watermark has passed. Late
    * events beyond the watermark are dropped by construction.
    */
  def sessionize(
      events: Dataset[Event],
      gapMinutes: Int = 30,
      watermark: String = "2 hours"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    def tsUs(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000

    // full microsecond fidelity — Timestamp(millis) alone would truncate
    // to ms and diverge from the batch sessionizer's min(ts)/max(ts)
    def usToTs(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }

    def toOut(uid: Long, s: SessionState): SessionOut =
      SessionOut(uid, usToTs(s.startUs), usToTs(s.endUs), s.nEvents, s.totalValue)

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[Event], state: GroupState[List[SessionState]]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val sessions0 = state.getOption.getOrElse(Nil)
          val sessions =
            if (state.hasTimedOut) sessions0
            else {
              val sorted = it.toSeq.sortBy(e => (tsUs(e.ts), e.event_id))
              sorted.foldLeft(sessions0)((acc, e) =>
                absorb(acc, tsUs(e.ts), e.value, gapUs))
            }
          // a session is final once no in-watermark event can still reach it
          val (closed, open) = sessions.partition(_.endUs + gapUs < wmUs)
          if (open.isEmpty) state.remove()
          else {
            state.update(open)
            // wake when the earliest open session falls out of reach; must
            // stay strictly beyond the current watermark (boundary sessions
            // with end+gap == wm are still open by the strict < above)
            state.setTimeoutTimestamp(math.max(
              open.map(_.endUs).min / 1000 + gapMinutes * 60L * 1000,
              state.getCurrentWatermarkMs() + 1))
          }
          closed.iterator.map(toOut(uid, _))
      }
  }

  private val sinkSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The one bounded drain (the contract is in the object scaladoc):
    * start `df` into a fresh memory sink in `mode` under
    * [[withDrainPartitions]], wait until every available file is
    * processed, stop, and return the sink table.
    */
  private def drain(s: SparkSession, mode: String)(
      df: Dataset[_]): DataFrame = {
    val name = s"graft_stream_${sinkSeq.incrementAndGet()}"
    withDrainPartitions(s) {
      val q = df.writeStream.outputMode(mode).format("memory")
        .queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(name)
  }

  /** `dir`'s `table` file as a stream path: a glob, not the bare file,
    * because the file stream source requires its base path to be a
    * directory, and a glob keeps it at `dir`.
    */
  private def corpusFile(dir: String, table: String): String =
    s"$dir/$table.parque*"

  /** All five events columns as a stream from `path`. */
  private def allEvents(s: SparkSession, path: String): DataFrame =
    Tables.eventsStream(s, path, "event_id", "ts", "user_id", "event_type",
      "value")

  /** Copy `dir`'s `table` file into the landing directory `out` as
    * `batch0.parquet`. Fails LOUDLY on a directory-style parquet:
    * Files.copy of a directory copies only the empty directory entry, so
    * the drain would silently produce zero rows and the gate would report
    * a mysterious hash mismatch instead of this message.
    */
  private def copyCorpusFile(dir: String, table: String, out: String): Unit = {
    val src = java.nio.file.Paths.get(dir, s"$table.parquet")
    require(java.nio.file.Files.isRegularFile(src),
      s"streaming fixture $src is not a single parquet file; staging a " +
        "directory-style parquet would drain empty — point the stream at " +
        "its data files instead")
    java.nio.file.Files.copy(src,
      java.nio.file.Paths.get(out, "batch0.parquet"))
    ()
  }

  /** The shared far-future sentinel timestamp (2100-01-01, micros). */
  private val SentinelTsUs = 4102444800L * 1000000L

  /** The events landing directory of the sentinel-flushed drains
    * ([[qStreamSessions]], [[qStreamTwsSessions]], [[qStreamOuterJoin]]),
    * a [[graft.operators.SessionMemo.fixture]] staged once per corpus:
    * the far-future sentinel rows (one per join side, a click and a
    * purchase of user −1, which the rollups filter out), written by an
    * overwrite that clears the directory, then a copy of the events file.
    * A bounded stream never advances its watermark past the data on its
    * own; staged BEFORE the drain starts, the sentinels ride the ONE data
    * micro-batch (begin-watermark 0, so nothing is late-dropped and no
    * state times out early) and the trailing watermark-advance batch
    * (`noDataMicroBatches`) flushes every open session and unmatched
    * touch: two micro-batches, each a full state-store open/commit cycle
    * per operator per partition. The file source skips the write's
    * `_SUCCESS` and `.crc` files.
    */
  private def sentinelEvents(s: SparkSession, dir: String): DataFrame =
    allEvents(s, graft.operators.SessionMemo.fixture(
        s, "graft_stream_events", dir) { out =>
      import s.implicits._
      Seq((-1L, SentinelTsUs, -1L, "click", 0.0),
        (-2L, SentinelTsUs, -1L, "purchase", 0.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(out)
      copyCorpusFile(dir, "events", out)
    })

  /** The re-crawl landing directory of [[qStreamDedup]] and
    * [[qStreamDedupWm]], a [[graft.operators.SessionMemo.fixture]] staged
    * once per corpus: a planted re-crawl (same texts, ids shifted by
    * [[graft.operators.Dedup.PlantOffset]]) written by an overwrite that
    * clears the directory, then a copy of the documents file, so every
    * content fingerprint arrives at least twice.
    */
  private def recrawlDocs(s: SparkSession, dir: String): DataFrame = {
    val stage = graft.operators.SessionMemo.fixture(
        s, "graft_stream_recrawl", dir) { out =>
      Tables.documents(s, dir)
        .select((col("doc_id") + graft.operators.Dedup.PlantOffset)
          .as("doc_id"), col("text"))
        .coalesce(1).write.mode("overwrite").parquet(out)
      copyCorpusFile(dir, "documents", out)
    }
    s.readStream.schema("doc_id BIGINT, text STRING")
      .parquet(s"$stage/*.parquet")
  }

  /** Run a bounded stream drain with a temporarily reduced shuffle
    * partition count. A stream-stream join maintains FOUR state stores
    * per shuffle partition and checkpoints each per micro-batch; at the
    * gate corpus the per-partition data is tiny, so the drain cost is
    * pure store-count overhead (measured: the 32-partition drain of
    * [[qStreamStreamJoin]] is ~3× the 8-partition one, same rows). The
    * partition count is fixed into the streaming plan at `start()`, and
    * results are partition-count-invariant (DeterminismSpec pins the
    * drained rollup across partitionings) — at 100 TB you size this UP
    * per state volume; here it is sized DOWN for the same reason. The
    * session conf is restored before the drained table's batch rollup
    * plans.
    *
    * Round 14: applied to EVERY bounded drain in this module, not just
    * the stream-stream joins — each stateful operator checkpoints one
    * state store per shuffle partition per micro-batch (RocksDB opens an
    * instance per store), so the 32→8 cut is the same state-volume
    * sizing argument for the keyed aggregates / dedup / tws drains
    * (measured r14: sessions 2.73→1.95 s, stream_q1 1.77→1.17 s, the
    * dedup pair −0.8 s build, at flat canary; all 15 streaming rows
    * re-gated at sf0.01 after the change).
    */
  private def withDrainPartitions[T](s: SparkSession)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, "8")
    try f finally s.conf.set(key, old)
  }

  /** Registry query under the driver's oracle gate whose execution path is
    * GENUINELY streaming: a file-source `readStream` over the events
    * parquet (pruned to the two consumed columns) drained through
    * [[kmvDistinct]]'s `mapGroupsWithState`, collapsed to the final
    * emission per key. Because the KMV buffer is a commutative-idempotent
    * set fold (StreamingSpec pins batch≡stream under shuffled
    * micro-batches), the drained state must hash-match the DuckDB oracle
    * computing the same k-smallest-distinct-hashes estimate directly —
    * putting `streaming/` under the same hard correctness signal as every
    * batch operator. At this corpus the single file is one micro-batch;
    * at 100 TB the same plan tails a landing directory micro-batch by
    * micro-batch with ≤ k longs of state per key.
    */
  def qStreamKmv(s: SparkSession, dir: String): DataFrame =
    // update mode re-emits changed keys; the sketch only grows, so the
    // per-key max(struct) IS the final drained state (StreamingSpec's
    // collapse)
    drain(s, "update")(kmvDistinct(
        Tables.eventsStream(s, corpusFile(dir, "events"),
          "event_type", "user_id"),
        graft.operators.Events.KmvK))
      .groupBy(col("event_type"))
      .agg(max(struct(col("kmv_size"), col("est"))).as("s"))
      .select(col("event_type"), col("s.kmv_size").as("kmv_size"),
        col("s.est").as("est"))
      .orderBy(col("event_type"))

  /** Second streaming query under the driver's oracle gate, this one
    * through the APPEND-mode stateful path ([[sessionize]]'s
    * `flatMapGroupsWithState` + event-time timeout) rather than
    * [[qStreamKmv]]'s update-mode fold: a file-source stream over the
    * staged [[sentinelEvents]] landing directory, whose sentinel advances
    * the watermark so the drain flushes every open session. Values are
    * mapped to integer cents BEFORE the fold so [[absorb]]'s double
    * accumulation is exact on whole numbers and the emitted sums match the
    * DECIMAL oracle bit-for-bit, order-independently. At 100 TB the same
    * plan tails a landing directory micro-batch by micro-batch with
    * O(open sessions) state per user; the sentinel is what a production
    * feed's advancing event time provides for free.
    */
  def qStreamSessions(s: SparkSession, dir: String): DataFrame =
    realSessions(drain(s, "append")(sessionize(centEvents(s, dir),
      gapMinutes = graft.operators.Events.SessionGapMinutes,
      watermark = "0 seconds")))

  /** [[sentinelEvents]] as [[Event]]s with values in integer cents. */
  private def centEvents(s: SparkSession, dir: String): Dataset[Event] = {
    import s.implicits._
    sentinelEvents(s, dir)
      .withColumn("value", round(col("value") * 100, 0))
      .as[Event]
  }

  /** A drained sessionizer sink without the sentinel user's session,
    * values back in currency units.
    */
  private def realSessions(drained: DataFrame): DataFrame =
    drained.filter(col("user_id") >= 0)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"),
        (col("session_value") / 100.0).as("session_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** The REFERENCE's workload as a structured stream under the gate:
    * word count (`wc.go:14-38` semantics — the [[wordCount]] expression
    * tree is literally the batch `WordCount.viaSql`) over a file-source
    * stream of the documents table, drained through the memory sink in
    * update mode and collapsed to each word's final count (counts only
    * grow, so per-word max IS the drained state — [[qStreamKmv]]'s
    * collapse). Hash-matches the SAME DuckDB oracle as the batch
    * `wc_wordcount` row: one tokenizer definition, one oracle, three
    * execution regimes (sequential-parity MRJob, batch SQL, stream).
    */
  def qStreamWc(s: SparkSession, dir: String): DataFrame =
    drain(s, "update")(wordCount(
        s.readStream.schema("text STRING")
          .parquet(corpusFile(dir, "documents")), "text"))
      .groupBy(col("word"))
      .agg(max(col("cnt")).as("cnt"))
      .orderBy(col("word"))

  /** The FLAGSHIP relational query as a structured stream under the gate:
    * the TPC-H Q1 pricing summary ([[graft.operators.Relational.q1Agg]])
    * over a file-source stream of the lineitem table, update-mode memory
    * sink. Every streamed aggregate is per-group MONOTONE across
    * micro-batches (sums of positive integer cents / cents·bp products
    * and a row count), so the per-group max over the drained updates IS
    * the final snapshot — [[qStreamWc]]'s collapse — and every snapshot's
    * columns are mutually consistent because they all come from the same
    * final update row. avg_qty is derived from the collapsed sums with
    * the batch path's exact arithmetic. Hash-matches the SAME DuckDB
    * oracle as the batch `q1_agg` row: one derivation, four execution
    * regimes for the flagship (batch DataFrame, verbatim SQL text
    * — TpcHSqlSpec —, multi-JVM, stream), mirroring wc's three.
    */
  def qStreamQ1(s: SparkSession, dir: String): DataFrame = {
    val src = s.readStream
      .schema("l_returnflag STRING, l_linestatus STRING, l_quantity DOUBLE, " +
        "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
        "l_shipdate TIMESTAMP")
      .parquet(corpusFile(dir, "lineitem"))
    import graft.operators.Relational.cents
    val epC = cents(col("l_extendedprice"))
    val d100 = lit(100L) - cents(col("l_discount"))
    val t100 = lit(100L) + cents(col("l_tax"))
    drain(s, "update")(src
        .filter(col("l_shipdate") <= lit("1999-12-31").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(cents(col("l_quantity")).cast("decimal(38,0)")).as("qty_c"),
          sum(epC.cast("decimal(38,0)")).as("base_c"),
          sum((epC * d100).cast("decimal(38,0)")).as("disc_cbp"),
          sum((epC * d100 * t100).cast("decimal(38,0)")).as("charge_cbp2"),
          count(lit(1)).as("count_order")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(max(col("qty_c")).as("qty_c"), max(col("base_c")).as("base_c"),
        max(col("disc_cbp")).as("disc_cbp"),
        max(col("charge_cbp2")).as("charge_cbp2"),
        max(col("count_order")).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"),
        (col("qty_c") / 100).cast("double").as("sum_qty"),
        (col("base_c") / 100).cast("double").as("sum_base_price"),
        (col("disc_cbp") / 10000).cast("double").as("sum_disc_price"),
        (col("charge_cbp2") / 1000000).cast("double").as("sum_charge"),
        ((col("qty_c") / 100).cast("double") / col("count_order"))
          .as("avg_qty"),
        col("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** EXACT streaming distinct via domain-bounded bitmap state — the exact
    * counterpart of [[qStreamKmv]]'s approximate sketch: per event-type
    * segment, [[graft.functions.BitmapAgg]] accumulates user ids in the
    * streaming state store (state size fixed by the declared id DOMAIN —
    * 16 KiB per segment — regardless of how many rows stream through),
    * and the drained per-batch cardinalities collapse by max (cardinality
    * only grows). Same oracle class as the batch `q_bitmap_segments`
    * counts: exact COUNT(DISTINCT) per segment.
    */
  def qStreamBitmap(s: SparkSession, dir: String): DataFrame =
    drain(s, "update")(
      Tables.eventsStream(s, corpusFile(dir, "events"), "event_type", "user_id")
        .groupBy(col("event_type"))
        .agg(graft.functions.Bitmaps.bitmapCard(
          graft.functions.Bitmaps.bitmapAgg(col("user_id"))).as("n_users")))
      .groupBy(col("event_type"))
      .agg(max(col("n_users")).as("n_users"))
      .orderBy(col("event_type"))

  /** Spend threshold (integer cents) splitting the user tiers of
    * [[userSegments]] — chosen near the median per-user purchase spend so
    * both tiers are populated at every SF.
    */
  val SegmentHiCents = 60000L

  /** Static segment dimension for [[qStreamJoin]]: a user's tier by
    * lifetime purchase spend, in exact integer cents (house round-half-away
    * rule). One bounded aggregation to |users| rows — the classic slowly-
    * refreshed dimension a streaming enrichment broadcasts.
    */
  private[streaming] def userSegments(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(graft.operators.Relational.cents(col("value"))).as("spend_c"))
      .select(col("user_id"),
        when(col("spend_c") >= SegmentHiCents, "hi").otherwise("lo")
          .as("segment"))

  /** Streaming EXACT dedup drained under the gate — the incremental
    * counterpart of [[graft.operators.Dedup.qDedupExact]]'s fingerprint
    * groupBy, run over the [[recrawlDocs]] landing directory, where
    * every content fingerprint arrives at least twice. The streaming
    * aggregate per md5(text) keeps (keeper = min doc_id, cnt = count) in
    * update mode; both components only TIGHTEN (keeper
    * never rises, cnt never falls), so the per-key collapse of the
    * update sink's emission history IS the drained final state — the
    * qStreamKmv monotone-fold discipline. The reported duplicate-size
    * histogram (dup_count, n_groups, keep_id_sum) must hash-match the
    * batch oracle over the same planted union. At 100 TB this plan
    * tails a crawl landing directory with O(distinct fingerprints)
    * state — the incremental dedup a recrawling pipeline actually runs.
    */
  def qStreamDedup(s: SparkSession, dir: String): DataFrame =
    drain(s, "update")(recrawlDocs(s, dir)
        .select(md5(col("text")).as("fp"), col("doc_id"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("cnt")))
      .groupBy(col("fp"))
      .agg(min(col("keeper")).as("keeper"), max(col("cnt")).as("cnt"))
      .groupBy(col("cnt").as("dup_count"))
      .agg(count(lit(1)).as("n_groups"), sum(col("keeper")).as("keep_id_sum"))
      .orderBy(col("dup_count"))

  /** Spark's NATIVE streaming-dedup primitive under the gate —
    * `dropDuplicatesWithinWatermark`, the engine-managed counterpart of
    * [[qStreamDedup]]'s explicit keyed aggregate (and the one streaming
    * dedup regime the gate did not yet cover): first arrival of each
    * content fingerprint is emitted in APPEND mode, later arrivals within
    * the watermark delay are dropped by the state store, and state
    * expires once the watermark passes — the bounded-memory contract that
    * makes streaming dedup deployable against an unbounded crawl. The
    * same [[recrawlDocs]] landing directory as [[qStreamDedup]] drains
    * with a constant event time, so no state expires mid-drain and the
    * emitted set must be EXACTLY one row per distinct fingerprint: the
    * output census carries n_keys, n_multi (fingerprints emitted more
    * than once — the oracle
    * pins it to 0, so a double emission is a hash mismatch, not a
    * warning), and a 60-bit-prefix checksum over the emitted fingerprint
    * VALUES (a census that counted the wrong keys also mismatches).
    * At 100 TB the delay is sized to the re-crawl horizon; state is
    * O(distinct keys inside the horizon), expired by the engine instead
    * of by [[IncrementalDedup]]'s explicit retention buckets.
    */
  def qStreamDedupWm(s: SparkSession, dir: String): DataFrame =
    drain(s, "append")(recrawlDocs(s, dir)
        .select(md5(col("text")).as("fp"),
          lit("2026-01-01 00:00:00").cast("timestamp").as("ts"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("emits"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(when(col("emits") > 1L, 1L).otherwise(0L)).as("n_multi"),
        sum(conv(substring(col("fp"), 1, 15), 16, 10).cast("long") % 9973L)
          .as("fp_chk"))

  /** The foreachBatch keyed-upsert SINK regime under the oracle gate —
    * the one core streaming pattern the other gate rows don't touch: a
    * chained aggregation after a stream-stream join is restricted, so
    * production pipelines collapse each micro-batch and MERGE into a
    * keyed store ([[attributionLatestDistributed]] — the fully
    * distributed store, no driver-side state). The real events file
    * drains through the watermarked signup×purchase interval join; the
    * store's final mapping (latest at-or-before signup per purchase,
    * max-merged across micro-batches) rolls up into an
    * attribution-lag-hours histogram in exact cents, which must
    * hash-match the DuckDB oracle pairing the batch table directly. Lag
    * is exact integer microseconds div 3600·10⁶ on both engines. At
    * 100 TB this is the upsert shape every serving table runs; state is
    * one row per attributed purchase, merged idempotently.
    */
  def qStreamAttribution(s: SparkSession, dir: String): DataFrame = {
    val store = new DistributedAttributionStore(s)
    val days = graft.operators.Events.AttrWindowDays
    withDrainPartitions(s) {
      val q = attributionLatestDistributed(
        allEvents(s, corpusFile(dir, "events")), store,
        watermark = "1 hour", attributionWindow = s"$days days")
      try q.processAllAvailable() finally q.stop()
    }
    store.mapping
      .select(
        expr("(unix_micros(purchase_ts) - unix_micros(signup_ts)) " +
          "div 3600000000").as("lag_hours"),
        graft.operators.Relational.cents(col("value")).as("cents"))
      .groupBy(col("lag_hours"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("cents"))
      .orderBy(col("lag_hours"))
  }

  /** Emission row of [[ChannelMixProcessor]]: one row per
    * (user, event_type) the arriving batch touched, with that pair's
    * running count.
    */
  case class TwsMapOut(user_id: Long, channel: String, cnt: Long)

  /** Heavy/light activity split for [[qStreamTwsMap]] — pinned near the
    * corpus' median per-user event count (~66 at sf0.001 through
    * sf0.1), so BOTH tiers are populated at every gate SF (the spec
    * asserts non-vacuity).
    */
  val TierHeavyEvents = 67L

  /** [[org.apache.spark.sql.streaming.MapState]] leg of the
    * transformWithState surface — the per-key SUB-KEYED accumulator
    * ValueState can't express without packing: a map from event_type to
    * its running count per user (the channel-mix profile an
    * attribution model reads). Only the sub-keys touched by the
    * arriving rows re-emit, so update-mode emissions are per-(user,
    * channel) monotone counts and the sink history collapses by max —
    * the [[qStreamKmv]] discipline one level down the key hierarchy.
    */
  private class ChannelMixProcessor
      extends StatefulProcessor[Long, (Long, String), TwsMapOut] {
    @transient private var st
      : org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(om: OutputMode, tm: TimeMode): Unit =
      st = getHandle.getMapState[String, Long]("mix",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
        tv: TimerValues): Iterator[TwsMapOut] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { r =>
        val ch = r._2
        val cur = if (st.containsKey(ch)) st.getValue(ch) else 0L
        st.updateValue(ch, cur + 1L)
        touched += ch
      }
      touched.iterator.map(ch => TwsMapOut(key, ch, st.getValue(ch)))
    }
  }

  /** Per-user channel-mix profile via transformWithState MAP STATE —
    * with [[qStreamTws]] (ValueState) and [[qStreamTwsSessions]]
    * (ListState + timers) this puts every state primitive of the
    * modern API under the driver's hash gate. The drained per-(user,
    * channel) counts collapse by max and roll up into the
    * channel-mix-shape census (how many users have each (channel →
    * share) profile would be unbounded; the bounded readout is events
    * per channel by user-activity tier). At 100 TB the map rows live
    * in RocksDB per user — the sub-keyed layout avoids rewriting one
    * monolithic per-user blob on every event, which is the reason
    * MapState exists.
    */
  def qStreamTwsMap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tables.eventsStream(s, corpusFile(dir, "events"),
        "event_type", "user_id")
      .select(col("user_id"), col("event_type")).as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new ChannelMixProcessor,
        TimeMode.None(), OutputMode.Update())
    // tier via a user-partitioned window over the per-(user, channel)
    // frame (≤ |event types| rows per user) — a self-join of the memory
    // sink view would collide on its fixed attribute ids
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
    withRocksDbState(s)(drain(s, "update")(src))
      .groupBy(col("user_id"), col("channel"))
      .agg(max(col("cnt")).as("cnt"))
      .withColumn("n_total", sum(col("cnt")).over(byUser))
      .withColumn("tier",
        when(col("n_total") >= TierHeavyEvents, "heavy").otherwise("light"))
      .groupBy(col("tier"), col("channel"))
      .agg(count(lit(1)).as("n_users"), sum(col("cnt")).as("n_events"))
      .orderBy(col("tier"), col("channel"))
  }

  /** Final emission row of [[qStreamTws]]'s stateful processor. */
  case class TwsOut(user_id: Long, n_purchases: Long, cents: Long)

  /** Arbitrary-state processor for [[qStreamTws]] — Spark 4's
    * `transformWithState` API (the successor of the
    * map/flatMapGroupsWithState pair the sessionizer and KMV queries
    * exercise): typed [[ValueState]] holding (purchase count, exact
    * cents sum) per user, re-emitted on every touch in update mode.
    * Both components only grow on this corpus' append-only purchase
    * stream, and the count is STRICTLY increasing per emission, so the
    * per-key struct-max collapse of the sink history is the drained
    * final state regardless of the cents column's sign.
    */
  private class SpendProcessor
      extends StatefulProcessor[Long, (Long, Long), TwsOut] {
    @transient private var st: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("spend",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        tv: TimerValues): Iterator[TwsOut] = {
      var (n, c) = if (st.exists()) st.get() else (0L, 0L)
      rows.foreach { r => n += 1; c += r._2 }
      st.update((n, c))
      Iterator.single(TwsOut(key, n, c))
    }
  }

  /** Run a bounded drain under the RocksDB state store provider —
    * `transformWithState` REQUIRES it (the default HDFS-backed provider
    * rejects the operator), and it is also the provider a 100 TB
    * deployment runs for state-larger-than-heap. Session conf restored
    * after the drain so every other query keeps the default provider.
    */
  private def withRocksDbState[T](s: SparkSession)(f: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = s.conf.getOption(key)
    s.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try f
    finally old match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** [[sessionize]]'s exact semantics on the MODERN state API: typed
    * [[org.apache.spark.sql.streaming.ListState]] of open sessions per
    * user plus explicit EVENT-TIME TIMERS ([[StatefulProcessorHandle
    * .registerTimer]] / [[handleExpiredTimer]]) replacing
    * `GroupStateTimeout.EventTimeTimeout` — the two halves of the
    * transformWithState surface [[SpendProcessor]]'s ValueState leg
    * doesn't touch. Same absorb fold, same close rule (end + gap <
    * watermark), so the emitted session rows are identical to the
    * flatMapGroupsWithState twin; stale timers re-fire harmlessly (a
    * flush with nothing closable emits nothing and re-arms).
    */
  private class TwsSessionizer(gapMinutes: Int)
      extends StatefulProcessor[Long, Event, SessionOut] {
    private val gapUs = gapMinutes * 60L * 1000000L
    @transient private var st: org.apache.spark.sql.streaming.ListState[SessionState] = _
    override def init(om: OutputMode, tm: TimeMode): Unit =
      st = getHandle.getListState[SessionState]("sessions",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)

    private def tsUs(t: Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000) % 1000
    private def usToTs(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }

    /** Emit every session the watermark has passed; retain + re-arm the
      * rest (timer strictly beyond the watermark, the [[sessionize]]
      * boundary rule).
      */
    private def flush(key: Long, wmUs: Long): Iterator[SessionOut] = {
      val sessions = if (st.exists()) st.get().toList else Nil
      val (closed, open) = sessions.partition(_.endUs + gapUs < wmUs)
      if (open.isEmpty) st.clear()
      else {
        st.put(open.toArray)
        getHandle.registerTimer(math.max(
          open.map(_.endUs).min / 1000 + gapMinutes * 60L * 1000,
          wmUs / 1000 + 1))
      }
      closed.iterator.map(s =>
        SessionOut(key, usToTs(s.startUs), usToTs(s.endUs), s.nEvents,
          s.totalValue))
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        tv: TimerValues): Iterator[SessionOut] = {
      val sessions0 = if (st.exists()) st.get().toList else Nil
      val sorted = rows.toSeq.sortBy(e => (tsUs(e.ts), e.event_id))
      val sessions = sorted.foldLeft(sessions0)((acc, e) =>
        absorb(acc, tsUs(e.ts), e.value, gapUs))
      st.put(sessions.toArray)
      flush(key, tv.getCurrentWatermarkInMs() * 1000L)
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SessionOut] =
      flush(key, tv.getCurrentWatermarkInMs() * 1000L)
  }

  /** The gap sessionizer re-run on transformWithState (ListState +
    * event-time timers, RocksDB provider) over the same
    * [[sentinelEvents]] landing directory as [[qStreamSessions]] — and
    * against the SAME oracle: three execution regimes for one session
    * derivation (batch window walk, flatMapGroupsWithState, modern
    * arbitrary state). At 100 TB the ListState rows live in RocksDB
    * per user — state larger than heap is the provider's point.
    */
  def qStreamTwsSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    realSessions(withRocksDbState(s)(drain(s, "append")(centEvents(s, dir)
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .transformWithState(
        new TwsSessionizer(graft.operators.Events.SessionGapMinutes),
        TimeMode.EventTime(), OutputMode.Append()))))
  }

  /** [[SpendProcessor]] with a BATCH-SEEDED warm start
    * ([[org.apache.spark.sql.streaming.StatefulProcessorWithInitialState]])
    * — `handleInitialState` loads each user's batch-computed
    * (count, cents) snapshot before the first micro-batch touches the
    * key. The correctness property a migration-to-streaming cares
    * about: snapshot + streamed delta ≡ full recompute.
    */
  private class SeededSpendProcessor
      extends org.apache.spark.sql.streaming
        .StatefulProcessorWithInitialState[
          Long, (Long, Long), TwsOut, (Long, Long)] {
    @transient private var st: ValueState[(Long, Long)] = _
    override def init(om: OutputMode, tm: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("spend",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)
    override def handleInitialState(key: Long, initial: (Long, Long),
        tv: TimerValues): Unit =
      st.update(initial)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        tv: TimerValues): Iterator[TwsOut] = {
      var (n, c) = if (st.exists()) st.get() else (0L, 0L)
      rows.foreach { r => n += 1; c += r._2 }
      st.update((n, c))
      Iterator.single(TwsOut(key, n, c))
    }
  }

  /** Snapshot membership rule for [[qStreamTwsSeeded]]: a purchase is in
    * the batch-processed history iff its user is fully migrated
    * (user_id % 5 == 0 — those users appear ONLY via the seed, so the
    * silent-key union path is provably exercised at every SF) or the
    * event itself predates the cutover (even event_id).
    */
  private def inSeedSnapshot: org.apache.spark.sql.Column =
    col("user_id") % 5 === 0 || col("event_id") % 2 === 0

  /** Warm-started streaming migration under the gate: the spend state is
    * SEEDED from a batch snapshot ([[inSeedSnapshot]] — the history a
    * migrating pipeline has already processed) and the stream delivers
    * only the DELTA (the complement); the drained final states must
    * reproduce the batch histogram over ALL purchases — the same oracle
    * as [[qStreamTws]], proving snapshot + delta ≡ full recompute.
    * Fully-migrated users never receive an input row, so their final
    * state exists ONLY via `handleInitialState` — the sink would miss
    * them, which is why the un-emitted seeded keys are unioned back
    * from the (batch-derived) snapshot with an anti-join on the emitted
    * keys. At 100 TB this is the cutover shape: one batch backfill,
    * then the feed.
    */
  def qStreamTwsSeeded(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val snapshot = Tables.events(s, dir)
      .filter(col("event_type") === "purchase" && inSeedSnapshot)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(graft.operators.Relational.cents(col("value"))).as("c"))
      .select(col("user_id"), col("n"), col("c"))
      .as[(Long, Long, Long)]
    val initial = snapshot.groupByKey(_._1).mapValues(r => (r._2, r._3))
    val src = Tables.eventsStream(s, corpusFile(dir, "events"),
        "event_id", "user_id", "event_type", "value")
      .filter(col("event_type") === "purchase" && !inSeedSnapshot)
      .select(col("user_id"),
        graft.operators.Relational.cents(col("value")).as("cents"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SeededSpendProcessor,
        TimeMode.None(), OutputMode.Update(), initial)
    val emitted = withRocksDbState(s)(drain(s, "update")(src))
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_purchases"), col("cents"))).as("st"))
      .select(col("user_id"), col("st.n_purchases").as("n"),
        col("st.cents").as("c"))
    val silent = snapshot.toDF("user_id", "n", "c")
      .join(emitted.select(col("user_id")), Seq("user_id"), "left_anti")
    emitted.unionAll(silent)
      .groupBy(col("n").as("n_purchases"))
      .agg(count(lit(1)).as("n_users"), sum(col("c")).as("total_cents"))
      .orderBy(col("n_purchases"))
  }

  /** Per-user lifetime purchase spend via the MODERN arbitrary-state API
    * ([[SpendProcessor]], `transformWithState` + typed ValueState under
    * the RocksDB provider) — completing the stateful-API surface the
    * gate already covers for `mapGroupsWithState` ([[qStreamKmv]]) and
    * `flatMapGroupsWithState` ([[qStreamSessions]]). The drained per-key
    * states collapse by struct-max (count strictly increases per
    * emission) and roll up into the purchases-per-user histogram the
    * DuckDB oracle computes directly from the batch table in exact
    * cents. At 100 TB this plan tails the purchase feed with one
    * (count, cents) pair of RocksDB state per user.
    */
  def qStreamTws(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tables.eventsStream(s, corpusFile(dir, "events"),
        "event_type", "user_id", "value")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        graft.operators.Relational.cents(col("value")).as("cents"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SpendProcessor,
        TimeMode.None(), OutputMode.Update())
    withRocksDbState(s)(drain(s, "update")(src))
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_purchases"), col("cents"))).as("st"))
      .select(col("st.n_purchases").as("n_purchases"),
        col("st.cents").as("cents"))
      .groupBy(col("n_purchases"))
      .agg(count(lit(1)).as("n_users"), sum(col("cents")).as("total_cents"))
      .orderBy(col("n_purchases"))
  }

  /** Fourth streaming query under the driver's oracle gate, exercising the
    * remaining core Structured Streaming join regime: a STREAM-STATIC
    * broadcast join ([[enrichWithSegments]] — stateless, no watermark, the
    * dimension re-broadcast per micro-batch). The events parquet is tailed
    * as a file-source stream, each event is tagged with its user's
    * spend-tier segment from the batch-derived [[userSegments]] dimension
    * (absent users → 'unknown' through the left-outer coalesce), drained
    * in append mode, and the drained rows are rolled up to
    * a (segment, event_type) traffic/revenue matrix in exact integer
    * cents. The DuckDB oracle recomputes the same enrichment as a batch
    * LEFT JOIN — the stream-static join must be row-for-row the batch
    * join. At 100 TB the same plan tails a landing directory with ZERO
    * stream-side shuffle: the dimension broadcasts, the stream maps.
    */
  def qStreamJoin(s: SparkSession, dir: String): DataFrame =
    drain(s, "append")(enrichWithSegments(
        allEvents(s, corpusFile(dir, "events")), userSegments(s, dir)))
      .groupBy(col("segment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(graft.operators.Relational.cents(col("value")))
          .as("value_cents"))
      .orderBy(col("segment"), col("event_type"))

  /** Fifth streaming query under the gate and the LAST core join regime:
    * a watermarked STREAM-STREAM inner join with an event-time range
    * constraint — the touch stream joins the purchase stream of the same
    * user inside the [[graft.operators.Events.AttrWindowDays]]-day
    * attribution lookback (the same pairing rule as the batch
    * [[graft.operators.Events.qAttribution]], whose oracle CTE this
    * query's oracle reuses verbatim). Both sides carry event-time
    * watermarks, so Spark bounds the join state to the lookback instead
    * of buffering either stream forever — at 100 TB of events per day
    * that state bound IS the operator; the range condition is what makes
    * it expressible. The drained pair set must equal the batch interval
    * join row-for-row (inner join: emission order and micro-batch
    * boundaries cannot add or drop pairs), rolled up per channel in
    * exact cents.
    */
  def qStreamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    def src() = allEvents(s, corpusFile(dir, "events"))
    val days = graft.operators.Events.AttrWindowDays
    val touches = src()
      .filter(col("event_type")
        .isInCollection(graft.operators.Events.AttrTouchTypes))
      .select(col("user_id"), col("event_id").as("touch_id"),
        col("event_type").as("channel"), col("ts").as("ts_t"))
      .withWatermark("ts_t", s"$days days")
    val purchases = src()
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("ts_p"),
        graft.operators.Relational.cents(col("value")).as("cents"))
      .withWatermark("ts_p", s"$days days")
    val joined = touches.join(purchases,
      col("user_id") === col("p_user") &&
        col("ts_t") <= col("ts_p") &&
        col("ts_t") > col("ts_p") - expr(s"INTERVAL $days DAYS"))
    drain(s, "append")(joined)
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("purchase_id")).as("n_purchases"),
        countDistinct(col("touch_id")).as("n_touches"),
        sum(col("cents")).as("paired_cents"))
      .orderBy(col("channel"))
  }

  /** Stream-stream LEFT OUTER interval join — the outer completion of
    * [[qStreamStreamJoin]], and the semantically hard half: an unmatched
    * touch can only emit its null-extended row once the watermark PROVES
    * no matching purchase can still arrive (ts_t + lookback behind the
    * purchase-side watermark). A bounded replay never advances the
    * watermark past the data on its own, so the drain reads the
    * [[sentinelEvents]] landing directory, whose one far-future row PER
    * SIDE moves both event-time watermarks past every real row, and the
    * trailing watermark-advance batch flushes the outer state (the two
    * sentinels match EACH OTHER; the rollup filters user −1). The
    * drained rollup — matched pairs plus
    * per-channel unmatched-touch counts — must equal the batch LEFT
    * JOIN from the same pairing CTE. At 100 TB the sentinel is what a
    * live feed's advancing event time provides continuously; state
    * stays bounded by the lookback on both sides.
    */
  def qStreamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val src = sentinelEvents(s, dir)
    val days = graft.operators.Events.AttrWindowDays
    val touches = src
      .filter(col("event_type")
        .isInCollection(graft.operators.Events.AttrTouchTypes))
      .select(col("user_id"), col("event_id").as("touch_id"),
        col("event_type").as("channel"), col("ts").as("ts_t"))
      .withWatermark("ts_t", "0 seconds")
    val purchases = src
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"),
        col("ts").as("ts_p"),
        graft.operators.Relational.cents(col("value")).as("cents"))
      .withWatermark("ts_p", "0 seconds")
    val joined = touches.join(purchases,
      col("user_id") === col("p_user") &&
        col("ts_t") <= col("ts_p") &&
        col("ts_t") > col("ts_p") - expr(s"INTERVAL $days DAYS"),
      "left_outer")
    drain(s, "append")(joined).filter(col("user_id") >= 0)
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("purchase_id")).as("n_matched"),
        sum(when(col("purchase_id").isNull, 1L).otherwise(0L))
          .as("n_unmatched"),
        coalesce(sum(col("cents")), lit(0L)).as("matched_cents"))
      .orderBy(col("channel"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_kmv" -> qStreamKmv,
    "q_stream_dedup" -> qStreamDedup,
    "q_stream_dedup_wm" -> qStreamDedupWm,
    "q_stream_tws" -> qStreamTws,
    "q_stream_tws_sessions" -> qStreamTwsSessions,
    "q_stream_tws_map" -> qStreamTwsMap,
    "q_stream_tws_seeded" -> qStreamTwsSeeded,
    "q_stream_attribution" -> qStreamAttribution,
    "q_stream_sessions" -> qStreamSessions,
    "q_stream_wc" -> qStreamWc,
    "q_stream_q1" -> qStreamQ1,
    "q_stream_bitmap" -> qStreamBitmap,
    "q_stream_join" -> qStreamJoin,
    "q_stream_stream_join" -> qStreamStreamJoin,
    "q_stream_outer_join" -> qStreamOuterJoin
  )

  /** The batch sessionizer derivation shared by BOTH streamed
    * sessionizer gate rows ([[qStreamSessions]],
    * [[qStreamTwsSessions]]) — one oracle, three execution regimes.
    */
  private lazy val sessionsOracle: String =
    s"""WITH flagged AS (
       |  SELECT user_id, event_id, ts, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
       |              > ${graft.operators.Events.SessionGapMinutes} * 60 * 1000000
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sessions AS (
       |  SELECT user_id, ts, value,
       |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
       |  FROM flagged),
       |agg AS (
       |  SELECT user_id,
       |    min(ts) AS session_start, max(ts) AS session_end,
       |    count(*) AS n_events,
       |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
       |  FROM sessions GROUP BY user_id, session_idx)
       |SELECT user_id, session_start, session_end, n_events, session_value
       |FROM agg ORDER BY user_id, session_start""".stripMargin

  /** The purchases-per-user exact-cents histogram shared by the
    * transformWithState ValueState rows ([[qStreamTws]] full-stream,
    * [[qStreamTwsSeeded]] snapshot + delta) — one oracle proving both
    * the cold and warm-started paths land on the full recompute.
    */
  private lazy val spendHistOracle: String =
    """WITH p AS (SELECT user_id,
      |    CAST(sign(value) * floor(abs(value) * 100.0e0 + 0.5e0)
      |      AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
      |    CAST(sum(cents) AS BIGINT) AS cents
      |  FROM p GROUP BY user_id)
      |SELECT n_purchases, count(*) AS n_users,
      |  CAST(sum(cents) AS BIGINT) AS total_cents
      |FROM u GROUP BY n_purchases ORDER BY n_purchases""".stripMargin

  def oracleSql: Map[String, String] = {
    val kmvK = graft.operators.Events.KmvK
    Map(
      // the batch q_kmv oracle minus its exact ride-along: the streamed
      // same oracle as the batch wc_wordcount row (one tokenizer, one
      // derivation, three execution regimes)
      // the store's merged mapping must reproduce the batch
      // latest-at-or-before-signup pairing, bucketed by exact lag micros
      "q_stream_attribution" ->
        s"""WITH p AS (SELECT event_id, user_id, ts AS pts, value
           |  FROM events WHERE event_type = 'purchase'),
           |sg AS (SELECT user_id, ts AS sts
           |  FROM events WHERE event_type = 'signup'),
           |pairs AS (SELECT p.event_id, p.pts, p.value, sg.sts
           |  FROM p JOIN sg ON sg.user_id = p.user_id
           |    AND sg.sts <= p.pts
           |    AND p.pts <= sg.sts
           |      + INTERVAL ${graft.operators.Events.AttrWindowDays} DAY),
           |m AS (SELECT event_id, pts, value, max(sts) AS sts
           |  FROM pairs GROUP BY event_id, pts, value),
           |l AS (SELECT
           |    (epoch_us(pts) - epoch_us(sts)) // 3600000000 AS lag_hours,
           |    CAST(sign(value) * floor(abs(value) * 100.0e0 + 0.5e0)
           |      AS BIGINT) AS cents
           |  FROM m)
           |SELECT CAST(lag_hours AS BIGINT) AS lag_hours,
           |  count(*) AS n_purchases, CAST(sum(cents) AS BIGINT) AS cents
           |FROM l GROUP BY 1 ORDER BY 1""".stripMargin,
      // the drained map states must reproduce the batch per-(user,
      // channel) counts, rolled up by activity tier
      "q_stream_tws_map" ->
        s"""WITH uc AS (SELECT user_id, event_type AS channel,
          |    CAST(count(*) AS BIGINT) AS cnt
          |  FROM events GROUP BY user_id, event_type),
          |t AS (SELECT user_id,
          |    CASE WHEN sum(cnt) >= $TierHeavyEvents THEN 'heavy' ELSE 'light' END AS tier
          |  FROM uc GROUP BY user_id)
          |SELECT t.tier, uc.channel, count(*) AS n_users,
          |  CAST(sum(uc.cnt) AS BIGINT) AS n_events
          |FROM uc JOIN t USING (user_id)
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      // the drained transformWithState value states must reproduce the
      // batch purchases-per-user histogram in exact cents
      "q_stream_tws" -> spendHistOracle,
      // same oracle over ALL purchases: the warm-started run only
      // streams the odd-event_id delta, so matching it proves
      // snapshot + delta ≡ full recompute
      "q_stream_tws_seeded" -> spendHistOracle,
      // the drained fingerprint states must reproduce the batch planted
      // union's exact-dedup histogram
      "q_stream_dedup" ->
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + ${graft.operators.Dedup.PlantOffset}, text
           |  FROM documents),
           |g AS (SELECT md5(text) AS fp,
           |    CAST(min(doc_id) AS BIGINT) AS keeper,
           |    CAST(count(*) AS BIGINT) AS cnt
           |  FROM corpus GROUP BY fp)
           |SELECT cnt AS dup_count, count(*) AS n_groups,
           |  CAST(sum(keeper) AS BIGINT) AS keep_id_sum
           |FROM g GROUP BY cnt ORDER BY dup_count""".stripMargin,
      // exactly one append-mode emission per distinct fingerprint: the
      // re-crawl arrives inside the watermark delay, so n_multi is 0 by
      // the primitive's contract and the checksum pins the VALUES
      "q_stream_dedup_wm" ->
        """WITH d AS (SELECT DISTINCT md5(text) AS fp FROM documents)
          |SELECT CAST(count(*) AS BIGINT) AS n_keys,
          |  CAST(0 AS BIGINT) AS n_multi,
          |  CAST(sum(('0x' || substr(fp, 1, 15))::BIGINT % 9973) AS BIGINT)
          |    AS fp_chk
          |FROM d""".stripMargin,
      "q_stream_wc" ->
        """SELECT word, count(*) AS cnt
          |FROM (SELECT unnest(string_split_regex(text, '[^\p{L}]+')) AS word
          |      FROM documents) t
          |WHERE word <> ''
          |GROUP BY word ORDER BY word""".stripMargin,
      // the batch flagship's oracle verbatim — one derivation, four
      // execution regimes (batch, SQL text, multi-JVM, stream)
      "q_stream_q1" -> graft.operators.Relational.oracleSql("q1_agg"),
      // exact streaming distinct (domain-bounded bitmap state)
      "q_stream_bitmap" ->
        """SELECT event_type, count(DISTINCT user_id) AS n_users
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      // the batch sessionizer's derivation minus its session_idx /
      // duration ride-alongs, keyed by (user, session_start) — the
      // streamed append-mode emissions must reproduce every session row
      "q_stream_sessions" -> sessionsOracle,
      // same oracle, third execution regime: the transformWithState
      // ListState + event-time-timer sessionizer must land identically
      "q_stream_tws_sessions" -> sessionsOracle,
      // the drained outer rollup must equal the batch LEFT JOIN from the
      // same pairing CTE: matched pairs + per-channel unmatched touches
      "q_stream_outer_join" ->
        s"""WITH ${graft.operators.Events.attrPairsCtes}
           |SELECT t.channel, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN pr.purchase_id IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_matched,
           |  CAST(sum(CASE WHEN pr.purchase_id IS NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_unmatched,
           |  CAST(coalesce(sum(pr.cents), 0) AS BIGINT) AS matched_cents
           |FROM t LEFT JOIN pr ON pr.touch_id = t.touch_id
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      // the drained stream-stream pairs must equal the batch interval
      // join — the pairing CTE is q_attribution's, verbatim
      "q_stream_stream_join" ->
        s"""WITH ${graft.operators.Events.attrPairsCtes}
           |SELECT channel, count(*) AS n_pairs,
           |  CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
           |  CAST(count(DISTINCT touch_id) AS BIGINT) AS n_touches,
           |  CAST(sum(cents) AS BIGINT) AS paired_cents
           |FROM pr GROUP BY 1 ORDER BY 1""".stripMargin,
      // the stream-static join must be row-for-row the batch LEFT JOIN:
      // same segment derivation, same cents rule, same rollup
      "q_stream_join" ->
        s"""WITH seg AS (
           |  SELECT user_id,
           |    CASE WHEN sum(CAST(sign(value) * floor(abs(value) * 100.0e0
           |           + 0.5e0) AS BIGINT)) >= $SegmentHiCents
           |         THEN 'hi' ELSE 'lo' END AS segment
           |  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
           |SELECT coalesce(seg.segment, 'unknown') AS segment, event_type,
           |  count(*) AS n_events,
           |  CAST(sum(CAST(sign(e.value) * floor(abs(e.value) * 100.0e0
           |    + 0.5e0) AS BIGINT)) AS BIGINT) AS value_cents
           |FROM events e LEFT JOIN seg USING (user_id)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      // sketch state must equal the k-smallest-distinct-hashes estimate
      // computed directly over the same rows
      "q_stream_kmv" ->
        s"""WITH h AS (
           |  SELECT DISTINCT event_type,
           |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
           |  FROM events),
           |r AS (
           |  SELECT event_type, hv,
           |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk
           |  FROM h),
           |sizes AS (
           |  SELECT event_type, count(*) AS n_h FROM h GROUP BY event_type),
           |kth AS (SELECT event_type, hv AS hk FROM r WHERE rk = $kmvK)
           |SELECT sizes.event_type AS event_type,
           |  CAST(least(sizes.n_h, $kmvK) AS BIGINT) AS kmv_size,
           |  CASE WHEN kth.hk IS NOT NULL
           |       THEN round((${kmvK - 1}.0 * 1152921504606846976) / CAST(kth.hk AS DOUBLE), 6)
           |       ELSE CAST(sizes.n_h AS DOUBLE) END AS est
           |FROM sizes
           |LEFT JOIN kth ON sizes.event_type = kth.event_type
           |ORDER BY event_type""".stripMargin)
  }
}
