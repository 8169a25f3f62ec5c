package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.GraftFunctions.cents

/** Event-time transforms written once against the unified DataFrame API so
  * the SAME function runs in batch (for the DuckDB-oracle twin queries in
  * [[graft.operators.StreamingOps]]) and under Structured Streaming (driven
  * by MemoryStream in the test suite, or a file source via [[ReportStream]]).
  *
  * This is the engine's replacement for the reference's cron-driven
  * micro-batch loop (rws_data_ingester cronjob.sh:1-3, generate.sh:11-17):
  * instead of re-running an imperative script per tick, the tick is a
  * trigger over an incremental plan with event-time state.
  *
  * Scale notes: every transform keys its state by (window x group) or
  * (user x session), so state is bounded by the watermark horizon, not the
  * stream length; sums are exact integer cents (order-independent — safe
  * under both partial aggregation and state-store merges).
  */
object StreamTransforms {

  /** Columns shared by all transforms: event time `ts` (native microsecond
    * timestamp from Tables.events) and exact-cents value. */
  private def prepared(events: DataFrame): DataFrame =
    events.select(col("ts"), col("ts_us"), col("event_id"), col("user_id"),
      col("event_type"), cents(col("value")).as("v_cents"))

  /** Tumbling 1-hour windows per event_type: count + exact sum.
    * Emits the window start as epoch-microseconds (`win_us`) because the
    * DuckDB oracle reads the nanosecond fixture truncated to micros. */
  def tumblingCounts(events: DataFrame): DataFrame =
    prepared(events)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("v_cents")).as("sum_cents"))
      .select(unix_micros(col("w.start")).as("win_us"), col("event_type"),
        col("n_events"), col("sum_cents"))

  /** Sliding windows (1 hour long, every 30 minutes): each event lands in
    * exactly 2 windows. */
  def slidingCounts(events: DataFrame): DataFrame =
    prepared(events)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("v_cents")).as("sum_cents"))
      .select(unix_micros(col("w.start")).as("win_us"), col("event_type"),
        col("n_events"), col("sum_cents"))

  /** Session windows per user with a 30-minute inactivity gap. Spark merges
    * an event into the open session iff ts < last_ts + gap (strict), i.e. a
    * new session starts when the inter-event gap is >= 30 min. Emits
    * min/max event time per session so the output is engine-portable
    * (session_window.end = last + gap is Spark-specific). */
  def sessionize(events: DataFrame): DataFrame =
    prepared(events)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_last_us"),
        count(lit(1)).as("n_events"),
        sum(col("v_cents")).as("sum_cents"))
      .select("user_id", "session_start_us", "session_last_us", "n_events", "sum_cents")

  /** Streaming stateful dedup: keep the first (user_id, event_type) row by
    * event time; watermark bounds the dedup state. Streaming-only — the
    * deterministic batch twin is StreamingOps q63 (row_number over the
    * event-time order), which is the semantics this converges to when
    * arrival order follows event time. */
  def dedupFirstStreaming(events: DataFrame): DataFrame =
    prepared(events)
      .withWatermark("ts", "1 hour")
      .dropDuplicates("user_id", "event_type")
      .select("user_id", "event_type", "ts_us", "event_id")

  /** Stream-stream interval join: each purchase pairs with the same
    * user's clicks in the preceding hour. Under streaming, the watermarks
    * + time-range condition bound both join states (clicks older than the
    * range fall out of state); in batch the same plan is a range join.
    * Takes the events table twice so MemoryStream tests can feed two
    * genuinely independent streams. */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = prepared(clicks)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("ts_us").as("click_us"), col("event_id").as("click_id"))
      .withWatermark("c_ts", "2 hours")
    val p = prepared(purchases)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("ts_us").as("purchase_us"), col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "2 hours")
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        (col("purchase_us") - col("click_us")).as("lag_us"))
  }

  /** Per-user running totals via arbitrary stateful processing
    * (`flatMapGroupsWithState`) — the §2.2 "arbitrary state" row. The
    * same code path runs in batch (state starts empty, one group call),
    * which is what the oracle-checked twin q65 uses; under streaming the
    * state persists across micro-batches and the final update-mode row
    * per user converges to the batch result. State is two longs per key
    * — bounded by the key cardinality, not the stream length. */
  def runningTotals(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    prepared(events)
      .select(col("user_id"), col("v_cents"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0L))
          var n = n0
          var s = s0
          rows.foreach { case (_, c) => n += 1; s += c }
          state.update((n, s))
          Iterator.single((user, n, s))
      }
      .toDF("user_id", "n_events", "sum_cents")
  }

  /** Bounded-state streaming dedup (Spark 3.5+): unlike dropDuplicates
    * (state grows with distinct keys forever), duplicates are only
    * suppressed while the key is within the watermark horizon and the
    * state is dropped afterwards — THE dedup to use on an unbounded
    * at-least-once source where re-deliveries arrive close together. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    prepared(events)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type", "ts_us", "event_id")

  /** Left-outer variant of the interval join: every purchase emits, with
    * null click columns when no same-user click preceded it within the
    * hour. Under streaming this is the semantics that REQUIRES the
    * watermark: an unmatched purchase can only be emitted once the
    * click-side watermark has passed its window (no more matches can
    * arrive); in batch the same plan is an ordinary left range join. */
  def clickPurchaseJoinOuter(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = prepared(clicks)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("ts_us").as("click_us"), col("event_id").as("click_id"))
      .withWatermark("c_ts", "2 hours")
    val p = prepared(purchases)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("ts_us").as("purchase_us"), col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "2 hours")
    p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"),
        "leftOuter")
      .select(col("p_user").as("user_id"), col("purchase_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(col("purchase_us") - col("click_us"), lit(-1L)).as("lag_us"))
  }

  /** Stream-static join: enrich the event stream with the (slowly
    * changing) customer→nation dimension, then aggregate per nation. The
    * static side is re-planned per micro-batch by Structured Streaming
    * (dimension updates between batches are picked up automatically) and
    * is explicitly broadcast — the streaming side never shuffles for the
    * join, which is the only posture that survives a 100 TB/day stream.
    * Same code path runs in batch for the oracle twin (q82). */
  def enrichByNation(events: DataFrame, customer: DataFrame,
      nation: DataFrame): DataFrame = {
    val dim = customer.select(col("c_custkey").as("user_id"), col("c_nationkey"))
      .join(nation.select(col("n_nationkey").as("c_nationkey"), col("n_name")),
        "c_nationkey")
      .select("user_id", "n_name")
    prepared(events)
      .join(broadcast(dim), Seq("user_id"), "inner")
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_events"), sum(col("v_cents")).as("sum_cents"))
  }

  /** Watermarked tumbling aggregate: with a 1-hour watermark, an event
    * arriving more than 1 hour behind the observed max event time is
    * dropped before it reaches the window state. */
  def tumblingWithWatermark(events: DataFrame): DataFrame =
    prepared(events)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("w.start")).as("win_us"), col("event_type"), col("n_events"))
}
