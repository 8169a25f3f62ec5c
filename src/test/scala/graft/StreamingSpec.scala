package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.streaming.StreamTransforms

/** Drives the SAME transforms the oracle-checked batch twins use
  * (StreamTransforms) through MemoryStream micro-batches and asserts the
  * final streaming state converges to the batch result — the
  * batch-equivalence oracle for streaming semantics (SURVEY.md §5.2.3). */
case class Ev(event_id: Long, ts: Timestamp, ts_us: Long, user_id: Long,
  event_type: String, value: Double)

class StreamingSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** sf0.001 events as in-memory rows, sorted by event time. */
  private lazy val allEvents: Seq[Ev] = Tables.events(spark, TestSpark.sfDir)
    .select(col("event_id"), col("ts"), col("ts_us"), col("user_id"),
      col("event_type"), col("value"))
    .orderBy("ts_us", "event_id")
    .as[Ev].collect().toSeq

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Run a streaming transform over the events fed in `chunks` micro-batches
    * (complete output mode) and return the final in-memory table. */
  private def runComplete(name: String, transform: DataFrame => DataFrame,
      chunks: Int = 3): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = transform(ms.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .start()
    allEvents.grouped(math.max(1, allEvents.size / chunks)).foreach { batch =>
      ms.addData(batch)
      q.processAllAvailable()
    }
    q.stop()
    spark.table(name)
  }

  test("tumbling window streaming state converges to the batch twin") {
    val batch = StreamTransforms.tumblingCounts(Tables.events(spark, TestSpark.sfDir))
    val stream = runComplete("t_tumbling", StreamTransforms.tumblingCounts)
    assert(sorted(stream) == sorted(batch))
  }

  test("sliding window streaming state converges to the batch twin") {
    val batch = StreamTransforms.slidingCounts(Tables.events(spark, TestSpark.sfDir))
    val stream = runComplete("t_sliding", StreamTransforms.slidingCounts)
    assert(sorted(stream) == sorted(batch))
  }

  test("stream-static join converges to the batch twin (dim re-read per micro-batch)") {
    val batch = StreamTransforms.enrichByNation(
      Tables.events(spark, TestSpark.sfDir),
      Tables.customer(spark, TestSpark.sfDir),
      Tables.nation(spark, TestSpark.sfDir))
    val stream = runComplete("t_stream_static", ev =>
      StreamTransforms.enrichByNation(ev,
        Tables.customer(spark, TestSpark.sfDir),
        Tables.nation(spark, TestSpark.sfDir)))
    assert(sorted(stream) == sorted(batch))
  }

  test("session windows close correctly under append mode + watermark") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamTransforms.sessionize(
      ms.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("append")
      .format("memory").queryName("t_session")
      .start()
    ms.addData(allEvents)
    q.processAllAvailable()
    // sentinel far past the last event: advances the watermark so every
    // real session is finalized and emitted
    val lastUs = allEvents.map(_.ts_us).max
    val farUs = lastUs + 48L * 3600 * 1000000
    ms.addData(Ev(-1L, new Timestamp(farUs / 1000), farUs, -1L, "sentinel", 0.0))
    q.processAllAvailable()
    q.stop()
    val stream = spark.table("t_session").filter(col("user_id") =!= -1L)
    val batch = StreamTransforms.sessionize(Tables.events(spark, TestSpark.sfDir))
    assert(sorted(stream) == sorted(batch))
  }

  test("streaming dedup keeps the first row per key (event-time arrival order)") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamTransforms.dedupFirstStreaming(ms.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("t_dedup")
      .start()
    allEvents.grouped(200).foreach { batch => ms.addData(batch); q.processAllAvailable() }
    q.stop()
    val stream = spark.table("t_dedup").select("user_id", "event_type", "ts_us")
    val batch = StreamingOpsTestAccess.q63(spark, TestSpark.sfDir)
      .select("user_id", "event_type", "ts_us")
    assert(sorted(stream) == sorted(batch))
  }

  test("flatMapGroupsWithState running totals converge to the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamTransforms.runningTotals(ms.toDF())
      .writeStream.outputMode("update")
      .format("memory").queryName("t_state")
      .start()
    allEvents.grouped(250).foreach { batch => ms.addData(batch); q.processAllAvailable() }
    q.stop()
    // update mode emits one row per key per touched batch: the LAST row
    // per user is the final state
    val stream = spark.table("t_state")
      .withColumn("r", monotonically_increasing_id())
      .groupBy("user_id")
      .agg(max(struct(col("r"), col("n_events"), col("sum_cents"))).as("m"))
      .select(col("user_id"), col("m.n_events"), col("m.sum_cents"))
    val batch = StreamTransforms.runningTotals(Tables.events(spark, TestSpark.sfDir))
    assert(sorted(stream) == sorted(batch))
  }

  test("stream-stream interval join emits exactly the batch twin's pairs") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = StreamTransforms.clickPurchaseJoin(clicks.toDF(), purchases.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("t_ssjoin")
      .start()
    // feed both sides in event-time order, interleaved in chunks
    allEvents.grouped(300).foreach { batch =>
      clicks.addData(batch.filter(_.event_type == "click"))
      purchases.addData(batch.filter(_.event_type == "purchase"))
      q.processAllAvailable()
    }
    q.stop()
    val e = Tables.events(spark, TestSpark.sfDir)
    val batch = StreamTransforms.clickPurchaseJoin(e, e)
    assert(sorted(spark.table("t_ssjoin")) == sorted(batch))
  }

  test("dropDuplicatesWithinWatermark suppresses close re-deliveries with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamTransforms.dedupWithinWatermark(ms.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("t_wmdedup")
      .start()
    def ev(id: Long, minute: Long, et: String) = {
      val us = Timestamp.valueOf("2024-06-01 10:00:00").getTime * 1000 + minute * 60000000L
      Ev(id, new Timestamp(us / 1000), us, 1L, et, 1.0)
    }
    ms.addData(ev(1, 0, "click"), ev(2, 5, "click")) // duplicate key within horizon
    q.processAllAvailable()
    ms.addData(ev(3, 10, "click")) // still within watermark: suppressed
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_wmdedup").select("event_id")
      .collect().map(_.getLong(0)).toSet
    assert(rows == Set(1L), s"only the first delivery should survive, got $rows")
  }

  test("left-outer stream-stream join emits unmatched rows after the watermark closes") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = StreamTransforms.clickPurchaseJoinOuter(clicks.toDF(), purchases.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("t_ssouter")
      .start()
    allEvents.grouped(300).foreach { batch =>
      clicks.addData(batch.filter(_.event_type == "click"))
      purchases.addData(batch.filter(_.event_type == "purchase"))
      q.processAllAvailable()
    }
    // sentinels far past the last event on BOTH streams. They must carry
    // the event types the transform KEEPS — a foreign type is filtered
    // out before the watermark node and never advances it, leaving the
    // last purchases' join windows open forever.
    val farUs = allEvents.map(_.ts_us).max + 48L * 3600 * 1000000
    clicks.addData(Ev(-1L, new Timestamp(farUs / 1000), farUs, -1L, "click", 0.0))
    purchases.addData(Ev(-2L, new Timestamp(farUs / 1000), farUs, -1L, "purchase", 0.0))
    q.processAllAvailable()
    q.stop()
    val e = Tables.events(spark, TestSpark.sfDir)
    val batch = StreamTransforms.clickPurchaseJoinOuter(e, e)
    val stream = spark.table("t_ssouter").filter(col("user_id") =!= -1L)
    assert(sorted(stream) == sorted(batch))
    // the outer rows are really there: some purchases have no click
    assert(stream.filter(col("click_id") === -1L).count() > 0)
  }

  test("stateful aggregation runs on the RocksDB state store (production backend)") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamTransforms.tumblingCounts(ms.toDF())
        .writeStream.outputMode("complete")
        .format("memory").queryName("t_rocks")
        .start()
      allEvents.grouped(300).foreach { b => ms.addData(b); q.processAllAvailable() }
      q.stop()
      val batch = StreamTransforms.tumblingCounts(Tables.events(spark, TestSpark.sfDir))
      assert(sorted(spark.table("t_rocks")) == sorted(batch))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("watermark drops an event that arrives more than 1h late") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamTransforms.tumblingWithWatermark(ms.toDF())
      .writeStream.outputMode("update")
      .format("memory").queryName("t_late")
      .start()
    def ev(id: Long, minute: Long) = {
      val us = Timestamp.valueOf("2024-06-01 10:00:00").getTime * 1000 + minute * 60000000L
      Ev(id, new Timestamp(us / 1000), us, 1L, "click", 1.0)
    }
    ms.addData(ev(1, 0), ev(2, 5))      // watermark -> ~10:05 - 1h
    q.processAllAvailable()
    ms.addData(ev(3, 300))              // 15:00 -> watermark ~ 14:00
    q.processAllAvailable()
    ms.addData(ev(4, 100))              // 11:40, < 14:00 watermark: dropped
    q.processAllAvailable()
    q.stop()
    val total = spark.table("t_late").agg(sum("n_events")).as[Long].head()
    assert(total == 3, "the 2h-late event must be dropped by the watermark")
  }
}

/** Test-only access to a private-ish query map entry (kept out of the spec
  * body so the intent is obvious). */
object StreamingOpsTestAccess {
  def q63(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.operators.StreamingOps.queries("q63_stateful_dedup")(s, dir)
}
