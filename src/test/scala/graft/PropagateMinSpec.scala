package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupOps

/** [[DedupOps.propagateMin]] — the min-label fixpoint behind every
  * cluster labeling, the maintained cluster index's refresh included
  * (through `labelsFor`). Its loop ends on an `observe()` metric that
  * rides each round's checkpoint job, so a Spark change that stopped
  * delivering it would show here as a wrong round count, not a hang in
  * some larger suite. A path far deeper than [[DedupOps.PlainRounds]]
  * must converge through the hooking rounds in O(log depth). */
class PropagateMinSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Counts the `localCheckpoint` actions DedupOps launches. */
  private class CheckpointCounter extends SparkListener {
    @volatile var n = 0
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart
        if x.description.startsWith("localCheckpoint at DedupOps.scala") => n += 1
      case _ =>
    }
  }

  test("a shuffled-id path far deeper than PlainRounds labels exactly in O(log depth) rounds") {
    val depth = 256
    // the path visits ids 1..depth in shuffled order, so its minimum sits
    // mid-path and every label must travel up to ~depth hops
    val path = new scala.util.Random(11).shuffle((1L to depth.toLong).toList)
    val pairs = (path.sliding(2).map { case Seq(a, b) => (a, b) }.toSeq :+
      (1001L, 1002L) :+ (1002L, 1000L)).toDF("doc_a", "doc_b")
    val ids = ((1L to depth.toLong) ++ Seq(1000L, 1001L, 1002L, 5000L)).toDF("doc_id")

    val counter = new CheckpointCounter
    spark.sparkContext.addSparkListener(counter)
    val labels =
      try {
        val got = DedupOps.labelsFor(ids, pairs).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        org.apache.spark.graft.TestBus.drain(spark.sparkContext)
        got
      } finally spark.sparkContext.removeSparkListener(counter)

    assert(labels == ((1L to depth.toLong).map(_ -> 1L) ++
      Seq(1000L -> 1000L, 1001L -> 1000L, 1002L -> 1000L, 5000L -> 5000L)).toMap)
    // one checkpoint seeds the labels, then one per round
    val rounds = counter.n - 1
    info(s"$rounds rounds for a $depth-hop path")
    val log2 = 32 - Integer.numberOfLeadingZeros(depth - 1)
    assert(rounds > DedupOps.PlainRounds,
      s"a $depth-hop path cannot converge in the plain rounds ($rounds rounds)")
    assert(rounds <= DedupOps.PlainRounds + 2 * log2,
      s"$rounds rounds for a $depth-hop path: hooking did not engage")
  }
}
