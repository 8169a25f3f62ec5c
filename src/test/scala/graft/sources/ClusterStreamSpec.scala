package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupOps
import graft.streaming.ClusterStream

/** Streaming incremental clusters (ClusterStream): a document stream
  * folds into q213's durable cluster index through foreachBatch
  * refresh-CDC. After every micro-batch the standing labels equal BOTH
  * the batch fold (q210's incrementalClusterLabels over the same split)
  * AND a from-scratch clustering of everything that has arrived (q150's
  * labelsFor) — and every crash prefix of the apply, including a crash
  * INSIDE the maintainer (applied-but-not-finalized window), replays to
  * exactly-once state. */
class ClusterStreamSpec extends AnyFunSuite {
  import graft.TestSpark.spark
  import spark.implicits._

  private val wh: Path = {
    val p = Files.createTempDirectory("graft-cls")
    p.toFile.deleteOnExit()
    spark.conf.set("spark.sql.catalog.clscat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.clscat.warehouse", p.toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS clscat.db")
    p
  }
  private def root(t: String): Path = wh.resolve("db").resolve(t)

  private def words(p: String, n: Int) =
    (1 to n).map(i => f"$p$i%02d").mkString(" ")

  private def bootstrap(tag: String): (String, String, String, String) = {
    val idents = (s"db.src_$tag", s"db.lab_$tag", s"db.edg_$tag", s"db.bnd_$tag")
    spark.sql(s"CREATE TABLE clscat.${idents._1} (doc_id BIGINT, text STRING)")
    ClusterIndexMaintenance.createIndex(spark, "clscat",
      idents._1, idents._2, idents._3, idents._4)
    idents
  }

  private def labelRows(lab: String): Set[(Long, Long)] =
    spark.table(s"clscat.$lab").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def fromScratch(docs: DataFrame): Set[(Long, Long)] =
    DedupOps.labelsFor(docs.select("doc_id"),
        DedupOps.nearDupPairsOf(docs).select("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  // three g-near-dups arriving across different micro-batches (the
  // cross-batch merge), one h-pair inside a single batch, one singleton
  private val b1 = Seq(1L -> words("g", 20), 4L -> words("z", 12))
  private val b2 = Seq(2L -> (words("g", 19) + " gz99"),
    5L -> words("h", 15), 6L -> (words("h", 14) + " hz88"))
  private val b3 = Seq(3L -> (words("g", 19) + " gy88"))

  test("stream-fold == batch fold == from-scratch after every micro-batch") {
    val (src, lab, edg, bnd) = bootstrap("t1")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = ClusterStream.start(spark, ms.toDF().toDF("doc_id", "text"),
      "clscat", src, lab, edg, bnd,
      Files.createTempDirectory("cls-ckpt").toString)
    try {
      var arrived = Seq.empty[(Long, String)]
      for (batch <- Seq(b1, b2, b3)) {
        ms.addData(batch: _*)
        q.processAllAvailable()
        arrived ++= batch
        assert(labelRows(lab) == fromScratch(arrived.toDF("doc_id", "text")),
          s"stream-fold diverged from from-scratch after ${arrived.size} docs")
      }
      // the cross-batch merge landed: all three g-docs share rep 1
      assert(labelRows(lab) == Set(1L -> 1L, 2L -> 1L, 3L -> 1L,
        4L -> 4L, 5L -> 5L, 6L -> 5L))
      // and the stream state equals q210's BATCH fold over the same
      // split (corpus = batches 1-2, batch = batch 3)
      val (batchFold, _, _) = DedupOps.incrementalClusterLabels(
        (b1 ++ b2).toDF("doc_id", "text"), b3.toDF("doc_id", "text"))
      assert(labelRows(lab) ==
        batchFold.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        "stream-fold diverged from the batch incremental fold")
    } finally q.stop()
  }

  test("every crash prefix of the apply replays to exactly-once state") {
    val (src, lab, edg, bnd) = bootstrap("t2")
    ClusterStream.applyBatch(spark, b1.toDF("doc_id", "text"),
      "clscat", src, lab, edg, bnd)
    val full = b2.toDF("doc_id", "text")
    // crash prefix A: source append landed, refresh did not run
    full.writeTo(s"clscat.$src").append()
    ClusterStream.applyBatch(spark, full, "clscat", src, lab, edg, bnd)
    assert(labelRows(lab) == fromScratch((b1 ++ b2).toDF("doc_id", "text")))
    // crash prefix B: the maintainer crashed mid-window — staged AND
    // fully applied, not finalized; the stream replay must roll it
    // forward without duplicating rows
    val b3df = b3.toDF("doc_id", "text")
    b3df.writeTo(s"clscat.$src").append()
    val from = ClusterIndexMaintenance.lastSourceVersion(spark, "clscat", lab)
    val to = ManifestSink.currentVersion(root(s"src_t2"))
    val vPin = PendingWindow.stage(root(s"lab_t2"), "cl.pending-cdc", from, to)
    ClusterIndexMaintenance.applyWindowCdc(spark, "clscat", root(s"src_t2"),
      lab, edg, bnd, from, to, vPin)
    ClusterStream.applyBatch(spark, b3df, "clscat", src, lab, edg, bnd)
    val all = (b1 ++ b2 ++ b3).toDF("doc_id", "text")
    assert(labelRows(lab) == fromScratch(all))
    val dups = spark.table(s"clscat.$lab")
      .groupBy("doc_id").agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
    assert(dups == 0, s"crash replay duplicated $dups label rows")
    // replay of a fully-applied batch: a no-op, no new commits
    val v = ManifestSink.currentVersion(root(s"lab_t2"))
    ClusterStream.applyBatch(spark, b3df, "clscat", src, lab, edg, bnd)
    assert(ManifestSink.currentVersion(root(s"lab_t2")) == v)
  }
}
