package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupOps

/** The maintained cluster index ([[ClusterIndexMaintenance]]): appends
  * MERGE standing components through the change feed, a CDC DELETE of a
  * bridge document SPLITS its cluster (the fold q210's min-propagation
  * structurally cannot express), untouched components are never
  * rewritten (pinned via the labels table's own change feed), crash
  * states roll forward exactly-once, and the maintained labels equal a
  * from-scratch clustering of the survivors after any history. */
class ClusterMaintenanceSpec extends AnyFunSuite {
  import graft.TestSpark.spark
  import spark.implicits._

  private val wh: Path = {
    val p = Files.createTempDirectory("graft-clm")
    p.toFile.deleteOnExit()
    spark.conf.set("spark.sql.catalog.clcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.clcat.warehouse", p.toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS clcat.db")
    p
  }
  private def root(t: String): Path = wh.resolve("db").resolve(t)

  private def words(p: String, n: Int) =
    (1 to n).map(i => f"$p$i%02d").mkString(" ")

  private def labelRows(t: String): Set[(Long, Long)] =
    spark.table(s"clcat.db.$t")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** From-scratch ground truth over the given survivors. */
  private def fromScratch(docs: DataFrame): Set[(Long, Long)] =
    DedupOps.labelsFor(docs.select("doc_id"),
        DedupOps.nearDupPairsOf(docs).select("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** doc_ids of label rows APPENDED by commits in (vFrom, vTo] — the
    * physical rewrite set of a refresh window, read straight from the
    * window's added parquet files (the labels rewrite interleaves
    * equality deletes, which the CDC reader rightly refuses to replay
    * as a row delta). */
  private def appendedLabelIds(t: String, vFrom: Long, vTo: Long): Set[Long] = {
    val before = ManifestSink.committedEntries(root(t), Some(vFrom))
      .map(_.name).toSet
    val files = ManifestSink.committedEntries(root(t), Some(vTo))
      .filterNot(e => before(e.name))
      .map(e => root(t).resolve(e.name).toString)
    if (files.isEmpty) Set.empty
    else spark.read.parquet(files: _*)
      .select("doc_id").collect().map(_.getLong(0)).toSet
  }

  // two standing near-dup components in DISJOINT token universes (they
  // can never link), one untouched pair component, one singleton
  private val tX1 = words("c", 20)
  private val tX2 = words("c", 19) + " cz99"
  private val tY1 = words("d", 20)
  private val tY2 = words("d", 19) + " dz99"
  private val tZ1 = words("e", 20)
  private val tZ2 = words("e", 19) + " ez99"
  private val base = Seq(
    1L -> tX1, 2L -> tX2, 5L -> tY1, 6L -> tY2,
    7L -> tZ1, 8L -> tZ2, 9L -> words("z", 12))

  test("bridge chain MERGES two components; its CDC delete SPLITS them; " +
      "untouched components are never rewritten") {
    spark.sql("CREATE TABLE clcat.db.src (doc_id BIGINT, text STRING) " +
      "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    base.toDF("doc_id", "text").writeTo("clcat.db.src").append()
    ClusterIndexMaintenance.createIndex(spark, "clcat", "db.src",
      "db.lab", "db.edg", "db.bnd")
    assert(labelRows("lab") == Set(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L,
      7L -> 7L, 8L -> 7L, 9L -> 9L))

    // arrival 2: a verified near-dup PATH from doc 1's text to doc 5's
    // text (every link holds under the engine's exact algebra — the
    // q213 bridge construction), so the refresh MUST merge X and Y
    val chain = DedupOps.bridgeWalk(tX1.split(' ').toSeq, tY1.split(' ').toSeq)
      .getOrElse(fail("bridge walk did not converge on the fixture texts"))
    val chainIds = chain.indices.map(i => 100L + i)
    val v0 = ManifestSink.currentVersion(root("lab"))
    chainIds.zip(chain).toDF("doc_id", "text").writeTo("clcat.db.src").append()
    ClusterIndexMaintenance.refreshCdc(spark, "clcat", "db.src",
      "db.lab", "db.edg", "db.bnd")
    val v1 = ManifestSink.currentVersion(root("lab"))
    val merged = labelRows("lab")
    assert(merged.filter(r => Set(1L, 2L, 5L, 6L).contains(r._1)) ==
      Set(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L),
      s"the bridge did not merge X and Y: $merged")
    assert(chainIds.forall(id => merged.contains(id -> 1L)))
    // untouched components' rows were never rewritten: the window's
    // appended label rows are exactly the merged members
    assert(appendedLabelIds("lab", v0, v1) ==
      (Set(1L, 2L, 5L, 6L) ++ chainIds),
      "a refresh rewrote label rows outside the touched components")
    assert(merged.contains(7L -> 7L) && merged.contains(8L -> 7L) &&
      merged.contains(9L -> 9L))

    // CDC delete of the whole bridge: the touched component must be
    // recomputed from surviving edges and SPLIT back apart
    spark.sql("DELETE FROM clcat.db.src WHERE doc_id >= 100")
    val v2 = ManifestSink.currentVersion(root("lab"))
    ClusterIndexMaintenance.refreshCdc(spark, "clcat", "db.src",
      "db.lab", "db.edg", "db.bnd")
    val v3 = ManifestSink.currentVersion(root("lab"))
    assert(labelRows("lab") == Set(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L,
      7L -> 7L, 8L -> 7L, 9L -> 9L),
      s"the bridge delete did not split the merged cluster: ${labelRows("lab")}")
    assert(appendedLabelIds("lab", v2, v3) == Set(1L, 2L, 5L, 6L),
      "the delete refresh rewrote label rows outside the touched component")
    // the bridge's band and edge rows are fully retired
    assert(spark.table("clcat.db.bnd").filter(col("doc_id") >= 100L).count() == 0)
    assert(spark.table("clcat.db.edg")
      .filter(col("doc_a") >= 100L || col("doc_b") >= 100L).count() == 0)
    // and the maintained labels equal a from-scratch clustering
    assert(labelRows("lab") == fromScratch(base.toDF("doc_id", "text")))

    // deleting a MEMBER leaves its partner a singleton; deleting a REP
    // moves the component minimum
    spark.sql("DELETE FROM clcat.db.src WHERE doc_id IN (2, 5)")
    ClusterIndexMaintenance.refreshCdc(spark, "clcat", "db.src",
      "db.lab", "db.edg", "db.bnd")
    assert(labelRows("lab") == Set(1L -> 1L, 6L -> 6L,
      7L -> 7L, 8L -> 7L, 9L -> 9L))
    assert(labelRows("lab") == fromScratch(
      base.filterNot(d => Set(2L, 5L).contains(d._1)).toDF("doc_id", "text")))
  }

  test("crash states roll forward exactly-once (no duplicate label rows)") {
    spark.sql("CREATE TABLE clcat.db.src2 (doc_id BIGINT, text STRING) " +
      "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    val b1 = Seq(1L -> words("g", 20), 2L -> (words("g", 19) + " gz99"))
      .toDF("doc_id", "text")
    b1.writeTo("clcat.db.src2").append()
    ClusterIndexMaintenance.createIndex(spark, "clcat", "db.src2",
      "db.lab2", "db.edg2", "db.bnd2")
    // arrival 2: one more near-dup of the g-cluster plus a singleton
    val b2 = Seq(3L -> (words("g", 19) + " gy88"), 4L -> words("k", 15))
      .toDF("doc_id", "text")
    b2.writeTo("clcat.db.src2").append()
    val from = ClusterIndexMaintenance.lastSourceVersion(spark, "clcat", "db.lab2")
    val to = ManifestSink.currentVersion(root("src2"))
    // crash after stage: marker durable, nothing applied
    PendingWindow.stage(root("lab2"), "cl.pending-cdc", from, to)
    ClusterIndexMaintenance.refreshCdc(spark, "clcat", "db.src2",
      "db.lab2", "db.edg2", "db.bnd2")
    assert(labelRows("lab2") == Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
    // crash after the full APPLY (before finalize): recovery must scrub
    // and re-apply without duplicating any row
    val b3 = Seq(5L -> (words("g", 19) + " gx77")).toDF("doc_id", "text")
    b3.writeTo("clcat.db.src2").append()
    val to3 = ManifestSink.currentVersion(root("src2"))
    val vPin = PendingWindow.stage(root("lab2"), "cl.pending-cdc", to, to3)
    ClusterIndexMaintenance.applyWindowCdc(spark, "clcat", root("src2"),
      "db.lab2", "db.edg2", "db.bnd2", to, to3, vPin)
    ClusterIndexMaintenance.refreshCdc(spark, "clcat", "db.src2",
      "db.lab2", "db.edg2", "db.bnd2")
    val dupLabels = spark.table("clcat.db.lab2")
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()
    val dupBands = spark.table("clcat.db.bnd2")
      .groupBy("band", "doc_id").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()
    val dupEdges = spark.table("clcat.db.edg2")
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()
    assert(dupLabels == 0 && dupBands == 0 && dupEdges == 0,
      s"recovery duplicated rows: $dupLabels labels / $dupBands bands / $dupEdges edges")
    assert(labelRows("lab2") ==
      Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 1L))
    assert(labelRows("lab2") == fromScratch(b1.unionAll(b2).unionAll(b3)))
    // replay: nothing new, nothing committed
    val v = ManifestSink.currentVersion(root("lab2"))
    ClusterIndexMaintenance.refreshCdc(spark, "clcat", "db.src2",
      "db.lab2", "db.edg2", "db.bnd2")
    assert(ManifestSink.currentVersion(root("lab2")) == v)
  }

  test("a window that both inserts and deletes one doc_id is refused") {
    spark.sql("CREATE TABLE clcat.db.src3 (doc_id BIGINT, text STRING) " +
      "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    Seq(1L -> words("p", 12)).toDF("doc_id", "text")
      .writeTo("clcat.db.src3").append()
    ClusterIndexMaintenance.createIndex(spark, "clcat", "db.src3",
      "db.lab3", "db.edg3", "db.bnd3")
    Seq(2L -> words("q", 12)).toDF("doc_id", "text")
      .writeTo("clcat.db.src3").append()
    spark.sql("DELETE FROM clcat.db.src3 WHERE doc_id = 2")
    val e = intercept[IllegalArgumentException] {
      ClusterIndexMaintenance.refreshCdc(spark, "clcat", "db.src3",
        "db.lab3", "db.edg3", "db.bnd3")
    }
    assert(e.getMessage.contains("intra-window"))
  }
}
