package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MultimodalOps
import graft.sources.PhashIndexMaintenance

/** Perceptual-hash media near-dup (q211): the 64-bit aHash over the
  * grid-structured synthetic media recovers planted noised AND resized
  * twins, negative controls stay clean, the resized twin carries REAL
  * resampling error (the round-13 negative result's bar: no baked-equal
  * roundtrip), Hamming-band LSH is pigeonhole-lossless below the
  * band count, and the maintained index (q215) stays bit-identical to a
  * from-scratch build window by window. */
class MediaPhashSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  private def bandsOf(ids: Seq[Long]): Map[Long, Seq[Long]] =
    MultimodalOps.phashBandsOf(ids.toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap

  private def hamming(a: Seq[Long], b: Seq[Long]): Int =
    a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum

  test("fixture run: exactly the planted triples, all three edges each, nothing else") {
    val rows = MultimodalOps.queries("q211_phash_neardup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val pairs = rows.map(r => (r._1, r._2)).toSet
    val nDocs = graft.engine.Tables.documents(spark, sfDir).count()
    val decades = (0L until nDocs / 10)
    val planted = decades.flatMap(k =>
      Seq((10 * k, 10 * k + 1), (10 * k, 10 * k + 2), (10 * k + 1, 10 * k + 2))).toSet
    assert(pairs == planted,
      s"output must be exactly the planted triples: extra=${pairs.diff(planted)} missing=${planted.diff(pairs)}")
    assert(rows.forall(_._3 <= MultimodalOps.PhashMaxHam))
  }

  test("resized twin carries REAL resampling error — recovered, not baked equal") {
    val h = bandsOf((0L until 500L).toSeq)
    val resizedDists = (0L until 50L).map(k => hamming(h(10 * k), h(10 * k + 2)))
    assert(resizedDists.max > 0,
      "every resized twin hashing bit-identical means the roundtrip is vacuous — " +
        "the sawtooth term must produce genuine resampling error somewhere")
    assert(resizedDists.forall(_ <= MultimodalOps.PhashMaxHam))
    // noised twins likewise within threshold
    assert((0L until 50L).forall(k =>
      hamming(h(10 * k), h(10 * k + 1)) <= MultimodalOps.PhashMaxHam))
  }

  test("negative controls: distinct scenes sit far beyond the verify threshold") {
    val h = bandsOf((0L until 500L).toSeq)
    // variants 3..9 are unique scenes: their distance to EVERY other doc
    // must exceed the threshold (the clean-negative-controls bar)
    val uniques = (0L until 500L).filter(_ % 10 >= 3)
    val others = (0L until 500L)
    val minCross = (for (u <- uniques; o <- others if o != u)
      yield hamming(h(u), h(o))).min
    assert(minCross > MultimodalOps.PhashMaxHam,
      s"a negative-control doc matched something at distance $minCross")
  }

  test("Hamming-band LSH is pigeonhole-lossless below the band count") {
    // a pair at distance d < 4 differs in at most 3 bands, so at least
    // one of the 4 bands is shared — banding CANNOT lose such a pair.
    // Drive the real fixture hashes: every pair within the verify
    // threshold AND within the pigeonhole bound must appear in the
    // query output (which is band-candidate-generated).
    val h = bandsOf((0L until 500L).toSeq)
    val out = MultimodalOps.queries("q211_phash_neardup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = (0L until 500L)
    val shouldHave = for {
      a <- ids; b <- ids if a < b
      d = hamming(h(a), h(b)) if d < MultimodalOps.PhashBands
    } yield (a, b)
    assert(shouldHave.nonEmpty && shouldHave.forall(out.contains),
      "a pair below the pigeonhole bound escaped the banded candidates")
  }

  test("q214 at-rest index verdict equals q211's inline verdict") {
    val inline = MultimodalOps.queries("q211_phash_neardup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val atRest = MultimodalOps.queries("q214_phash_index")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(atRest == inline,
      s"at-rest verdict diverged: extra=${atRest.diff(inline)} missing=${inline.diff(atRest)}")
  }

  test("q215 maintained index: the CDC delete of doc 10 retires exactly its pairs") {
    val inline = MultimodalOps.queries("q211_phash_neardup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val maintained = MultimodalOps.queries("q215_phash_maintained")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(maintained == inline.filterNot(r => r._1 == 10L || r._2 == 10L),
      "the maintained verdict must be q211's minus every pair touching doc 10")
    assert(maintained.exists(r => r._1 == 11L && r._2 == 12L),
      "the surviving twin pair (11, 12) must remain")
  }

  test("q215 refreshCdc equals a from-scratch build after every window") {
    val wh = Files.createTempDirectory("graft-phm")
    wh.toFile.deleteOnExit()
    spark.conf.set("spark.sql.catalog.phmcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.phmcat.warehouse", wh.toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS phmcat.db")
    spark.sql("CREATE TABLE phmcat.db.src (doc_id BIGINT, px ARRAY<BIGINT>)")
    PhashIndexMaintenance.createIndex(spark, "phmcat", "db.src", "db.hash", "db.band")
    // a sorted multiset: a window applied twice shows as duplicate rows
    def rows(df: DataFrame): Seq[String] = df.collect()
      .map(_.toSeq.map {
        case xs: Seq[_] => xs.mkString(",")
        case x => String.valueOf(x)
      }.mkString("|")).toSeq.sorted
    // deterministic 64-pixel scene per id; `tweak` moves one pixel by a
    // small step (a near-dup within the Hamming threshold)
    def scene(k: Long, tweak: Int = 0): Seq[Long] =
      (0 until 64).map(i => ((k * 131 + i * 17) % 89) * 3 + (if (i == 5) tweak else 0): Long)
    // (arrivals, deleted doc_ids): window 2 near-dups window 1's scene 1
    // across windows; window 3 deletes doc 1 and near-dups scene 30
    val windows = Seq(
      Seq(1L -> scene(1), 4L -> scene(4)) -> Set.empty[Long],
      Seq(2L -> scene(1, tweak = 2), 30L -> scene(30)) -> Set.empty[Long],
      Seq(31L -> scene(30, tweak = 1)) -> Set(1L))
    var live = Seq.empty[(Long, Seq[Long])]
    for ((arrivals, deleted) <- windows) {
      if (deleted.nonEmpty)
        spark.sql(s"DELETE FROM phmcat.db.src WHERE doc_id IN (${deleted.mkString(", ")})")
      arrivals.toDF("doc_id", "px").writeTo("phmcat.db.src").append()
      PhashIndexMaintenance.refreshCdc(spark, "phmcat", "db.src", "db.hash", "db.band")
      live = live.filterNot(d => deleted(d._1)) ++ arrivals
      val media = live.toDF("doc_id", "px")
      assert(rows(spark.table("phmcat.db.hash")) == rows(PhashIndexMaintenance.hashRows(media)),
        s"hash table diverged from a from-scratch build over ${live.map(_._1)}")
      assert(rows(spark.table("phmcat.db.band")) == rows(PhashIndexMaintenance.bandRows(media)),
        s"band table diverged from a from-scratch build over ${live.map(_._1)}")
    }
    // the cross-window near-dup collides in at least one band
    val band = spark.table("phmcat.db.band")
    assert(band.as("x").join(band.as("y"), Seq("band"))
      .filter(col("x.doc_id") === 30L && col("y.doc_id") === 31L).count() > 0,
      "near-dup pair (30, 31) must share a band")
  }
}
