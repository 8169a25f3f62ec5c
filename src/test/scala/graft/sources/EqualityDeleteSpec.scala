package graft.sources

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Equality-delete files (the Iceberg v2 shape): a DELETE-BY-KEY whose
  * COMMIT is O(keys) — a keys-only sidecar plus one metadata publish,
  * zero data-file reads (proved physically: the base files are MOVED
  * AWAY during the delete). Scans subtract matching rows via a
  * single-column position pass; sequencing keeps later re-inserts
  * alive; OPTIMIZE materializes the records away like DV purges; the
  * append-only/cdc feeds fail LOUDLY across an eq-delete version (keys
  * cannot be replayed as row images — pinned semantics). */
class EqualityDeleteSpec extends AnyFunSuite {
  import graft.TestSpark.spark

  private val wh: Path = {
    val p = Files.createTempDirectory("graft-eqdel")
    p.toFile.deleteOnExit()
    spark.conf.set("spark.sql.catalog.ecat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ecat.warehouse", p.toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ecat.db")
    p
  }
  private def root(t: String): Path = wh.resolve("db").resolve(t)
  private def entries(t: String): Seq[ManifestSink.FileEntry] =
    ManifestSink.committedEntries(root(t), None)
  private def ids(t: String): Seq[Long] =
    spark.sql(s"SELECT id FROM ecat.db.$t").collect().map(_.getLong(0)).sorted.toSeq

  test("the delete commit is keys-only and ZERO-read; scans subtract; re-inserts survive") {
    spark.sql("CREATE TABLE ecat.db.e1 (id BIGINT, v STRING)")
    spark.sql("INSERT INTO ecat.db.e1 SELECT id, concat('v', id) FROM range(10)")
    // PHYSICAL zero-read proof: every data file is moved away while the
    // delete commits — any read would throw
    val stash = Files.createTempDirectory("eqdel-stash")
    val names = entries("e1").map(_.name)
    names.foreach(n => Files.move(root("e1").resolve(n), stash.resolve(n)))
    ManifestSink.deleteWhereEq(root("e1").toString, "id", Seq("3", "7"))
    names.foreach(n => Files.move(stash.resolve(n), root("e1").resolve(n)))
    assert(ids("e1") == Seq(0L, 1L, 2L, 4L, 5L, 6L, 8L, 9L))
    // SEQUENCING: a re-insert of a deleted key lands at a HIGHER data
    // sequence than the record — it must survive
    spark.sql("INSERT INTO ecat.db.e1 VALUES (3, 'reborn')")
    assert(ids("e1") == Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 8L, 9L))
    assert(spark.sql("SELECT v FROM ecat.db.e1 WHERE id = 3")
      .collect().map(_.getString(0)).toSeq == Seq("reborn"))
  }

  test("metadata COUNT(*) is refused while records are outstanding; restored after OPTIMIZE") {
    spark.sql("CREATE TABLE ecat.db.e2 (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO ecat.db.e2 SELECT id, id FROM range(20)")
    ManifestSink.deleteWhereEq(root("e2").toString, "id", Seq("5"))
    // count must READ (live counts overcount): prove by deleting the
    // data files — the query has to fail
    val stash = Files.createTempDirectory("eqdel-stash2")
    val names = entries("e2").map(_.name)
    names.foreach(n => Files.move(root("e2").resolve(n), stash.resolve(n)))
    intercept[Exception] {
      spark.sql("SELECT count(*) FROM ecat.db.e2").collect()
    }
    names.foreach(n => Files.move(stash.resolve(n), root("e2").resolve(n)))
    assert(spark.sql("SELECT count(*) FROM ecat.db.e2").collect().head.getLong(0) == 19L)
    // OPTIMIZE materializes: records drop, matching rows are gone
    // physically, and the metadata count answers again with files ABSENT
    val res = ManifestSink.compact(root("e2").toString, targetRows = 1000L)
    assert(ManifestSink.readHeader(root("e2")).eqDels.isEmpty,
      "OPTIMIZE must clear the equality-delete records")
    assert(res.rewrittenFiles >= 0)
    entries("e2").foreach(e => Files.delete(root("e2").resolve(e.name)))
    assert(spark.sql("SELECT count(*) FROM ecat.db.e2").collect().head.getLong(0) == 19L,
      "post-materialization counts must be metadata-only again")
  }

  test("string keys; DV and equality deletes compose on one file") {
    spark.sql("CREATE TABLE ecat.db.e3 (id BIGINT, k STRING) " +
      "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    spark.sql("INSERT INTO ecat.db.e3 SELECT id, concat('k', id) FROM range(10)")
    spark.sql("DELETE FROM ecat.db.e3 WHERE id = 2") // DV sidecar
    assert(entries("e3").exists(_.dvName.isDefined))
    ManifestSink.deleteWhereEq(root("e3").toString, "k", Seq("k5", "k6", "k-absent"))
    assert(ids("e3") == Seq(0L, 1L, 3L, 4L, 7L, 8L, 9L))
    // zero-column projection over the composed deletes is exact too
    assert(spark.sql("SELECT count(*) FROM ecat.db.e3").collect().head.getLong(0) == 7L)
  }

  test("the change feed fails LOUDLY across an equality-delete version") {
    spark.sql("CREATE TABLE ecat.db.e4 (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO ecat.db.e4 SELECT id, id FROM range(5)")
    val before = ManifestSink.currentVersion(root("e4"))
    ManifestSink.deleteWhereEq(root("e4").toString, "id", Seq("1"))
    spark.sql("INSERT INTO ecat.db.e4 SELECT id, id FROM range(5, 8)")
    val e = intercept[Exception] {
      spark.read.format("graft.sources.ManifestSink")
        .option("path", root("e4").toString)
        .option("changesFromVersion", before.toString)
        .load().collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("EQUALITY DELETE")), msgs(e).mkString("|"))
    // cdc mode refuses identically
    val e2 = intercept[Exception] {
      spark.read.format("graft.sources.ManifestSink")
        .option("path", root("e4").toString)
        .option("changesFromVersion", before.toString)
        .option("changeFeedMode", "cdc")
        .load().collect()
    }
    assert(msgs(e2).exists(_.contains("EQUALITY DELETE")), msgs(e2).mkString("|"))
  }

  test("a streaming read's initial snapshot applies outstanding records") {
    spark.sql("CREATE TABLE ecat.db.e5 (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO ecat.db.e5 SELECT id, id FROM range(6)")
    ManifestSink.deleteWhereEq(root("e5").toString, "id", Seq("0", "4"))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft.sources.ManifestSink")
      .option("path", root("e5").toString).load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("eqdel-ck").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized { seen ++= b.collect().map(_.getLong(0)) }: Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(seen.sorted.toSeq == Seq(1L, 2L, 3L, 5L),
      "deleted keys must never deliver in the initial snapshot")
  }

  test("a MoR delete after a record stays feed-replayable (no double retraction)") {
    spark.sql("CREATE TABLE ecat.db.e13 (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    spark.sql("INSERT INTO ecat.db.e13 SELECT id, id FROM range(6)")
    ManifestSink.deleteWhereEq(root("e13").toString, "id", Seq("2"))
    val fromV = ManifestSink.currentVersion(root("e13"))
    // the predicate matches BOTH the eq-hidden row (id=2, v=2) and a
    // visible one (id=4, v=4): only the visible one may enter the DV,
    // or the feed would retract a row no snapshot consumer ever saw
    spark.sql("DELETE FROM ecat.db.e13 WHERE v IN (2, 4)")
    assert(ids("e13") == Seq(0L, 1L, 3L, 5L))
    val feed = spark.read.format("graft.sources.ManifestSink")
      .option("path", root("e13").toString)
      .option("changesFromVersion", fromV.toString)
      .option("changeFeedMode", "cdc")
      .load().collect()
    val deletes = feed.filter(_.getString(2) == "delete").map(_.getLong(0)).sorted
    assert(deletes.toSeq == Seq(4L),
      s"only the VISIBLE row's image may replay; got ${deletes.mkString(",")}")
  }

  test("NOT IN with a NULL literal proves nothing (three-valued, transform path too)") {
    import org.apache.spark.sql.sources._
    // x NOT IN (v, NULL) is never TRUE — a partition proof deciding
    // Some(true) here would metadata-delete whole files of rows SQL keeps
    val tf: Map[String, ManifestSink.PartTransform] =
      Map("ts" -> ManifestSink.PDays("ts"))
    val day1 = Map("ts" -> "1")
    val f = Not(In("ts", Array[Any](1L, null)))
    assert(ManifestSink.evalPartFilter(f, day1, tf).isEmpty,
      "NOT IN (..., NULL) must stay undecided, never proven")
    assert(ManifestSink.evalPartFilter(f, Map("c" -> "x"), Map.empty).isEmpty ||
      ManifestSink.evalPartFilter(f, Map("c" -> "x"), Map.empty).contains(false))
    // positive polarity keeps its exactness: IN with a null literal and
    // a real match still decides true
    assert(ManifestSink.evalPartFilter(
      In("c", Array[Any]("x", null)), Map("c" -> "x"), Map.empty).contains(true))
  }

  test("COMPOSITE keys: tuples delete exactly, components alone never match") {
    // the real CDC shape — tombstones on a multi-column key. The tuple
    // (1,'a') must die; rows sharing only ONE component (1,'b') and
    // (2,'a') must survive, on scans, counts and MoR interplay alike.
    spark.sql("CREATE TABLE ecat.db.e14 (id BIGINT, site STRING, v BIGINT)")
    spark.sql("INSERT INTO ecat.db.e14 VALUES " +
      "(1, 'a', 10), (1, 'b', 11), (2, 'a', 12), (2, 'b', 13), (3, 'a', 14)")
    // zero-read proof holds for composite keys too
    val stash = Files.createTempDirectory("eqdel-stash14")
    val names = entries("e14").map(_.name)
    names.foreach(n => Files.move(root("e14").resolve(n), stash.resolve(n)))
    ManifestSink.deleteWhereEqKeys(root("e14").toString, Seq("id", "site"),
      Seq(Seq("1", "a"), Seq("3", "a")))
    names.foreach(n => Files.move(stash.resolve(n), root("e14").resolve(n)))
    val got = spark.sql("SELECT v FROM ecat.db.e14")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(11L, 12L, 13L),
      s"only the exact tuples may die; got ${got.mkString(",")}")
    // re-insert of a deleted tuple survives (sequencing, composite)
    spark.sql("INSERT INTO ecat.db.e14 VALUES (1, 'a', 99)")
    assert(spark.sql("SELECT v FROM ecat.db.e14 WHERE id = 1 AND site = 'a'")
      .collect().map(_.getLong(0)).toSeq == Seq(99L))
    // OPTIMIZE materializes composite records away identically
    ManifestSink.compact(root("e14").toString, targetRows = 1000L)
    assert(ManifestSink.readHeader(root("e14")).eqDels.isEmpty)
    assert(spark.sql("SELECT count(*) FROM ecat.db.e14").collect().head.getLong(0) == 4L)
    // arity mismatches fail loudly
    intercept[Exception] {
      ManifestSink.deleteWhereEqKeys(root("e14").toString, Seq("id", "site"),
        Seq(Seq("1")))
    }
  }

  test("a truncate clears outstanding records (no governed files remain)") {
    spark.sql("CREATE TABLE ecat.db.e12 (id BIGINT)")
    spark.sql("INSERT INTO ecat.db.e12 SELECT id FROM range(4)")
    ManifestSink.deleteWhereEq(root("e12").toString, "id", Seq("1"))
    spark.sql("INSERT OVERWRITE ecat.db.e12 SELECT id FROM range(10, 13)")
    assert(ManifestSink.readHeader(root("e12")).eqDels.isEmpty,
      "truncate leaves nothing governed — records must drop with the rows")
    assert(ids("e12") == Seq(10L, 11L, 12L))
  }

  test("a change-feed window CLOSED before the record still delivers its rows") {
    // records committed AFTER the window's end must not subtract rows
    // that existed at `to` — the silent-fold corruption the loud-fail
    // guard exists to prevent, from the other direction
    spark.sql("CREATE TABLE ecat.db.e9 (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO ecat.db.e9 SELECT id, id FROM range(5)")
    val to = ManifestSink.currentVersion(root("e9"))
    ManifestSink.deleteWhereEq(root("e9").toString, "id", Seq("2"))
    val windowRows = spark.read.format("graft.sources.ManifestSink")
      .option("path", root("e9").toString)
      .option("changesFromVersion", "0")
      .option("changesToVersion", to.toString)
      .load().collect().map(_.getLong(0)).sorted
    assert(windowRows.toSeq == (0L until 5L),
      "the delta at `to` predates the record — id=2 must still deliver")
    // the SNAPSHOT, of course, applies it
    assert(ids("e9") == Seq(0L, 1L, 3L, 4L))
  }

  test("records key on evolved columns: absent-in-old-files and widened keys stay exact") {
    // key ADDED after gen-1: old files have NULL keys — the record
    // matches nothing there, and the scan must not crash on the
    // missing physical column
    spark.sql("CREATE TABLE ecat.db.e10 (id BIGINT)")
    spark.sql("INSERT INTO ecat.db.e10 SELECT id FROM range(3)")
    spark.sql("ALTER TABLE ecat.db.e10 ADD COLUMN k BIGINT")
    spark.sql("INSERT INTO ecat.db.e10 VALUES (10, 7), (11, 8)")
    ManifestSink.deleteWhereEq(root("e10").toString, "k", Seq("7"))
    assert(ids("e10") == Seq(0L, 1L, 2L, 11L))

    // key WIDENED after gen-1: old INT32 files decode through the
    // widening reader in the position pass
    spark.sql("CREATE TABLE ecat.db.e11 (id BIGINT, k INT)")
    spark.sql("INSERT INTO ecat.db.e11 SELECT id, CAST(id AS INT) FROM range(4)")
    spark.sql("ALTER TABLE ecat.db.e11 ALTER COLUMN k TYPE BIGINT")
    spark.sql("INSERT INTO ecat.db.e11 VALUES (9, 9)")
    ManifestSink.deleteWhereEq(root("e11").toString, "k", Seq("2", "9"))
    assert(ids("e11") == Seq(0L, 1L, 3L))
  }

  test("overwritten partitions and fast-forwarded branches outrun older records") {
    // rows arriving AFTER a delete — via dynamic partition overwrite or
    // a WAP fast-forward — must carry a fresh data sequence; governed-
    // by-default would silently drop matching keys from brand-new data
    spark.sql("CREATE TABLE ecat.db.e7 (id BIGINT, p STRING) PARTITIONED BY (p)")
    spark.sql("INSERT INTO ecat.db.e7 VALUES (1, 'a'), (2, 'a'), (3, 'b')")
    ManifestSink.deleteWhereEq(root("e7").toString, "id", Seq("2"))
    assert(ids("e7") == Seq(1L, 3L))
    // dynamic overwrite of partition 'a' re-introduces id=2 as new data
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.sql("INSERT OVERWRITE ecat.db.e7 VALUES (2, 'a'), (9, 'a')")
    finally prev.fold(spark.conf.unset("spark.sql.sources.partitionOverwriteMode"))(
      v => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v))
    assert(ids("e7") == Seq(2L, 3L, 9L),
      "overwrite rows must not be governed by the older equality delete")

    // WAP: records outstanding at the anchor never govern staged rows
    spark.sql("CREATE TABLE ecat.db.e8 (id BIGINT)")
    spark.sql("INSERT INTO ecat.db.e8 VALUES (1), (2)")
    ManifestSink.deleteWhereEq(root("e8").toString, "id", Seq("2"))
    spark.sql("CALL ecat.system.create_branch(table => 'db.e8', branch => 'w')")
    spark.sql("INSERT INTO ecat.db.e8.branch_w VALUES (2), (5)")
    // the AUDIT read must agree with what the publish will produce:
    // staged rows are sequenced past the pre-anchor record already
    assert(spark.sql("SELECT id FROM ecat.db.e8.branch_w")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 5L),
      "branch audit and post-publish state must see the same rows")
    spark.sql("CALL ecat.system.fast_forward(table => 'db.e8', branch => 'w')")
    assert(ids("e8") == Seq(1L, 2L, 5L),
      "fast-forwarded rows must not be governed by the pre-anchor delete")
  }

  test("time travel to before the delete still shows the rows; vacuum keeps live sidecars") {
    spark.sql("CREATE TABLE ecat.db.e6 (id BIGINT)")
    spark.sql("INSERT INTO ecat.db.e6 SELECT id FROM range(4)")
    val vBefore = ManifestSink.currentVersion(root("e6"))
    ManifestSink.deleteWhereEq(root("e6").toString, "id", Seq("2"))
    assert(spark.sql(s"SELECT count(*) FROM ecat.db.e6 VERSION AS OF $vBefore")
      .collect().head.getLong(0) == 4L)
    assert(ids("e6") == Seq(0L, 1L, 3L))
    // the sidecar survives a vacuum while its record is retained
    ManifestSink.vacuum(root("e6"), retain = 1, orphanGraceMs = 0L)
    val sidecars = {
      val l = Files.list(root("e6"))
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("eqdel-")).toSeq
      finally l.close()
    }
    assert(sidecars.nonEmpty, "a live record's sidecar must survive vacuum")
    assert(ids("e6") == Seq(0L, 1L, 3L))
  }

  test("a DELETE neither counts nor republishes rows a record already hides") {
    // CoW and MoR, through SQL and through the API: every visible row
    // survives, so each statement must be a no-op
    spark.sql("CREATE TABLE ecat.db.e15 (id BIGINT)")
    spark.sql("INSERT INTO ecat.db.e15 SELECT id FROM range(8)")
    ManifestSink.deleteWhereEq(root("e15").toString, "id", Seq("5"))
    Seq("copy-on-write", "merge-on-read").foreach { mode =>
      spark.sql(s"ALTER TABLE ecat.db.e15 SET TBLPROPERTIES ('delete.mode' = '$mode')")
      val v = ManifestSink.currentVersion(root("e15"))
      spark.sql("DELETE FROM ecat.db.e15 WHERE id = 5")
      assert(ManifestSink.currentVersion(root("e15")) == v, s"$mode SQL DELETE published")
      val k5 = org.apache.spark.sql.sources.EqualTo("id", 5L)
      val cow = ManifestSink.deleteWhere(root("e15").toString, Seq(k5))
      val mor = ManifestSink.deleteWhereMoRV2(root("e15").toString,
        Seq(org.apache.spark.sql.graft.GraftBridge.toV2(k5)))
      Seq(cow, mor).foreach { res =>
        assert(res.version == v && res.deletedRows == 0L, s"$mode: $res")
      }
    }
    assert(ids("e15") == Seq(0L, 1L, 2L, 3L, 4L, 6L, 7L))
  }
}
