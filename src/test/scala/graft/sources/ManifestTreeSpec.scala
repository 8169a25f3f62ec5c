package graft.sources

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Tree-structured manifest metadata: past the inline threshold a
  * version file is a MANIFEST LIST of content-addressed entry-group
  * files with merged pruning stats, so driver-side planning cost stops
  * scaling with table file count. Every claim here is proved
  * PHYSICALLY, the ProvenDeleteSpec way: files that must not be read
  * are deleted from disk first — one accidental open throws. */
class ManifestTreeSpec extends AnyFunSuite {
  import graft.TestSpark.spark
  import spark.implicits._

  private val wh: Path = {
    val p = Files.createTempDirectory("graft-mtree")
    p.toFile.deleteOnExit()
    spark.conf.set("spark.sql.catalog.mtcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mtcat.warehouse", p.toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mtcat.db")
    p
  }
  private def root(t: String): Path = wh.resolve("db").resolve(t)

  private val FakeFiles = 50000 / 100 * 100 // 50k rows over 500-file batches

  /** Synthetic far-away entries: planning metadata only — the parquet
    * files deliberately never exist, so ANY scan that fails to prune
    * them dies loudly. 100 files per batch id, ids disjoint from the
    * real rows. */
  private def fakeEntries(n: Int, from: Int = 0): Seq[ManifestSink.FileEntry] =
    (from until from + n).map { i =>
      ManifestSink.FileEntry(f"data-fake-$i%06d.parquet", 100L,
        Map("id" -> (1000000L + i * 100L)), Map("id" -> (1000000L + i * 100L + 99L)),
        Map.empty, None, 0L, Map.empty)
    }

  private def groupFiles(t: String): Set[String] = {
    val s = Files.list(root(t))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("mgroup-")).toSet
    finally s.close()
  }

  private def refs(t: String): Seq[ManifestSink.GroupRef] =
    ManifestSink.versionSections(root(t),
      ManifestSink.currentVersion(root(t)))._2

  test("a 50k-entry table plans from the manifest list: pruned groups are never read") {
    spark.sql("CREATE TABLE mtcat.db.big (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO mtcat.db.big SELECT id, id * 7 FROM range(100)")
    val st = ManifestSink.readState(root("big"))
    ManifestSink.publishCommit(root("big"), st.schema.get, truncateFirst = false,
      fakeEntries(FakeFiles), None, GcPolicy(None, 3600000L))
    // the version file is a LIST: ~(entries/groupSize) refs, not 50k lines
    val vf = ManifestSink.manifestAt(root("big"), ManifestSink.currentVersion(root("big")))
    assert(Files.size(vf) < 50000L,
      s"manifest list is ${Files.size(vf)}B — flat render would be megabytes")
    val rs = refs("big")
    assert(rs.size >= FakeFiles / ManifestSink.groupTargetSize,
      s"expected grouped entries, got ${rs.size} refs")
    // physical proof: delete every group file whose stats exclude id<100
    // (all fakes sit at id >= 1_000_000) — planning must skip them all
    import org.apache.spark.sql.sources.LessThan
    val prunable = rs.filter(r => !ManifestSink.mayMatchGroup(r, LessThan("id", 100L)))
    assert(prunable.size >= rs.size - 1, s"only ${prunable.size}/${rs.size} prunable")
    prunable.foreach(r => Files.delete(root("big").resolve(r.name)))
    val got = spark.table("mtcat.db.big").filter($"id" < 100)
      .agg(org.apache.spark.sql.functions.sum("v")).as[Long].head()
    assert(got == (0L until 100L).map(_ * 7).sum)
  }

  test("append publishes O(delta) metadata: prior groups re-referenced, one new group") {
    spark.sql("CREATE TABLE mtcat.db.delta (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO mtcat.db.delta SELECT id, id FROM range(10)")
    val st = ManifestSink.readState(root("delta"))
    ManifestSink.publishCommit(root("delta"), st.schema.get, truncateFirst = false,
      fakeEntries(5000), None, GcPolicy(None, 3600000L))
    val before = groupFiles("delta")
    val refsBefore = refs("delta").map(_.name)
    ManifestSink.publishCommit(root("delta"),
      ManifestSink.readState(root("delta")).schema.get, truncateFirst = false,
      fakeEntries(10, from = 5000), None, GcPolicy(None, 3600000L))
    val after = groupFiles("delta")
    val refsAfter = refs("delta").map(_.name)
    assert((after -- before).size == 1,
      s"append of 10 entries created ${(after -- before).size} group files")
    assert(refsBefore.toSet.subsetOf(refsAfter.toSet),
      "append must re-reference every prior group by name")
    assert(refsAfter.size == refsBefore.size + 1)
  }

  test("rollback re-references the target's groups with zero group writes") {
    spark.sql("CREATE TABLE mtcat.db.rb (id BIGINT, v BIGINT)")
    spark.range(100).selectExpr("id", "id AS v").repartition(100)
      .writeTo("mtcat.db.rb").append() // 100 real files: over the threshold
    spark.range(100, 110).selectExpr("id", "id AS v").repartition(10)
      .writeTo("mtcat.db.rb").append()
    val cur = ManifestSink.currentVersion(root("rb"))
    val targetRefs = ManifestSink.versionSections(root("rb"), cur - 1)._2.map(_.name)
    assert(targetRefs.nonEmpty, "fixture must be in grouped mode")
    val before = groupFiles("rb")
    ManifestSink.rollback(root("rb").toString, cur - 1)
    assert(groupFiles("rb") == before, "rollback must not write any group file")
    assert(refs("rb").map(_.name) == targetRefs)
    assert(spark.table("mtcat.db.rb").count() == 100L)
  }

  test("a surgical delete rewrites only the touched group") {
    spark.sql("CREATE TABLE mtcat.db.surg (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO mtcat.db.surg SELECT id, id FROM range(10)")
    val st = ManifestSink.readState(root("surg"))
    ManifestSink.publishCommit(root("surg"), st.schema.get, truncateFirst = false,
      fakeEntries(5000), None, GcPolicy(None, 3600000L))
    val refsBefore = refs("surg")
    // drop every member of ONE interior group by reference (the
    // publishReplace path a row-level rewrite uses): only that group may
    // change; every other group must survive by name
    val victim = refsBefore(2)
    val members = ManifestSink.readGroupEntries(root("surg"), victim,
      withBlooms = true)
    ManifestSink.publishReplace(root("surg"),
      ManifestSink.currentVersion(root("surg")),
      members.map(_.name).toSet, Seq.empty, GcPolicy(None, 3600000L))
    val refsAfter = refs("surg")
    assert(!refsAfter.map(_.name).contains(victim.name))
    assert(refsBefore.map(_.name).filterNot(_ == victim.name)
      .forall(refsAfter.map(_.name).contains),
      "untouched groups must survive by reference")
  }

  test("bloom sidecars load only for bloom-eligible predicates") {
    spark.sql("CREATE TABLE mtcat.db.bl (id BIGINT, s STRING) " +
      "TBLPROPERTIES ('write.bloom-columns' = 's')")
    spark.sql("INSERT INTO mtcat.db.bl SELECT id, 'real-' || id FROM range(100)")
    val st = ManifestSink.readState(root("bl"))
    // synthetic bloomed entries push the table over the inline threshold
    val bloomed = fakeEntries(2000).map { e =>
      val bits = new Array[Long](16)
      ManifestSink.bloomAdd(bits, s"fake-${e.name}")
      e.copy(blooms = Map("s" -> ManifestSink.bloomEncode(bits)))
    }
    ManifestSink.publishCommit(root("bl"), st.schema.get, truncateFirst = false,
      bloomed, None, GcPolicy(None, 3600000L))
    val withBlooms = refs("bl").filter(_.hasBlooms)
    assert(withBlooms.nonEmpty)
    // physical proof: with every bloom sidecar deleted, a stats-only
    // predicate still plans and runs (sidecars were never consulted) …
    withBlooms.foreach(r =>
      Files.delete(root("bl").resolve(ManifestSink.bloomSidecarName(r.name))))
    assert(spark.table("mtcat.db.bl").filter($"id" < 100).count() == 100L)
    // … while a bloom-eligible string-equality predicate needs them
    val err = intercept[Exception] {
      ManifestSink.plannedEntries(root("bl"), None,
        Seq(org.apache.spark.sql.sources.EqualTo("s", "real-7")))
    }
    assert(err.isInstanceOf[java.nio.file.NoSuchFileException] ||
      err.getCause.isInstanceOf[java.nio.file.NoSuchFileException])
  }

  test("session state cache: the same snapshot parses once") {
    val a = ManifestSink.readState(root("delta"))
    val b = ManifestSink.readState(root("delta"))
    assert(a eq b, "repeated readState of one (table, version) must hit the cache")
    val h1 = ManifestSink.readHeader(root("delta"))
    val h2 = ManifestSink.readHeader(root("delta"))
    assert(h1 eq h2)
  }

  test("vacuum sweeps group files only expired versions reference") {
    spark.sql("CREATE TABLE mtcat.db.gc (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO mtcat.db.gc SELECT id, id FROM range(10)")
    val st = ManifestSink.readState(root("gc"))
    ManifestSink.publishCommit(root("gc"), st.schema.get, truncateFirst = false,
      fakeEntries(2000), None, GcPolicy(None, 3600000L))
    val old = groupFiles("gc")
    // truncate: the old groups are now referenced only by expired history
    ManifestSink.publishCommit(root("gc"),
      ManifestSink.readState(root("gc")).schema.get, truncateFirst = true,
      fakeEntries(2000, from = 9000), None, GcPolicy(None, 3600000L))
    val live = refs("gc").map(_.name).toSet
    assert(live.intersect(old).isEmpty)
    val report = ManifestSink.vacuum(root("gc"), retain = 1,
      orphanGraceMs = 0L, dryRun = false)
    val sweptGroups = report.candidates.map(_.name).filter(_.startsWith("mgroup-")).toSet
    assert(old.subsetOf(sweptGroups), s"expired groups not swept: ${old -- sweptGroups}")
    assert(live.forall(n => Files.exists(root("gc").resolve(n))),
      "live groups must survive the sweep")
  }

  test("entry-group names are stable content addresses") {
    // a group's name digests its entry lines, a NUL separator and its
    // bloom lines: pinned so that a change to that input, which would
    // rename every group a writer produces, shows here
    val dir = Files.createTempDirectory("graft-mgroup")
    dir.toFile.deleteOnExit()
    val lines = ManifestSink.renderEntrySection(dir,
      fakeEntries(ManifestSink.inlineThreshold + 1), Seq.empty)
    assert(lines.filter(_.startsWith("#mgroup")).map(l =>
      ManifestSink.parseGroupRefLine(l).name) == Seq("mgroup-42c2df497e8b6226af9d22ce.txt"))
  }
}
