package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Copy-on-write row-level DELETE: affected files are rewritten into a
  * new manifest version, untouched files are carried by reference, the
  * pre-delete snapshot stays time-travelable, and a change feed across a
  * delete version fails loudly (a delete is not a delta). The SQL path
  * goes through the V2 `Predicate` overloads DIRECTLY — the suite pins
  * that an arithmetic disjunct (`c % 10 = 3`), which Spark's default
  * V2→V1 bridge silently drops, deletes exactly the right rows, and that
  * predicates outside the dialect fail the statement loudly with the
  * table untouched. */
class ManifestDeleteSpec extends AnyFunSuite {
  import graft.TestSpark.spark
  import spark.implicits._

  private val fmt = "graft.sources.ManifestSink"

  private def tmp(): Path = {
    val p = Files.createTempDirectory("manifest-del")
    p.toFile.deleteOnExit()
    p
  }

  /** Three appends with disjoint id ranges, one file each. */
  private def threeRangeFiles(dir: String): Unit =
    Seq((0L, 100L), (100L, 200L), (200L, 300L)).zipWithIndex.foreach {
      case ((lo, hi), i) =>
        spark.range(lo, hi).select(col("id"), concat(lit("s"), col("id")).as("s"))
          .coalesce(1)
          .write.format(fmt).option("path", dir)
          .mode(if (i == 0) "overwrite" else "append").save()
    }

  test("CoW delete rewrites only stats-matching files; untouched files carry by reference") {
    import org.apache.spark.sql.sources.LessThan
    val root = tmp(); val dir = root.toString
    threeRangeFiles(dir)
    val before = ManifestSink.readState(root)
    val res = ManifestSink.deleteWhere(dir, Seq(LessThan("id", 50L)))
    assert(res.deletedRows == 50L)
    assert(res.candidateFiles == 1,
      "min/max stats must rule out the two files whose id ranges are disjoint from id<50")
    assert(res.rewrittenFiles == 1)
    val after = ManifestSink.readState(root)
    assert(after.version == before.version + 1)
    // the two pruned files appear in the new manifest under their ORIGINAL
    // names — carried by reference, no data movement
    val beforeNames = before.entries.map(_.name).toSet
    assert(after.entries.count(e => beforeNames(e.name)) == 2)
    val df = spark.read.format(fmt).option("path", dir).load()
    assert(df.count() == 250)
    assert(df.agg(min("id")).head.getLong(0) == 50L)
    // pre-delete snapshot still time-travels: history is retained
    val old = spark.read.format(fmt).option("path", dir)
      .option("versionAsOf", before.version.toString).load()
    assert(old.count() == 300)
  }

  test("a no-op delete (stats may-match, zero rows match) publishes nothing") {
    import org.apache.spark.sql.sources.EqualTo
    val root = tmp(); val dir = root.toString
    threeRangeFiles(dir)
    val v = ManifestSink.currentVersion(root)
    // "s1000" sits INSIDE the string bounds of the first two files
    // (lexically, [s0, s99] and [s100, s199] both contain it) without
    // matching any row: they are stats candidates, the rewrite finds
    // nothing, and the table version must not advance. The third file
    // ([s200, s299]) prunes by bounds — and a value below every lower
    // bound, like "nope", is 0 candidates.
    val res = ManifestSink.deleteWhere(dir, Seq(EqualTo("s", "s1000")))
    assert(res.candidateFiles == 2 && res.rewrittenFiles == 0 && res.deletedRows == 0L)
    assert(ManifestSink.currentVersion(root) == v)
    val res2 = ManifestSink.deleteWhere(dir, Seq(EqualTo("s", "nope")))
    assert(res2.candidateFiles == 0 && res2.deletedRows == 0L)
    assert(ManifestSink.currentVersion(root) == v)
  }

  test("three-valued logic: NOT(col = v) over a NULL keeps the row") {
    import org.apache.spark.sql.sources.{EqualTo, Not}
    val root = tmp(); val dir = root.toString
    spark.range(30).select(col("id"),
        when(col("id") % 3 === 0, lit(null)).otherwise(lit("keep")).as("s"))
      .coalesce(1)
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    // every non-null s is "keep", so NOT(s='keep') is FALSE there and
    // UNKNOWN on the nulls — a correct evaluator deletes NOTHING
    val res = ManifestSink.deleteWhere(dir, Seq(Not(EqualTo("s", "keep"))))
    assert(res.deletedRows == 0L,
      "NOT over NULL is UNKNOWN, not TRUE — null rows must survive")
    assert(spark.read.format(fmt).option("path", dir).load().count() == 30)
  }

  test("change feed across a delete version fails loudly; windows beside it still work") {
    import org.apache.spark.sql.sources.EqualTo
    val root = tmp(); val dir = root.toString
    threeRangeFiles(dir) // v1, v2, v3
    ManifestSink.deleteWhere(dir, Seq(EqualTo("id", 150L))) // v4
    spark.range(300, 350).select(col("id"), lit("z").as("s")).coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save() // v5
    // a window WHOLLY past the delete is a clean delta
    val feed = spark.read.format(fmt).option("path", dir)
      .option("changesFromVersion", "4").load()
    assert(feed.count() == 50)
    // a window CROSSING the delete is not a delta — loud failure, no rows
    val e = intercept[Exception] {
      spark.read.format(fmt).option("path", dir)
        .option("changesFromVersion", "2").load().count()
    }
    assert(e.getMessage != null && e.getMessage.contains("not pure-append"),
      s"expected the pure-append check to fire, got: ${e.getMessage}")
  }

  test("SQL DELETE with an arithmetic disjunct deletes exactly the matching rows") {
    val wh = tmp().toString
    spark.conf.set("spark.sql.catalog.gdel", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdel.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdel.db")
    spark.sql("CREATE TABLE gdel.db.t (id BIGINT, p STRING)")
    (0L until 100L).map(i => (i, if (i % 7 == 0) "U" else "L")).toDF("id", "p")
      .writeTo("gdel.db.t").append()
    // `id % 10 = 3` has no V1 Filter form: SupportsDelete's default
    // V2→V1 bridge loses it and silently under-deletes — the direct V2
    // evaluator must not
    spark.sql("DELETE FROM gdel.db.t WHERE p = 'U' OR id % 10 = 3")
    val left = spark.sql("SELECT id FROM gdel.db.t").as[Long].collect().toSet
    val expect = (0L until 100L).filter(i => i % 7 != 0 && i % 10 != 3).toSet
    assert(left == expect, "survivors must be exactly NOT(pred)")
  }

  test("SQL DELETE outside the predicate dialect falls through to the CoW rewrite") {
    // substring() has no V2 Predicate form our metadata-coordinated
    // dialect accepts, so canDeleteWhere rejects it and Spark rewrites
    // the statement as a group-based row-level operation instead
    // (ManifestRowLevelOperation) — the DELETE still executes, copy-on-
    // write, with exactly the predicate's rows removed.
    val wh = tmp().toString
    spark.conf.set("spark.sql.catalog.gdel2", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdel2.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdel2.db")
    spark.sql("CREATE TABLE gdel2.db.t (id BIGINT, s BIGINT)")
    spark.range(20).select(col("id"), (col("id") % 7).as("s"))
      .writeTo("gdel2.db.t").append()
    spark.sql("DELETE FROM gdel2.db.t WHERE CAST(substring(CAST(s AS STRING), 1, 1) AS BIGINT) = 1")
    val left = spark.table("gdel2.db.t").select("id").as[Long].collect().toSet
    val expect = (0L until 20L).filter(i => i % 7 != 1).toSet
    assert(left == expect, "rewrite-path DELETE must remove exactly the matching rows")
  }

  /** Rows on which SQL's order differs from the JVM's: strings compare
    * by UTF-8 bytes, so U+FFFD sorts below the emoji although UTF-16
    * puts the emoji's surrogate pair first; and -0.0 = 0.0. */
  private val orderRows = Seq(("a", -0.0), ("\uFFFD", 1.0), ("\uD83D\uDE00", 2.0))
  private lazy val orderDb: String = {
    spark.conf.set("spark.sql.catalog.gdel4", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdel4.warehouse", tmp().toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdel4.db")
    "gdel4.db"
  }

  /** SQL DELETE on a copy-on-write and a merge-on-read table, and
    * `deleteWhere` with the V1 filter, each leave exactly the rows that
    * `SELECT … WHERE NOT(pred) OR pred IS NULL` returned before. */
  private def deletesAsSelectMatches(tag: String, pred: String,
      filter: org.apache.spark.sql.sources.Filter): Unit = {
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Double)] =
      df.select("s", "d").as[(String, Double)].collect().toSet
    val keepWhere = s"NOT($pred) OR ($pred) IS NULL"
    // (path, rows left, rows SELECT kept) for each of the three paths
    val sql = Seq("cow" -> "copy-on-write", "mor" -> "merge-on-read").map { case (m, mode) =>
      val t = s"$orderDb.${m}_$tag"
      spark.sql(s"CREATE TABLE $t (s STRING, d DOUBLE) " +
        s"TBLPROPERTIES ('delete.mode' = '$mode')")
      // one file: per-file string bounds would prune a lone emoji row
      orderRows.toDF("s", "d").coalesce(1).writeTo(t).append()
      val keep = rows(spark.table(t).where(keepWhere))
      spark.sql(s"DELETE FROM $t WHERE $pred")
      (s"$mode SQL DELETE", rows(spark.table(t)), keep)
    }
    val dir = tmp().toString
    orderRows.toDF("s", "d").coalesce(1)
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    def load() = spark.read.format(fmt).option("path", dir).load()
    val keep = rows(load().where(keepWhere))
    ManifestSink.deleteWhere(dir, Seq(filter))
    val wrong = (sql :+ ((s"deleteWhere($filter)", rows(load()), keep)))
      .filter { case (_, left, kept) => left != kept }
    assert(wrong.isEmpty, s"WHERE $pred: " + wrong.map { case (path, left, kept) =>
      s"$path left $left, SELECT kept $kept" }.mkString("; "))
  }

  test("DELETE orders strings by UTF-8 bytes, as SELECT does") {
    deletesAsSelectMatches("s", "s < '\uFFFD'",
      org.apache.spark.sql.sources.LessThan("s", "\uFFFD"))
  }

  test("DELETE finds -0.0 equal to 0.0, as SELECT does") {
    deletesAsSelectMatches("d", "d = 0.0D", org.apache.spark.sql.sources.EqualTo("d", 0.0))
  }

  test("SQL TRUNCATE TABLE empties the table through the delete capability") {
    val wh = tmp().toString
    spark.conf.set("spark.sql.catalog.gdel3", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdel3.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdel3.db")
    spark.sql("CREATE TABLE gdel3.db.t (id BIGINT)")
    spark.range(10).writeTo("gdel3.db.t").append()
    spark.sql("TRUNCATE TABLE gdel3.db.t")
    assert(spark.table("gdel3.db.t").count() == 0)
  }
}
