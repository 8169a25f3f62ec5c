package graft.sources

import java.nio.file.{Files, Path}
import java.util.ConcurrentModificationException

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import ManifestSink.{Commit, FileEntry, Rebase, SingleShot, TableState}

/** The commit driver every manifest publish goes through
  * ([[ManifestSink.commit]]), driven directly: in each case the body
  * publishes a competing append on its first attempt, so the CAS is
  * lost deterministically and the case observes the site policy the
  * driver applies — rebase, clean-up-and-rethrow, best-effort GC. No
  * Spark session: commits are metadata only. */
class CommitDriverSpec extends AnyFunSuite {
  private val schema = StructType(Seq(StructField("id", LongType)))
  private val keepAll = GcPolicy(None, 3600000L)

  private def entry(name: String): FileEntry = FileEntry(name, 1L, Map.empty, Map.empty)

  /** A one-version table holding `data-seed`. */
  private def table(): Path = {
    val root = Files.createTempDirectory("commit-driver")
    root.toFile.deleteOnExit()
    ManifestSink.publishCommit(root, schema, truncateFirst = true,
      Seq(entry("data-seed")), markerUpdate = None, keepAll)
    root
  }

  /** Another writer's append, published through the ordinary path. */
  private def rivalAppend(root: Path, name: String): Unit =
    ManifestSink.publishCommit(root, schema, truncateFirst = false,
      Seq(entry(name)), markerUpdate = None, keepAll)

  private def names(root: Path): Seq[String] =
    ManifestSink.committedEntries(root).map(_.name)

  /** A body that appends `mine` and, on attempt 1, lets a rival win. */
  private def appendLosingOnce(root: Path, mine: String)(
      st: TableState, attempt: Int): Commit[Int] = {
    if (attempt == 1) rivalAppend(root, "data-rival")
    Commit(st.copy(entries = st.entries :+ entry(mine)), attempt, Seq(mine))
  }

  test("(a) a rebase-retry commit lands on attempt 2 and keeps both commits") {
    val root = table()
    val landedOn = ManifestSink.commit(root, Rebase(5))(appendLosingOnce(root, "data-mine"))
    assert(landedOn == 2)
    assert(ManifestSink.currentVersion(root) == 3L)
    assert(names(root) == Seq("data-seed", "data-rival", "data-mine"))
  }

  test("(b) a single-shot commit rethrows, deletes its files, leaves the winner's table") {
    val root = table()
    Files.writeString(root.resolve("data-mine"), "staged")
    intercept[ConcurrentModificationException] {
      ManifestSink.commit(root, SingleShot)(appendLosingOnce(root, "data-mine"))
    }
    assert(!Files.exists(root.resolve("data-mine")), "the loser's declared file must be deleted")
    assert(ManifestSink.currentVersion(root) == 2L)
    assert(names(root) == Seq("data-seed", "data-rival"))
  }

  test("(c) a retention GC failure after a win never fails the commit") {
    val root = table()
    // retain = 0 makes the expiry pass throw (retain must be >= 1)
    val landedOn = ManifestSink.commit(root, Rebase(5), GcPolicy(Some(0), 0L))(
      appendLosingOnce(root, "data-mine"))
    assert(landedOn == 2)
    assert(names(root) == Seq("data-seed", "data-rival", "data-mine"))
  }

  test("(d) a retrying commit that loses every attempt throws after exactly its attempt count") {
    val root = table()
    Files.writeString(root.resolve("eqdel-mine"), "staged")
    var attempts = 0
    intercept[ConcurrentModificationException] {
      ManifestSink.commit(root, Rebase(3)) { (st, attempt) =>
        attempts = attempt
        rivalAppend(root, s"data-rival-$attempt")
        Commit(st.copy(entries = st.entries :+ entry("data-mine")), (), Seq("eqdel-mine"))
      }
    }
    assert(attempts == 3)
    assert(!Files.exists(root.resolve("eqdel-mine")), "the loser's declared file must be deleted")
    assert(names(root) == Seq("data-seed", "data-rival-1", "data-rival-2", "data-rival-3"))
  }
}
