package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.read.{streaming => readstreaming}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** DataSource V2 WRITE path (the sink-side completion of FanoutSource's
  * read ladder): an atomically-committed manifest table.
  *
  * The commit protocol is the point — it is the Iceberg/Delta shape in
  * miniature:
  *
  *   - each task writes its own uniquely-named data file and reports it
  *     in a [[WriterCommitMessage]]; a retried/speculative attempt writes
  *     a DIFFERENT file, so concurrent attempts never collide
  *   - a failed task's `abort()` deletes its file; a failed JOB's
  *     `abort()` deletes every reported file
  *   - `commit()` makes the new files visible by publishing a NEW
  *     immutable manifest version (old manifest's files + this write's
  *     files, or just this write's after truncate) via a compare-and-swap
  *     on the version number — readers only ever list files FROM the
  *     highest manifest version, so a half-finished or aborted write is
  *     invisible, stray files in the directory are ignored, and a
  *     concurrent publish by another job fails LOUDLY (the losing
  *     commit throws) instead of silently dropping the winner's files
  *
  * Every metadata commit — appends, overwrites, deletes, ALTERs, tags,
  * OPTIMIZE, rollback — goes through ONE driver ([[ManifestSink.commit]])
  * that renders the version, CAS-publishes it and applies the site's
  * loss policy: rebase (re-read the table and re-apply, backing off
  * briefly so contending committers de-synchronize) or single shot
  * (delete the files this commit wrote and rethrow). Retention GC runs
  * only after a win and is best-effort: the table is already
  * consistent, so a cleanup failure is logged and never fails the
  * commit.
  *
  * On-disk format, the only one: versioned manifests
  * `manifest-v<N>.txt` (schema line, header lines, entries — see the
  * format note in the companion object) naming PARQUET data files,
  * written with Spark's own row encoding
  * ([[graft.sources.ManifestParquet]]) and read through Spark's
  * vectorized columnar decoder with column pruning — a manifest-table
  * scan pays what a native parquet scan pays. Supported field types:
  * long, int, double, boolean, string.
  *
  * Usage:
  *   df.write.format("graft.sources.ManifestSink")
  *     .option("path", dir).mode("append" | "overwrite").save()
  *   spark.read.format("graft.sources.ManifestSink")
  *     .option("path", dir).load()
  *   spark.read.format("graft.sources.ManifestSink")        // time travel
  *     .option("path", dir).option("versionAsOf", "1").load()
  *   df.writeStream.format("graft.sources.ManifestSink")    // exactly-once
  *     .option("path", dir).option("checkpointLocation", ckpt).start()
  *   spark.read.format("graft.sources.ManifestSink")        // change feed
  *     .option("path", dir).option("changesFromVersion", "2").load()
  */
class ManifestSink extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val props = options.asScala.asJava
    val base =
      ManifestSink.readSchema(ManifestSink.root(props), ManifestSink.versionAsOf(props))
    if (ManifestSink.cdcMode(props))
      base.add(StructField(ManifestSink.ChangeTypeColumn, StringType, nullable = false))
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ManifestTable(ManifestSink.root(properties), schema,
      ManifestSink.versionAsOf(properties), ManifestSink.changesRange(properties),
      cdc = ManifestSink.cdcMode(properties))
}

object ManifestSink {
  private[sources] def root(properties: util.Map[String, String]): Path = {
    val p = properties.get("path")
    require(p != null && p.nonEmpty, "graft.sources.ManifestSink requires a `path` option")
    Paths.get(p)
  }

  /** Time travel: `.option("versionAsOf", N)` pins reads to manifest
    * version N — versions are immutable and carry their own schema, so a
    * pinned read is a fully consistent historical snapshot (the Iceberg
    * `VERSION AS OF` shape). Writes ignore the option; N must exist. */
  private[sources] def versionAsOf(properties: util.Map[String, String]): Option[Long] =
    Option(properties.get("versionAsOf")).map { s =>
      val v = s.toLong
      require(v >= 1, s"versionAsOf must be >= 1, got $v")
      v
    }

  /** Change feed: `.option("changesFromVersion", N)` (+ optional
    * `changesToVersion`, default current) reads ONLY the rows added
    * after version N — the incremental-consumption primitive (Delta CDF's
    * insert-only shape): a downstream pipeline processes each publish's
    * delta without rescanning the table. Valid only across a pure-append
    * window; a truncate or retention GC inside it fails loudly rather
    * than returning a wrong (non-delta) answer. */
  private[sources] def changesRange(properties: util.Map[String, String]): Option[(Long, Long)] =
    Option(properties.get("changesFromVersion")).map { s =>
      val from = s.toLong
      require(from >= 0, s"changesFromVersion must be >= 0, got $from")
      val to = Option(properties.get("changesToVersion")).map(_.toLong).getOrElse(-1L)
      // an explicit upper bound must name a real version: 0 would
      // silently resolve to the CURRENT snapshot (version 0 means "no
      // table yet" internally), turning an empty delta into the whole
      // table
      require(to == -1L || to >= 1, s"changesToVersion must be >= 1, got $to")
      (from, to)
    }

  /** Name of the change-feed row-kind metadata column. */
  private[sources] val ChangeTypeColumn = "_change_type"

  /** `changeFeedMode=cdc` turns the version-window read into a ROW
    * change feed: appended files arrive as `insert` rows and
    * merge-on-read deletes as `delete` rows (the deleted row images,
    * read back from the base file at the deletion vector's new
    * positions), with [[ChangeTypeColumn]] appended to the schema —
    * the Delta CDF shape. Copy-on-write rewrites still fail loudly: a
    * replaced file's row-level diff is not reconstructible from
    * metadata, and guessing would corrupt every downstream fold. */
  private[sources] def cdcMode(properties: util.Map[String, String]): Boolean =
    Option(properties.get("changeFeedMode")) match {
      case None => false
      case Some(m) =>
        require(m == "append" || m == "cdc",
          s"changeFeedMode must be 'append' or 'cdc', got '$m'")
        require(m == "append" || properties.get("changesFromVersion") != null,
          "changeFeedMode=cdc requires changesFromVersion")
        m == "cdc"
    }

  /** One change-feed read unit: a file to read, the change kind of its
    * rows, and — for deletes — the exact 0-based positions to emit
    * (the NEWLY deleted ones of this version step). */
  private[sources] case class CdcSlice(entry: FileEntry, change: String,
      emit: Option[Array[Long]])

  /** The row change feed between versions (see [[cdcMode]]): a
    * version-by-version walk like [[addedEntries]], but a deletion-
    * vector change becomes a `delete` slice (positions = new minus old)
    * instead of a loud failure. Rewrites contribute nothing; removed
    * files still fail. Insert slices carry their entry's DV as of the
    * ADD version (physically-present rows at publication are the
    * insert). */
  /** The shared version-by-version walk under both change-feed readers
    * ([[addedEntries]] and [[cdcSlices]] — ONE skeleton so the plain
    * feed and the CDC feed can never disagree about a window): resolves
    * the window, fails loudly on retention gaps, treats `#rewrite`
    * versions as contributing nothing after checking they preserved the
    * live row count, and hands every other (prev, after, v) step to the
    * caller. */
  private def versionWalk[A](root: Path, from: Long, to0: Long)(
      step: (Seq[FileEntry], Seq[FileEntry], Long) => Seq[A]): Seq[A] = {
    val to = if (to0 < 0) currentVersion(root) else to0
    require(from <= to, s"changesFromVersion $from is past changesToVersion $to")
    require(from == 0L || Files.exists(manifestAt(root, from)),
      s"changesFromVersion $from does not exist for manifest table $root " +
        "(expired by retention GC?) — cannot compute a change feed")
    var prev: Seq[FileEntry] =
      if (from == 0L) Seq.empty else committedEntries(root, Some(from))
    var prevEq: Set[String] =
      if (from == 0L) Set.empty
      else readHeader(root, Some(from)).eqDels.map(_.name).toSet
    (from + 1 to to).flatMap { v =>
      require(Files.exists(manifestAt(root, v)),
        s"manifest version $v of table $root is missing (expired by " +
          "retention GC?) — cannot compute a change feed across the gap")
      val after = committedEntries(root, Some(v))
      // an equality-delete record appearing (or being materialized away)
      // in this step is a row-level data change whose row images are NOT
      // reconstructible from keys without reading data — the feed's
      // whole point is to avoid that. Fail loudly, like CoW rewrites.
      val curEq = readHeader(root, Some(v)).eqDels.map(_.name).toSet
      require(curEq == prevEq,
        s"manifest table $root has an EQUALITY DELETE between v${v - 1} and " +
          s"v$v — its row diff is keys-only and cannot be replayed as a " +
          "delta; read the snapshot instead")
      prevEq = curEq
      val out: Seq[A] =
        if (isRewriteVersion(root, v)) {
          require(after.map(_.liveRows).sum == prev.map(_.liveRows).sum,
            s"rewrite version $v of manifest table $root changed the row " +
              "count — a compaction must preserve data exactly")
          Seq.empty
        } else step(prev, after, v)
      prev = after
      out
    }
  }

  private[sources] def cdcSlices(root: Path, from: Long, to0: Long): Seq[CdcSlice] =
    versionWalk(root, from, to0) { (prev, after, v) =>
      {
          val afterNames = after.map(_.name).toSet
          val prevByName = prev.map(e => e.name -> e).toMap
          val prevNames = prevByName.keySet
          val dropped = prev.filterNot(e => afterNames(e.name))
          val addedFiles = after.filterNot(e => prevNames(e.name))
          // a step that BOTH removes and adds files is a copy-on-write
          // rewrite: the removed rows and the re-added survivors cannot
          // be told apart from metadata, so the feed refuses. A step
          // that ONLY removes files is a full-file delete (a
          // merge-on-read delete covering every live row, a metadata
          // partition delete, or a truncate): every live row of each
          // removed file is a delete-row image, read from the still-
          // on-disk file (retention GC keeps it while the version that
          // referenced it is retained).
          require(dropped.isEmpty || addedFiles.isEmpty,
            s"manifest table $root is not pure-append between v${v - 1} and v$v " +
              s"(files removed: ${dropped.take(3).map(_.name).mkString(", ")}…) — " +
              "the change feed cannot reconstruct a copy-on-write rewrite's " +
              "row diff; use merge-on-read deletes or read the snapshot instead")
          // FULL-FILE drop slices of files governed by an OUTSTANDING
          // equality-delete record are not replayable: their live-
          // position arithmetic (all physical rows minus the DV) counts
          // positions the record already hid from every snapshot
          // reader — emitting them would double-retract rows a consumer
          // never saw. DV-DIFF deletes stay safe: merge-on-read deletes
          // skip eq-hidden rows at write time, so new positions are
          // always visible ones. Insert slices are safe by sequencing.
          val recs = readHeader(root, Some(v)).eqDels
          dropped.filter(pe => recs.exists(_.seq > pe.seq)).take(1).foreach { g =>
            throw new IllegalStateException(
              s"manifest table $root removes file ${g.name} between " +
                s"v${v - 1} and v$v while an equality-delete record governs " +
                "it — its live-row images include positions the record " +
                "already hid from snapshot readers; OPTIMIZE to materialize " +
                "the records, then stream from the new state")
          }
          val dropSlices = dropped.map { pe =>
            val oldPos = pe.dvName
              .map(n => readDvPositions(root.resolve(n)).toSet)
              .getOrElse(Set.empty[Long])
            // live positions of the removed file — bounded by one
            // file's row count (a ~1M-row file costs an 8 MB position
            // array in the one task that reads it)
            val live = (0L until pe.rows).filterNot(oldPos).toArray
            CdcSlice(pe.copy(dvName = None, dvRows = 0L), "delete", Some(live))
          }
          val inserts = addedFiles.map(e => CdcSlice(e, "insert", None))
          val deletes = after.flatMap { e =>
            prevByName.get(e.name).flatMap { pe =>
              if ((pe.dvName, pe.dvRows) == ((e.dvName, e.dvRows))) None
              else {
                val oldPos = pe.dvName
                  .map(n => readDvPositions(root.resolve(n)).toSet)
                  .getOrElse(Set.empty[Long])
                val newPos = e.dvName
                  .map(n => readDvPositions(root.resolve(n)).toSet)
                  .getOrElse(Set.empty[Long])
                val added = (newPos -- oldPos).toArray.sorted
                if (added.isEmpty) None
                else Some(CdcSlice(e, "delete", Some(added)))
              }
            }
          }
          inserts ++ deletes ++ dropSlices
      }
    }

  /** Files added between versions `from` and `to` (pure-append check
    * included). `from` = 0 means "since the empty table".
    *
    * The walk is VERSION-BY-VERSION, not a two-point diff, because a
    * [[compact]] rewrite in the window replaces small files with merged
    * ones without changing a single row: a two-point name diff would
    * either reject the window as "not pure-append" or, worse, emit the
    * merged files as if they were new data. Each non-rewrite step
    * contributes exactly the files it appended (still checked
    * pure-append); each `#rewrite` step contributes NOTHING and is
    * instead checked to preserve the total row count. The change feed
    * therefore yields the rows as they were ORIGINALLY appended — the
    * pre-compaction files — which retention GC keeps alive exactly as
    * long as the versions that reference them. */
  private[sources] def addedEntries(root: Path, from: Long, to0: Long): Seq[FileEntry] =
    versionWalk(root, from, to0) { (prev, after, v) =>
      val afterNames = after.map(_.name).toSet
      val dropped = prev.map(_.name).filterNot(afterNames)
      require(dropped.isEmpty,
        s"manifest table $root is not pure-append between v${v - 1} and v$v " +
          s"(files removed: ${dropped.take(3).mkString(", ")}…) — a change feed " +
          "across a truncate would not be a delta; read the snapshot instead")
      // a merge-on-read DELETE keeps every file name in place and
      // only re-points deletion vectors — without this check the
      // name diff would wave the version through and the feed would
      // silently NEVER deliver the deletes
      val prevDv = prev.map(e => e.name -> (e.dvName, e.dvRows)).toMap
      val dvChanged = after.filter(e =>
        prevDv.get(e.name).exists(_ != ((e.dvName, e.dvRows))))
      require(dvChanged.isEmpty,
        s"manifest table $root has a merge-on-read delete between v${v - 1} " +
          s"and v$v (deletion vectors changed on: " +
          s"${dvChanged.take(3).map(_.name).mkString(", ")}…) — an append-only " +
          "change feed across a row-level delete would not be a delta; use " +
          "changeFeedMode=cdc or read the snapshot instead")
      val prevNames = prev.map(_.name).toSet
      after.filterNot(e => prevNames(e.name))
    }

  // ---- versioned manifests + CAS publish --------------------------------
  //
  // Manifests are immutable, monotonically versioned files
  // (`manifest-v000001.txt`, ...); readers resolve the highest version.
  // A commit publishes version N+1 only if it read version N — two
  // concurrent jobs publishing to the same table race to create the SAME
  // v(N+1) name, and exactly one wins; the loser's commit throws instead
  // of silently dropping the winner's files (the reference's git-push
  // analog: generate.sh:13-17 fails loudly on a non-fast-forward).
  // CREATE TABLE and every save() publish v1, so version 0 means "no
  // table here yet".
  //
  // A versioned manifest's FIRST line is the table schema (single-line
  // Spark DataType JSON); optional `#epoch<TAB>queryId<TAB>epochId`
  // marker lines follow (streaming exactly-once bookkeeping, one line
  // per streaming query that has EVER committed — bounded by the number
  // of distinct checkpoint lineages, not by epochs, so growth is
  // negligible next to the file entries; see [[ManifestStreamingWrite]]),
  // then the file entries. Schema, markers
  // and file list therefore publish in ONE atomic unit — a reader
  // concurrent with a truncate-with-new-schema can never see the new
  // schema against the old file list or vice versa, and an epoch can
  // never be marked committed without its files being visible.

  private val ManifestVersionRe = "manifest-v([0-9]+)\\.txt".r

  private[sources] def manifestAt(root: Path, v: Long): Path =
    root.resolve(f"manifest-v$v%06d.txt")

  private[sources] def currentVersion(root: Path): Long =
    if (!Files.isDirectory(root)) 0L
    else {
      val s = Files.list(root)
      try s.iterator().asScala.foldLeft(0L) { (acc, p) =>
        p.getFileName.toString match {
          case ManifestVersionRe(n) => math.max(acc, n.toLong)
          case _ => acc
        }
      } finally s.close()
    }

  /** Compare-and-swap publish of manifest version `expectedVersion + 1`.
    * `content` must start with the schema line (see the format note
    * above); [[commit]] is the assembler and the only caller.
    *
    * `Files.createLink` is the atomic create-if-absent primitive:
    * ATOMIC_MOVE without REPLACE_EXISTING is NOT safe here because on
    * POSIX it maps to rename(2), which silently replaces an existing
    * target. The content is staged in a tmp file and hard-linked to the
    * versioned name, so readers see either nothing or the full manifest.
    */
  private[sources] def publish(root: Path, expectedVersion: Long, content: String): Unit = {
    val target = manifestAt(root, expectedVersion + 1)
    val tmp = root.resolve(s"manifest.tmp-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, content)
    try Files.createLink(target, tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"concurrent publish to manifest table $root: version ${expectedVersion + 1} " +
            "was committed by another writer since this job read the table state; " +
            "re-run the write against the new state")
    } finally Files.deleteIfExists(tmp)
  }

  /** What a [[commit]] does when another writer published first. */
  private[sources] sealed trait OnLoss

  /** Re-read the table and re-run the body on the new state, up to
    * `attempts` tries in all, backing off 5 ms × attempt so contending
    * committers de-synchronize. `when(lost, now)` — the state the losing
    * attempt built on, and the winner's — false makes the loss final at
    * once. The rule that makes a rebase sound is the site's: its effect
    * must not depend on what the winner changed. */
  private[sources] case class Rebase(attempts: Int,
      when: (TableState, TableState) => Boolean = (_, _) => true) extends OnLoss

  /** One attempt only: the body decided from a state that no longer
    * holds, so the loss is the caller's to re-run. */
  private[sources] case object SingleShot extends OnLoss

  /** One attempt's outcome: `next` is the version to publish (schema,
    * header, entries and the entry groups to re-reference), `result` is
    * what the caller gets back, and `files` are the files this commit
    * wrote — deleted when the commit loses for good. */
  private[sources] case class Commit[A](next: TableState, result: A,
      files: Seq[String] = Seq.empty)

  /** A table's schema, or the one loud failure for a directory that
    * holds no table. */
  private def schemaOf(root: Path, st: TableState): StructType =
    st.schema.getOrElse(throw new IllegalStateException(
      s"manifest table $root has no schema"))

  /** The commit driver: every manifest version is published here. The
    * first attempt runs `body` on `first` (the state the caller already
    * read) or on a fresh read; each attempt renders
    * `schema +: [#rewrite] +: header ++ entries` from the body's `next`
    * and CAS-publishes it against the state the body ran on. A lost CAS
    * follows `onLoss`; a final loss deletes the attempt's `files` and
    * rethrows the [[java.util.ConcurrentModificationException]]. After a
    * win, `gc.retainVersions` expiry runs best-effort. `body` receives
    * the attempt number (1-based). */
  private[sources] def commit[A](root: Path, onLoss: OnLoss,
      gc: GcPolicy = GcPolicy(None, 0L), rewrite: Boolean = false,
      first: Option[TableState] = None)(
      body: (TableState, Int) => Commit[A]): A = {
    var st = first.getOrElse(readState(root))
    var attempt = 1
    var won: Option[A] = None
    while (won.isEmpty) {
      val c = body(st, attempt)
      val head = schemaOf(root, c.next).json +: (if (rewrite) Seq(RewriteMarker) else Nil)
      try {
        publish(root, st.version, ((head ++ c.next.metaLines) ++
          renderEntrySection(root, c.next.entries, c.next.groups)).mkString("\n"))
        won = Some(c.result)
      } catch { case e: java.util.ConcurrentModificationException =>
        val now = onLoss match {
          case Rebase(n, when) if attempt < n =>
            Thread.sleep(5L * attempt)
            Some(readState(root)).filter(when(st, _))
          case _ => None
        }
        st = now.getOrElse {
          c.files.foreach(f => Files.deleteIfExists(root.resolve(f)))
          throw e
        }
        attempt += 1
      }
    }
    gc.retainVersions.foreach { k =>
      try expireVersions(root, k, gc.orphanGraceMs)
      catch { case e: Exception =>
        System.err.println(s"manifest GC for $root failed (table unaffected): ${e.getMessage}")
      }
    }
    won.get
  }

  /** Write-option parser for [[GcPolicy]]. */
  private[sources] def gcPolicy(options: util.Map[String, String]): GcPolicy = {
    val retain = Option(options.get("retainVersions")).map { s =>
      val k = s.toInt
      require(k >= 1, s"retainVersions must be >= 1, got $k")
      k
    }
    val grace = Option(options.get("gcGraceMs")).map(_.toLong).getOrElse(3600L * 1000)
    GcPolicy(retain, grace)
  }

  /** One file the retention sweep would remove. `kind` is `manifest`
    * (an expired versioned manifest), `data` (a data file no retained
    * version references), `dv`, `eqdel` or `lineage` (an unreferenced
    * sidecar), or `tmp` (an orphaned staging file). */
  case class GcCandidate(kind: String, name: String, bytes: Long)

  /** What a [[vacuum]] pass found (and, when not a dry run, removed). */
  case class VacuumReport(dryRun: Boolean, candidates: Seq[GcCandidate]) {
    def reclaimableBytes: Long = candidates.map(_.bytes).sum
  }

  /** Enumerate what expiring versions older than the `retain` most
    * recent would delete, WITHOUT deleting anything: expired manifests,
    * data files referenced by no retained version (past `orphanGraceMs`,
    * so an in-flight concurrent writer's not-yet-committed files
    * survive), and orphaned staging files. */
  private def gcPlan(root: Path, retain: Int,
      orphanGraceMs: Long): Seq[(Path, GcCandidate)] = {
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val current = currentVersion(root)
    val cutoff = current - retain // expire versions <= cutoff
    if (cutoff < 1L) return Seq.empty
    // a LIVE branch pins its anchor version (the branch read resolves
    // the anchor snapshot) and every file its staged commits reference —
    // retention must not destroy a staging lane mid-audit; DROPPED
    // branches release both, and their data files age into the ordinary
    // orphan sweep below
    val branches = listBranches(root)
    val branchAnchors = branches.map(b => branchBase(root, b)).toSet
    // TAGGED versions are pinned exactly like live branch anchors: a
    // tag is a promise that VERSION AS OF '<name>' keeps resolving
    val tagPins = tagsOf(root).values.toSet
    val pins = branchAnchors ++ tagPins
    val survivors = ((cutoff + 1 to current) ++ pins.filter(_ <= cutoff))
      .filter(v => Files.exists(manifestAt(root, v)))
    val referenced = (survivors.flatMap(v => committedEntries(root, Some(v))) ++
        branches.flatMap(b => branchEntries(root, b)))
      .flatMap(e => e.name +: (e.dvName.toSeq ++ e.lineageRef.toSeq)).toSet ++
      survivors.flatMap(v => readHeader(root, Some(v)).eqDels.map(_.name)).toSet
    // entry-group files (and their bloom sidecars) referenced by any
    // surviving manifest list stay; the rest expired with their versions
    val liveGroups = survivors
      .flatMap(v => versionSections(root, v)._2)
      .flatMap(r => Seq(r.name, bloomSidecarName(r.name))).toSet
    // one directory listing drives ALL sweeps — a blind 1..cutoff
    // delete loop would cost O(currentVersion) syscalls per commit on a
    // long-lived table, even though steady-state leaves only one
    // expirable version per GC pass
    val now = System.currentTimeMillis()
    def pastGrace(p: Path): Boolean =
      now - Files.getLastModifiedTime(p).toMillis >= orphanGraceMs
    def size(p: Path): Long = try Files.size(p) catch { case _: Exception => 0L }
    def cand(p: Path, kind: String) = (p, GcCandidate(kind, p.getFileName.toString, size(p)))
    val buf = Seq.newBuilder[(Path, GcCandidate)]
    val s = Files.list(root)
    try s.iterator().asScala.foreach { p =>
      p.getFileName.toString match {
        case ManifestVersionRe(n) if n.toLong <= cutoff &&
            !pins(n.toLong) => buf += cand(p, "manifest")
        case n if n.startsWith("mgroup-") && !liveGroups(n) && pastGrace(p) =>
          buf += cand(p, "manifest")
        case n if n.startsWith("data-") && !referenced(n) && pastGrace(p) =>
          buf += cand(p, "data")
        // deletion-vector sidecars referenced by no retained version
        // (their entry was purged, rewritten or superseded by a newer DV)
        case n if n.startsWith("dv-") && !referenced(n) && pastGrace(p) =>
          buf += cand(p, "dv")
        // equality-delete sidecars whose record no retained version
        // carries (materialized by OPTIMIZE, or their versions expired)
        case n if n.startsWith("eqdel-") && !referenced(n) && pastGrace(p) =>
          buf += cand(p, "eqdel")
        // lineage spill sidecars whose entry no retained version carries
        // (rewritten away, or the spill's tmp staging died mid-move)
        case n if n.startsWith("lineage-") && !referenced(n) && pastGrace(p) =>
          buf += cand(p, "lineage")
        // staging leftovers of writers that died between writeString and
        // link/move accumulate forever without this sweep; the same grace
        // window that protects an in-flight writer's data files protects
        // its staged manifest (`schema.json.tmp-` files are orphans of
        // the schema side-car that older writers also kept)
        case n if (n.startsWith("manifest.tmp-") || n.startsWith("schema.json.tmp-")) &&
            pastGrace(p) =>
          buf += cand(p, "tmp")
        case _ => ()
      }
    } finally s.close()
    buf.result()
  }

  /** Retention GC with an operator-reviewable preview. `dryRun = true`
    * lists exactly what a real pass would delete — file kind, name,
    * bytes — and touches nothing, so a human can review the sweep the
    * way the reference's publish flow reviews a git diff before a cron
    * commit ([/root/reference/src/rotterdam_swimming_advice.py:248-296]'s
    * human-gated publish). `dryRun = false` performs the deletions and
    * reports what was removed. Also reachable from SQL:
    * `CALL graft.system.vacuum(table => 'db.t', retain => 3)`. */
  def vacuum(root: Path, retain: Int, orphanGraceMs: Long = 3600L * 1000,
      dryRun: Boolean = true): VacuumReport = {
    val plan = gcPlan(root, retain, orphanGraceMs)
    if (!dryRun) plan.foreach { case (p, _) => Files.deleteIfExists(p) }
    VacuumReport(dryRun, plan.map(_._2))
  }

  /** Expire manifest versions older than the `retain` most recent ones
    * and sweep unreferenced data / orphaned tmp files (see [[gcPlan]]).
    * [[commit]] runs it after a won publish and only logs its failures. */
  private[sources] def expireVersions(root: Path, retain: Int, orphanGraceMs: Long): Unit =
    vacuum(root, retain, orphanGraceMs, dryRun = false)

  /** Characters that would corrupt the manifest stats encoding
    * (`name:value,name:value<TAB>...`) if they appeared in a column name.
    * Rejected at write-build time so a bad name fails fast instead of
    * bricking every subsequent read with NumberFormatException. */
  private[sources] def requireSafeColumnNames(schema: StructType): Unit =
    schema.fields.foreach { f =>
      require(!f.name.exists(c => c == ':' || c == ',' || c == '\t' || c == '\n'),
        s"ManifestSink column name '${f.name}' contains a manifest delimiter " +
          "(one of ':', ',', tab, newline) — rename the column before writing")
    }

  // ---- snapshot tags -----------------------------------------------------
  //
  // A TAG is a named IMMUTABLE reference to one manifest version (the
  // Iceberg tag shape, public knowledge) — "the snapshot we trained
  // run X on", "the audited quarterly close". Tags live as reserved
  // table properties (`graft.tag.<name>` -> version), so they ride the
  // ordinary props persistence: one metadata-only CAS commit to create
  // or drop, visible in SHOW TBLPROPERTIES, resolved by
  // `VERSION AS OF '<name>'`, and PINNED by vacuum exactly like a live
  // branch anchor (retention must never destroy a tagged snapshot).
  // The prefix is reserved from SET TBLPROPERTIES (a forged tag would
  // dodge the existence check and could pin nothing).

  private[sources] val TagPropPrefix = "graft.tag."

  /** Current tags of a table: name -> pinned version. */
  def tagsOf(root: Path): Map[String, Long] =
    readState(root).props.collect {
      case (k, v) if k.startsWith(TagPropPrefix) =>
        k.stripPrefix(TagPropPrefix) -> v.toLong
    }

  /** Create tag `name` at `at` (default: the current version). One
    * metadata-only CAS commit; returns the pinned version. Refuses a
    * duplicate tag, a live branch's name (one namespace for
    * `VERSION AS OF` strings), and a target that never existed or has
    * already expired. */
  def createTag(tablePath: String, name: String, at: Option[Long] = None): Long = {
    val root = Paths.get(tablePath)
    require(name.matches("[A-Za-z0-9_-]{1,64}"),
      s"tag name '$name' must match [A-Za-z0-9_-]{1,64}")
    commit(root, Rebase(5)) { (st, _) =>
      val v = at.getOrElse(st.version)
      require(v >= 1L && v <= st.version,
        s"tag target v$v does not exist (table is at v${st.version})")
      require(Files.exists(manifestAt(root, v)),
        s"tag target v$v has been expired by retention — nothing to pin")
      require(!st.props.contains(TagPropPrefix + name),
        s"tag '$name' already exists (tags are immutable — drop it first)")
      require(!listBranches(root).contains(name),
        s"'$name' is a live branch — tags and branches share the " +
          "VERSION AS OF namespace")
      Commit(st.copy(props = st.props + (TagPropPrefix + name -> v.toString)), v)
    }
  }

  /** Drop tag `name` (metadata-only); returns the version it pinned.
    * The snapshot ages into ordinary retention from the next vacuum. */
  def dropTag(tablePath: String, name: String): Long = {
    val root = Paths.get(tablePath)
    commit(root, Rebase(5)) { (st, _) =>
      val key = TagPropPrefix + name
      val v = st.props.getOrElse(key,
        throw new IllegalArgumentException(s"no tag '$name' on $tablePath " +
          s"(tags: ${st.props.keys.filter(_.startsWith(TagPropPrefix))
            .map(_.stripPrefix(TagPropPrefix)).mkString(", ")})")).toLong
      Commit(st.copy(props = st.props - key), v)
    }
  }

  // ---- WAP branches ------------------------------------------------------
  //
  // Write-audit-publish staging lanes (the Iceberg branch/WAP shape,
  // public knowledge): a BRANCH is an append-only side chain anchored at
  // the main version it was created from. Branch commits are versioned
  // files `manifest-b-<name>-v%06d.txt` in the table directory — the
  // name pattern is invisible to [[ManifestVersionRe]], so main readers
  // can never resolve them, and each publishes under the same
  // createLink CAS as main versions. A branch version file holds ONE
  // `#branchbase` header line (v1 records the anchor; later versions
  // repeat it) plus the entry lines of THAT commit only, so a branch
  // append's lost CAS retries trivially: re-read the branch head and
  // re-link the same content at the next number (entry sets are
  // attempt-unique and disjoint, the same rebase rule as main appends).
  //
  // Branch READ = anchor snapshot (pinned to the base version) + the
  // union of all branch commits' entries. Branch data files live in the
  // table directory like any others — invisible until some manifest
  // (branch or, after fast-forward, main) references them. FAST-FORWARD
  // publishes main's next version as base-state + branch entries in one
  // CAS against the anchor version, so it succeeds only while main
  // still stands at the anchor — any main commit since staging began
  // (including ALTERs: they bump the version) fails the publish loudly,
  // which is exactly Iceberg's fast-forward-only guarantee. DROP is
  // metadata-only (delete the branch manifests); the staged data files
  // become orphans that [[vacuum]] sweeps after the grace window, while
  // a LIVE branch's files and its anchor manifest are vacuum-protected
  // (see [[gcPlan]]).
  //
  // Branches are APPEND-ONLY by design: WAP stages new data for audit.
  // Truncate/overwrite/row-level ops on a branch are rejected at build
  // time — auditing a destructive change is a rollback story
  // ([[rollback]]), not a staging one.

  private val BranchNameRe = "[A-Za-z0-9_][A-Za-z0-9_-]{0,63}".r
  private val BranchFileRe = "manifest-b-([A-Za-z0-9_-]+)-v([0-9]+)\\.txt".r
  private val BranchBasePrefix = "#branchbase\t"

  private[sources] def requireBranchName(name: String): Unit =
    require(BranchNameRe.pattern.matcher(name).matches(),
      s"invalid branch name '$name' (allowed: [A-Za-z0-9_-], max 64 chars)")

  private[sources] def branchManifestAt(root: Path, name: String, v: Long): Path =
    root.resolve(f"manifest-b-$name-v$v%06d.txt")

  private[sources] def branchCurrentVersion(root: Path, name: String): Long =
    if (!Files.isDirectory(root)) 0L
    else {
      val s = Files.list(root)
      try s.iterator().asScala.foldLeft(0L) { (acc, p) =>
        p.getFileName.toString match {
          case BranchFileRe(n, v) if n == name => math.max(acc, v.toLong)
          case _ => acc
        }
      } finally s.close()
    }

  private[sources] def listBranches(root: Path): Seq[String] =
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val s = Files.list(root)
      try s.iterator().asScala.flatMap(p => p.getFileName.toString match {
        case BranchFileRe(n, _) => Some(n)
        case _ => None
      }).toSeq.distinct.sorted
      finally s.close()
    }

  /** Create branch `name` anchored at the CURRENT main version. The v1
    * file is the branch's existence token and records the anchor; the
    * createLink CAS makes double-create loud. Returns the anchor. */
  def createBranch(root: Path, name: String): Long = {
    requireBranchName(name)
    val base = currentVersion(root)
    require(base >= 1L, s"no manifest table at $root to branch from")
    require(branchCurrentVersion(root, name) == 0L,
      s"branch '$name' already exists on $root")
    val tmp = root.resolve(s"manifest.tmp-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, s"$BranchBasePrefix$base")
    try Files.createLink(branchManifestAt(root, name, 1L), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"branch '$name' was concurrently created on $root")
    } finally Files.deleteIfExists(tmp)
    base
  }

  /** The main version branch `name` is anchored at (from its v1 file). */
  private[sources] def branchBase(root: Path, name: String): Long = {
    val v1 = branchManifestAt(root, name, 1L)
    require(Files.exists(v1), s"no branch '$name' on manifest table $root " +
      s"(branches: ${listBranches(root).mkString(", ")})")
    Files.readString(v1).linesIterator
      .find(_.startsWith(BranchBasePrefix))
      .map(_.stripPrefix(BranchBasePrefix).trim.toLong)
      .getOrElse(throw new IllegalStateException(
        s"branch file $v1 has no $BranchBasePrefix header"))
  }

  /** Union of every branch commit's entries, in commit order. Entries
    * carry the data sequence fastForward WILL publish them with
    * (anchor + 1): a branch AUDIT read and the post-publish table must
    * agree on which equality-delete records govern staged rows —
    * records outstanding at the anchor never do. */
  private[sources] def branchEntries(root: Path, name: String): Seq[FileEntry] = {
    val cur = branchCurrentVersion(root, name)
    val base = branchBase(root, name)
    (1L to cur).flatMap { v =>
      val lines = Files.readString(branchManifestAt(root, name, v))
        .linesIterator.toSeq
      checkMinReader(lines, s"$root branch $name@v$v")
      lines.filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(l => parseEntryLine(l).copy(seq = base + 1L))
    }
  }

  /** Publish one append commit onto branch `name`: schema must match the
    * ANCHOR snapshot's (branches never evolve schema — that is a main
    * commit, which then blocks fast-forward as it must), and the CAS
    * retries a lost race by re-linking the same content at the next
    * branch version (entry sets are disjoint across writers). */
  private[sources] def appendToBranch(root: Path, name: String,
      schema: StructType, newEntries: Seq[FileEntry]): Unit = {
    val base = branchBase(root, name)
    val baseSchema = readSchema(root, Some(base))
    require(baseSchema.fields.map(f => (f.name, f.dataType)).toSeq ==
        schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"branch append schema $schema does not match branch '$name' " +
        s"anchor schema $baseSchema")
    val content =
      (s"$BranchBasePrefix$base" +: (minReaderLines(newEntries) ++
        newEntries.map(entryLine))).mkString("\n")
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      // a branch being fast-forwarded is CLOSED: a late append must
      // fail loudly here — the alternative is a commit the publish
      // never saw, silently dropped. ORDER MATTERS: `next` is read
      // BEFORE the closed check, so a close that lands between the two
      // occupies exactly the slot we target and our createLink below
      // loses the CAS (retry → closed check fires). Reading `next`
      // after the check would let a close slide in unseen and the
      // append link one slot PAST it — a commit the publisher already
      // confirmed closed and will dropBranch-delete, silent data loss.
      // A close can never land BELOW `next` (every lower slot is
      // already linked), so slot arithmetic alone closes the race.
      val next = branchCurrentVersion(root, name) + 1L
      require(!isBranchClosed(root, name),
        s"branch '$name' of $root is closed (fast-forward in progress " +
          "or crashed mid-publish) — no further staging; finish or drop " +
          "the branch, then re-create it")
      val tmp = root.resolve(s"manifest.tmp-${java.util.UUID.randomUUID()}")
      Files.writeString(tmp, content)
      try { Files.createLink(branchManifestAt(root, name, next), tmp); done = true }
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          if (attempt >= 20) throw new java.util.ConcurrentModificationException(
            s"concurrent publish storm on branch '$name' of $root: ${e.getMessage}")
          Thread.sleep(5L * attempt)
      } finally Files.deleteIfExists(tmp)
    }
  }

  /** Publish the staged branch onto main as ONE new version (base state
    * + branch entries), CAS'd against the anchor — main must not have
    * moved since the branch was created, the fast-forward-only rule.
    * The branch's manifests are deleted after the publish wins (its
    * state is now main's). Returns the published main version. */
  def fastForward(root: Path, name: String): Long = {
    val base = branchBase(root, name)
    // CLOSE the lane first, through the branch's own CAS: once the
    // close wins, no append can land unseen — a racer that beat the
    // close made our close lose, so we loop and re-read (its commit is
    // then included); a racer that lost fails loudly in appendToBranch.
    // A crash between close and publish leaves the branch closed-but-
    // unmerged: re-running fast-forward proceeds (close already
    // present); drop_branch remains the abandon path.
    var attempts = 0
    while (!isBranchClosed(root, name)) {
      attempts += 1
      require(attempts <= 20,
        s"concurrent publish storm closing branch '$name' of $root")
      tryCloseBranch(root, name, base)
    }
    val st = readState(root)
    require(st.version == base,
      s"cannot fast-forward branch '$name': main is at version ${st.version} " +
        s"but the branch is anchored at $base — main advanced since staging " +
        "began; drop the branch and re-stage against the current state")
    val staged0 = branchEntries(root, name) // already sequenced at base+1
    // WAP rows enter MAIN history here: lineage assignment happens at
    // the fast-forward (the branch's own counter never touched main's)
    val (staged, nextRid) = assignLineage(staged0, st.nextRowId, base + 1L)
    commit(root, SingleShot, first = Some(st)) { (st, _) =>
      Commit(st.copy(nextRowId = nextRid, entries = st.entries ++ staged), ())
    }
    dropBranch(root, name)
    base + 1L
  }

  /** Delete branch `name`'s manifest files (metadata-only). Its staged
    * data files become orphans for [[vacuum]]'s grace-windowed sweep.
    * Returns how many branch manifests were removed. */
  def dropBranch(root: Path, name: String): Int = {
    val cur = branchCurrentVersion(root, name)
    require(cur >= 1L, s"no branch '$name' on manifest table $root")
    var n = 0
    // DESCENDING: a crash mid-loop leaves a v1..vK prefix — still a
    // well-formed (shorter) branch — never a headless tail whose
    // missing v1 anchor would wedge branchBase and every vacuum after
    (cur to 1L by -1L).foreach { v =>
      if (Files.deleteIfExists(branchManifestAt(root, name, v))) n += 1
    }
    n
  }

  private val BranchClosedMarker = "#branchclosed"

  /** A close marker at ANY version closes the branch permanently — not
    * just at the head. Head-only inspection would let an append that
    * slipped in above a close marker (a race the slot arithmetic in
    * [[appendToBranch]] now prevents, but also any historic file from a
    * pre-fix writer) silently REOPEN the lane; scanning every version
    * keeps "closed" a one-way latch. Branches are short-lived staging
    * chains, so the scan is a handful of small local files. */
  private[sources] def isBranchClosed(root: Path, name: String): Boolean = {
    val cur = branchCurrentVersion(root, name)
    (1L to cur).exists { v =>
      val p = branchManifestAt(root, name, v)
      Files.exists(p) &&
        Files.readString(p).linesIterator.exists(_.startsWith(BranchClosedMarker))
    }
  }

  /** Publish the CLOSE marker as the branch's next version through the
    * same createLink CAS as any branch commit — exactly one of a racing
    * append and a close can win a version slot, which makes
    * [[fastForward]] lose-proof: a staged commit that beat the close is
    * re-read and included; one that lost fails loudly at
    * [[appendToBranch]]'s closed check instead of being silently
    * dropped. Returns true if OUR link won. */
  private[sources] def tryCloseBranch(root: Path, name: String, base: Long): Boolean = {
    val next = branchCurrentVersion(root, name) + 1L
    val tmp = root.resolve(s"manifest.tmp-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, s"$BranchBasePrefix$base\n$BranchClosedMarker")
    try { Files.createLink(branchManifestAt(root, name, next), tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** The newest version whose manifest was PUBLISHED at or before
    * `micros` (epoch microseconds) — `TIMESTAMP AS OF` resolution.
    * Publication time is the version file's mtime (the hard link lands
    * atomically at publish, so mtime IS the commit instant on this
    * store); versions expired by retention are skipped, and a
    * timestamp predating the oldest retained version fails loudly
    * rather than silently reading a newer state. */
  private[sources] def versionAtTimestamp(root: Path, micros: Long): Long = {
    val cur = currentVersion(root)
    require(cur >= 1L, s"no manifest table at $root")
    val at = (1L to cur)
      .filter(v => Files.exists(manifestAt(root, v)))
      .filter(v => Files.getLastModifiedTime(manifestAt(root, v)).toMillis * 1000L <= micros)
    require(at.nonEmpty,
      s"no version of manifest table $root existed at timestamp $micros " +
        "(it predates the table or the oldest retained version)")
    // Retention-gap guard: the TRUE version for this instant is the
    // newest one committed at-or-before it, which may have been expired
    // while an OLDER manifest survives (a live branch's pinned anchor,
    // say). Commit instants are monotone in version number, so any
    // MISSING version between the resolved answer and the first
    // surviving version newer than the instant could be that true
    // answer — resolving to the stale survivor would silently time-
    // travel to the wrong state. Fail loudly instead, as the contract
    // above promises for expired history.
    val bound = (1L to cur)
      .filter(v => Files.exists(manifestAt(root, v)))
      .filter(v => Files.getLastModifiedTime(manifestAt(root, v)).toMillis * 1000L > micros)
      .minOption.getOrElse(cur + 1L)
    val gap = ((at.max + 1L) until bound).filterNot(v => Files.exists(manifestAt(root, v)))
    require(gap.isEmpty,
      s"version history of manifest table $root is not contiguously retained " +
        s"at timestamp $micros: version(s) ${gap.mkString(", ")} between the " +
        s"newest surviving at-or-before version (${at.max}) and the next " +
        s"surviving version were expired by retention — the state at that " +
        "instant is unrecoverable")
    at.max
  }

  /** Resolve a pinned version (validating it exists) or the current one. */
  private[sources] def resolveVersion(root: Path, pinned: Option[Long]): Long =
    pinned match {
      case Some(v) =>
        require(Files.exists(manifestAt(root, v)),
          s"versionAsOf $v does not exist for manifest table $root " +
            s"(current version: ${currentVersion(root)})")
        v
      case None => currentVersion(root)
    }

  /** Schema resolves from the (pinned or current) versioned manifest's
    * first line (atomic with the file list). */
  private[sources] def readSchema(root: Path, pinned: Option[Long] = None): StructType = {
    val v = resolveVersion(root, pinned)
    require(v > 0L, s"no manifest table at $root")
    DataType.fromJson(Files.readString(manifestAt(root, v)).linesIterator.next())
      .asInstanceOf[StructType]
  }

  private val EpochMarkerPrefix = "#epoch\t"

  /** Per-streaming-query high-water epoch markers in the (pinned or
    * current) manifest version. Empty for absent tables. */
  private[sources] def epochMarkers(root: Path,
      pinned: Option[Long] = None): Map[String, Long] = {
    val v = resolveVersion(root, pinned)
    if (v == 0L) Map.empty
    else Files.readString(manifestAt(root, v)).linesIterator.drop(1)
      .filter(_.startsWith(EpochMarkerPrefix))
      .map { l => val p = l.split("\t"); (p(1), p(2).toLong) }.toMap
  }

  private def markerLine(queryId: String, epoch: Long): String =
    s"$EpochMarkerPrefix$queryId\t$epoch"

  /** Version-level marker: this version rewrote bytes (compaction)
    * without changing data. Streams and the change feed skip it; the
    * snapshot reader is oblivious. The Delta analog is
    * `dataChange=false` on the rewrite actions. */
  private val RewriteMarker = "#rewrite"

  private[sources] def isRewriteVersion(root: Path, v: Long): Boolean =
    v > 0L && Files.exists(manifestAt(root, v)) &&
      Files.readString(manifestAt(root, v)).linesIterator.drop(1)
        .exists(_.startsWith(RewriteMarker))

  /** One committed file's metadata: per-integer-column min/max collected
    * while the task wrote it — the stats that let the reader SKIP the
    * file for a disjoint filter range, and count(*) answer without I/O.
    * `parts` is the file's partition tuple (column → canonical string
    * value; [[NullPartValue]] for null) — empty for files of an
    * unpartitioned table. Partition pruning consults `parts` BEFORE the
    * min/max stats: a partition mismatch is exact (the file can be
    * dropped with certainty), where stats only ever prove may-match. */
  case class FileEntry(name: String, rows: Long,
      mins: Map[String, Long], maxs: Map[String, Long],
      parts: Map[String, String] = Map.empty,
      dvName: Option[String] = None, dvRows: Long = 0L,
      blooms: Map[String, String] = Map.empty,
      slows: Map[String, String] = Map.empty,
      sups: Map[String, String] = Map.empty,
      // data SEQUENCE number: the version this file was committed at
      // (0 = predates sequence tracking). Equality deletes apply to
      // files with seq < delete.seq — the Iceberg v2 sequencing rule
      // that lets a delete-by-key commit without reading anything.
      seq: Long = 0L,
      // id of the partition spec `parts` was computed under (0 = the
      // CREATE-time spec). Pruning must read the tuple with THIS spec's
      // transforms — see [[TableState.transformsFor]].
      specId: Long = 0L,
      // CBO statistics (never used for pruning): exact per-file integer
      // distinct counts (absent = unknown/over-cap) and exact per-file
      // null counts over PHYSICAL rows (int + string columns; a present
      // zero is a real zero). Bin-merge compaction drops both (NDV does
      // not merge); full rewrites re-collect them.
      ndvs: Map[String, Long] = Map.empty,
      nulls: Map[String, Long] = Map.empty,
      // ATTESTED sort order: the write.sort-by columns this file's rows
      // were VERIFIED monotone under while being written (empty = no
      // claim — legacy files, bin-merged concatenations, z-ordered
      // rewrites). Grounds the scan's per-file ordering report.
      sorted: Seq[String] = Seq.empty,
      // ROW LINEAGE (Iceberg v3 row-lineage shape): piecewise-linear
      // map from PHYSICAL file position to the table-unique row id.
      // Each segment (startPos, firstRowId, seq) covers positions
      // [startPos, next segment's startPos): row id = firstRowId +
      // (pos − startPos), last-updated version = seq. firstRowId = -1
      // marks a lineage GAP (rows whose ids were lost — legacy members
      // of a merge). Empty on a COMMITTED entry = the file predates
      // lineage (ids read NULL) UNLESS lineageRef points at a sidecar;
      // empty on an entry being ADDED = the publisher assigns a fresh
      // single segment at commit.
      lineage: Seq[(Long, Long, Long)] = Seq.empty,
      // segment-spill sidecar: entries whose segment list outgrows the
      // inline cap (an UPDATE interleaving carried and updated rows
      // alternates versions every few rows) carry their segments in a
      // content-addressed `lineage-*.bin` file instead of the manifest
      // line — fidelity unbounded, manifest line stays ~60 bytes.
      // Mutually exclusive with a nonempty `lineage`.
      lineageRef: Option[String] = None,
      // mergeable distinct-count sketches ([[NdvSketch]]): encoded HLL
      // registers per integer column. Unlike `ndvs` these survive
      // bin-merge compaction (register-max) and fold across files to a
      // deduplicated table-level estimate.
      ndvSk: Map[String, String] = Map.empty,
      // mergeable bottom-k value samples ([[QuantileSketch]]) per
      // opted-in integer column (TBLPROPERTIES 'quantile.columns'):
      // survive bin-merge compaction exactly (bottom-k of the union),
      // and fold across files to table-level quantile estimates.
      qsk: Map[String, String] = Map.empty) {
    /** Rows a reader actually yields: physical rows minus the deletion
      * vector's positions. Drives count(*) pushdown, reported stats and
      * the zero-column emitters — `rows` stays the PHYSICAL count (what
      * the file holds on disk), because DV positions index into it. */
    def liveRows: Long = rows - dvRows

    /** The entry's full lineage segments, loading the spill sidecar
      * when present (driver-side rewrite paths; the scan hands the ref
      * to executors instead). */
    def lineageSegs(root: Path): Seq[(Long, Long, Long)] =
      lineageRef.fold(lineage)(n => ManifestSink.readLineageFile(root.resolve(n)))
  }

  // ---- per-file string-equality bloom filters ---------------------------
  //
  // Integer columns prune by min/max; string columns get a per-file
  // bloom filter over their distinct values instead (range stats on
  // strings prune poorly — lexicographic ranges are usually [A..z]).
  // Blooms are SIZED BY NDV at write time (the parquet/Iceberg rule): a
  // fixed size either wastes bytes on near-constant columns or
  // saturates (fpp→1, silently inert) on high-cardinality ones — the
  // failure mode that matters exactly at 100 TB file sizes. The writer
  // keeps the distinct (h1,h2) fingerprints while streaming rows, then
  // sizes the filter to ~10 bits per distinct value (k=4 → fpp ≈ 1%),
  // power-of-two, floored at [[MinBloomBits]] and capped at
  // [[MaxBloomBits]] (128 KB raw — the Iceberg/parquet bloom scale,
  // carried by entry-group lines / lazy bloom sidecars, not re-read
  // per query). When even the cap would leave fewer than 4 bits per
  // value (fpp ≳ 16%) the bloom is OMITTED — absence means may-match,
  // which is honest; a saturated bloom costs bytes and prunes nothing.
  // The SIZE is self-describing: the base64 payload's byte length IS
  // the filter size, so old fixed-1024-bit entries decode unchanged
  // and no manifest format change is needed. Blooms are PRUNING-ONLY
  // metadata: absence or a false positive costs a read, never
  // correctness.

  private[sources] val MinBloomBits = 1024
  private[sources] val MaxBloomBits = 1 << 20 // 128 KB raw per (file, column)
  private[sources] val BloomBitsPerNdv = 10 // k=4 → ~1% fpp
  private[sources] val BloomK = 4

  private def bloomHash1(v: String): Int =
    scala.util.hashing.MurmurHash3.stringHash(v, 0x9747b28c)
  private def bloomHash2(v: String): Int =
    scala.util.hashing.MurmurHash3.stringHash(v, 0x85ebca6b) | 1

  /** Double-hash probe j for a filter of `m` bits. The (h1, h2) pair is
    * the value's full identity here — the writer stores fingerprints,
    * not strings, and can therefore build a filter of ANY size from
    * them after the row stream ends. */
  private def bloomProbe(h1: Int, h2: Int, j: Int, m: Int): Int =
    ((h1 + j * h2) & Int.MaxValue) % m

  /** Bits for `ndv` distinct values: next power of two of 10 bits/value
    * within [min, cap]; None when even the cap can't give 4 bits/value
    * (the filter would pass ~every probe — publish nothing instead). */
  private[sources] def bloomSizeFor(ndv: Int): Option[Int] = {
    if (ndv.toLong * 4 > MaxBloomBits) None
    else {
      var m = MinBloomBits
      while (m < MaxBloomBits && m.toLong < ndv.toLong * BloomBitsPerNdv) m <<= 1
      Some(m)
    }
  }

  private[sources] def bloomAdd(bits: Array[Long], v: String): Unit = {
    val m = bits.length * 64
    val h1 = bloomHash1(v); val h2 = bloomHash2(v)
    var j = 0
    while (j < BloomK) {
      val bit = bloomProbe(h1, h2, j, m)
      bits(bit >> 6) |= 1L << (bit & 63)
      j += 1
    }
  }

  private[sources] def bloomEncode(bits: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
    bits.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  /** Probe: the filter's size comes from the payload itself (byte
    * length × 8), so filters of every historical size answer. */
  private[sources] def bloomMayContain(b64: String, v: String): Boolean = {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val bits = Array.fill(bytes.length / 8)(bb.getLong())
    val m = bytes.length * 8
    val h1 = bloomHash1(v); val h2 = bloomHash2(v)
    (0 until BloomK).forall { j =>
      val bit = bloomProbe(h1, h2, j, m)
      (bits(bit >> 6) & (1L << (bit & 63))) != 0L
    }
  }

  /** Bitwise OR of member blooms — the lossless merge for compaction
    * bins (a value in ANY member may be in the merged file). Only
    * EQUAL-size filters share bit positions; a mixed-size bin returns
    * None and the merged entry publishes no bloom for the column
    * (may-match — the raw-append rewrite never decodes values, so
    * re-collection is impossible there; the next CoW rewrite of the
    * file re-collects real stats). */
  private[sources] def bloomUnion(b64s: Seq[String]): Option[String] = {
    val decoded = b64s.map(java.util.Base64.getDecoder.decode)
    if (decoded.map(_.length).distinct.size != 1) None
    else {
      val acc = new Array[Long](decoded.head.length / 8)
      decoded.foreach { bytes =>
        val bb = java.nio.ByteBuffer.wrap(bytes)
        var i = 0
        while (i < acc.length) { acc(i) |= bb.getLong(); i += 1 }
      }
      Some(bloomEncode(acc))
    }
  }

  // ---- per-file truncated string min/max bounds -------------------------
  //
  // Blooms answer string EQUALITY; string RANGE predicates
  // (`WHERE url >= 'https://a' AND url < 'https://b'`, `LIKE 'abc%'`)
  // need ordered bounds. Full min/max strings would bloat the manifest
  // (a document-text column's min is a whole document), so entries carry
  // TRUNCATED bounds, the Iceberg `truncate(L)` shape (public knowledge):
  //  - lower bound = first [[strBoundLen]] code points of the file's min
  //    value (a prefix sorts <= every extension in UTF-8 byte order, so
  //    it is a valid lower bound);
  //  - upper bound = the truncated max with its last code point
  //    incremented when truncation dropped anything (prefix p
  //    incremented to p' bounds every string starting with p from
  //    above); if no code point can be incremented the upper bound is
  //    simply ABSENT — absence always means may-match.
  // All ordering is UTF-8 BINARY (Spark's UTF8String semantics), never
  // java.lang.String UTF-16 code-unit order — the same rule
  // [[evalPartFilter]] follows, because a bound compared in the wrong
  // collation can wrongly prune a file. Bounds are PRUNING-ONLY
  // metadata: they may never feed exact answers (the MIN/MAX aggregate
  // pushdown stays integer-only — a truncated bound is not the value).

  private[sources] def strBoundLen: Int =
    sys.props.getOrElse("graft.manifest.strBoundLen", "16").toInt

  /** Name of the per-row data-file metadata column (see
    * [[ManifestTable.metadataColumns]]). */
  private[sources] val FileNameColumn = "_file"

  /** Row-lineage metadata columns (Iceberg v3 `_row_id` /
    * `_last_updated_sequence_number` shape): the table-unique id a row
    * was assigned when it first entered the table, and the version of
    * the commit that last produced it. Served from manifest lineage
    * segments + physical file position — never stored in data files.
    * NULL for files that predate lineage tracking. */
  private[sources] val RowIdColumn = "_row_id"
  private[sources] val LastUpdatedColumn = "_last_updated_version"

  private[sources] def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))

  /** First `n` CODE POINTS (not chars — a surrogate pair never splits,
    * which would produce an unencodable bound). Walks at most `n` code
    * points, never the whole string — this runs per row on document-text
    * columns. */
  private[sources] def truncCp(s: String, n: Int): String = {
    var i = 0
    var cp = 0
    while (i < s.length && cp < n) { i = s.offsetByCodePoints(i, 1); cp += 1 }
    if (i >= s.length) s else s.substring(0, i)
  }

  /** Smallest-effort string strictly greater than every string with
    * prefix `s`: increment the last incrementable code point and drop
    * the tail. Skips the surrogate-range gap (D7FF+1 jumps to E000 —
    * U+D800..DFFF are not scalar values). None when every code point is
    * already U+10FFFF. */
  private[sources] def incrementCp(s: String): Option[String] = {
    val cps = s.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0 && cps(i) >= 0x10FFFF) i -= 1
    if (i < 0) None
    else {
      val next = if (cps(i) + 1 >= 0xD800 && cps(i) + 1 <= 0xDFFF) 0xE000 else cps(i) + 1
      Some(new String(cps.take(i), 0, i) + new String(Character.toChars(next)))
    }
  }

  /** Truncated bounds from the RUNNING min/max kept by a collector.
    * The collector tracks min/max over `truncCp(v, L+1)`-truncated
    * values (bounded per-row compare cost on long text columns —
    * truncation is monotone in UTF-8 order, so truncated min/max sit at
    * the same rows as the real ones). Length L+1 preserves one bit of
    * information the bound needs: whether anything beyond the L-prefix
    * existed, i.e. whether the upper bound must be incremented. */
  private[sources] def strLowerBound(min: String): String = truncCp(min, strBoundLen)
  private[sources] def strUpperBound(max: String): Option[String] =
    if (max.codePointCount(0, max.length) <= strBoundLen) Some(max)
    else incrementCp(truncCp(max, strBoundLen))

  /** One write/rewrite task's inline stats pass: integer min/max,
    * configured string-column blooms, and truncated string bounds for
    * EVERY string column — the single collector behind the data writer,
    * DV purge and CoW delete rewrites (identical stats semantics at
    * every site, by construction). */
  private[sources] final class FileStatsCollector(schema: StructType,
      bloomCols: Seq[String], sortCols: Seq[String] = Seq.empty,
      quantCols: Seq[String] = Seq.empty) {
    // ---- attested sort order ---------------------------------------------
    // VERIFY (never assume) that rows arrive monotone non-decreasing
    // under the table's write.sort-by columns — ascending, nulls first,
    // Spark's in-task sort contract. The write path normally guarantees
    // it (RequiresDistributionAndOrdering), but legacy files, z-ordered
    // rewrites and raw concatenations must not inherit the claim: only
    // a file whose every row was CHECKED publishes `sorted`, which is
    // what lets the scan report a per-file output ordering soundly.
    private val sortAt: Seq[(Int, DataType)] = sortCols.flatMap(c =>
      schema.fields.zipWithIndex.collectFirst {
        case (f, i) if f.name == c && (f.dataType == LongType ||
            f.dataType == IntegerType || f.dataType == StringType) =>
          (i, f.dataType)
      })
    private val sortComparable = sortCols.nonEmpty && sortAt.length == sortCols.length
    private var sortOk = sortComparable
    private var prevSort: Array[Any] = null
    private def sortVal(row: InternalRow, i: Int, dt: DataType): Any =
      if (row.isNullAt(i)) null
      else dt match {
        case LongType => row.getLong(i)
        case IntegerType => row.getInt(i).toLong
        case _ => row.getUTF8String(i).toString
      }
    private def cmpSort(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => -1 // nulls first
      case (_, null) => 1
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: String, y: String) => utf8Compare(x, y)
      case _ => 0
    }
    private def checkSorted(row: InternalRow): Unit = {
      val cur = new Array[Any](sortAt.length)
      var i = 0
      while (i < sortAt.length) {
        cur(i) = sortVal(row, sortAt(i)._1, sortAt(i)._2); i += 1
      }
      if (prevSort != null) {
        var c = 0; i = 0
        while (c == 0 && i < sortAt.length) {
          c = cmpSort(prevSort(i), cur(i)); i += 1
        }
        if (c > 0) sortOk = false
      }
      prevSort = cur
    }
    /** The columns this file's rows are ATTESTED sorted by (the full
      * configured list, or nothing — a partial claim would still be
      * unusable for ordering reports). Empty files attest trivially. */
    def sortedBy: Seq[String] = if (sortComparable && sortOk) sortCols else Seq.empty

    private val intCols = schema.fields.zipWithIndex.collect {
      case (f, i) if f.dataType == LongType || f.dataType == IntegerType => (f, i)
    }
    private val strCols = schema.fields.zipWithIndex.collect {
      case (f, i) if f.dataType == StringType => (f.name, i)
    }
    // distinct (h1, h2) fingerprints per bloom column, not bits: the
    // filter is SIZED from the distinct count after the row stream ends
    // (bloomSizeFor), which a streamed fixed-size bit array cannot do.
    // Hard-capped: past the omission threshold (4 bits/value at
    // MaxBloomBits) the column publishes no bloom anyway, so collection
    // stops — bounded memory per (task, column) at any file size.
    private val FingerprintCap = MaxBloomBits / 4 + 1
    // LongMap: unboxed Long keys — the set can reach FingerprintCap
    // (262k) entries without boxing 262k java.lang.Longs
    private val bloomAt: Seq[(String, Int, scala.collection.mutable.LongMap[Unit])] =
      bloomCols.flatMap { c =>
        schema.fields.zipWithIndex.collectFirst {
          case (f, i) if f.name == c && f.dataType == StringType =>
            (c, i, scala.collection.mutable.LongMap.empty[Unit])
        }
      }
    private val mins = scala.collection.mutable.Map.empty[String, Long]
    private val maxs = scala.collection.mutable.Map.empty[String, Long]
    private val sMin = scala.collection.mutable.Map.empty[String, String]
    private val sMax = scala.collection.mutable.Map.empty[String, String]
    // per-column null counts (int + string columns) and exact integer
    // distinct sets — CBO food ([[ManifestScan.estimateStatistics]]).
    // The distinct set is hard-capped like the bloom fingerprints:
    // past the cap the column publishes no NDV (absent = unknown), so
    // memory per (task, column) stays bounded at any file size.
    private val nullCnt = scala.collection.mutable.Map.empty[String, Long]
    private val ndvSets: Seq[(String, scala.collection.mutable.LongMap[Unit])] =
      intCols.map { case (f, _) => (f.name, scala.collection.mutable.LongMap.empty[Unit]) }
    private val ndvAt = ndvSets.map(_._2)
    // mergeable HLL registers alongside the exact sets — NEVER capped:
    // fixed 256 bytes per column at any file size, and register-max
    // merging is what lets compaction keep distinct-count stats.
    // String columns sketch too (the only NDV signal they have): the
    // 64-bit value identity is the same (h1, h2) fingerprint the blooms
    // store, mixed once more before the register probe
    private val ndvSkAt: Seq[Array[Byte]] = intCols.map(_ => NdvSketch.empty())
    private val strSkAt: Seq[Array[Byte]] = strCols.map(_ => NdvSketch.empty())
    // bottom-k value-sample collectors for the opted-in integer columns
    // (TBLPROPERTIES 'quantile.columns'). The LongMap is a pure md5
    // cache (values already hashed), capped like the fingerprint sets —
    // overflow re-hashes, which the sketch's idempotent insert absorbs.
    private val quantAt: Seq[(String, Int, Boolean,
        QuantileSketch.Collector, scala.collection.mutable.LongMap[Unit])] =
      quantCols.flatMap { c =>
        schema.fields.zipWithIndex.collectFirst {
          case (f, i) if f.name == c &&
              (f.dataType == LongType || f.dataType == IntegerType) =>
            (c, i, f.dataType == LongType, new QuantileSketch.Collector,
              scala.collection.mutable.LongMap.empty[Unit])
        }
      }

    def add(row: InternalRow): Unit = {
      if (sortOk) checkSorted(row)
      var ic = 0
      intCols.foreach { case (f, i) =>
        if (!row.isNullAt(i)) {
          val v = if (f.dataType == LongType) row.getLong(i) else row.getInt(i).toLong
          mins.updateWith(f.name)(o => Some(o.fold(v)(math.min(_, v))))
          maxs.updateWith(f.name)(o => Some(o.fold(v)(math.max(_, v))))
          val s = ndvAt(ic)
          if (s.size < FingerprintCap) s.update(v, ())
          NdvSketch.add(ndvSkAt(ic), v)
        } else nullCnt.updateWith(f.name)(o => Some(o.fold(1L)(_ + 1L)))
        ic += 1
      }
      var sc = 0
      strCols.foreach { case (name, i) =>
        if (!row.isNullAt(i)) {
          val raw = row.getUTF8String(i).toString
          NdvSketch.add(strSkAt(sc),
            (bloomHash1(raw).toLong << 32) | (bloomHash2(raw).toLong & 0xffffffffL))
          val t = truncCp(raw, strBoundLen + 1)
          sMin.updateWith(name)(o => Some(o.fold(t)(m =>
            if (utf8Compare(t, m) < 0) t else m)))
          sMax.updateWith(name)(o => Some(o.fold(t)(m =>
            if (utf8Compare(t, m) > 0) t else m)))
        } else nullCnt.updateWith(name)(o => Some(o.fold(1L)(_ + 1L)))
        sc += 1
      }
      bloomAt.foreach { case (_, i, fps) =>
        // stop collecting past the omission threshold — the column
        // cannot publish a useful filter at that cardinality anyway
        if (!row.isNullAt(i) && fps.size < FingerprintCap) {
          val v = row.getUTF8String(i).toString
          val fp = (bloomHash1(v).toLong << 32) | (bloomHash2(v).toLong & 0xffffffffL)
          fps.update(fp, ())
        }
      }
      quantAt.foreach { case (_, i, isLong, coll, cache) =>
        if (!row.isNullAt(i)) {
          val v = if (isLong) row.getLong(i) else row.getInt(i).toLong
          if (!cache.contains(v)) {
            coll.add(v)
            if (cache.size < FingerprintCap) cache.update(v, ())
          }
        }
      }
    }

    def intMins: Map[String, Long] = mins.toMap
    def intMaxs: Map[String, Long] = maxs.toMap
    /** Exact per-column null counts for every tracked (int + string)
      * column — zero is a real zero (the collector saw every row), so
      * the map is COMPLETE over tracked columns, unlike min/max whose
      * absence means all-null. */
    def nullCounts: Map[String, Long] =
      (intCols.map(_._1.name) ++ strCols.map(_._1)).map(c =>
        c -> nullCnt.getOrElse(c, 0L)).toMap
    /** Exact integer NDV per column; a column past the collection cap
      * publishes nothing (absent = unknown, never an underestimate). */
    def intNdvs: Map[String, Long] =
      ndvSets.collect {
        case (c, s) if s.size < FingerprintCap => c -> s.size.toLong
      }.toMap
    /** Encoded HLL sketch per integer column — present even when the
      * exact set overflowed (the sketch never goes silent). */
    def ndvSketches: Map[String, String] =
      (ndvSets.map(_._1).zip(ndvSkAt) ++ strCols.map(_._1).zip(strSkAt)).map {
        case (c, r) => c -> NdvSketch.encode(r)
      }.toMap
    /** Encoded bottom-k value sample per opted-in column; an all-null
      * column publishes an empty (but present) sketch. */
    def quantSketches: Map[String, String] =
      quantAt.map { case (c, _, _, coll, _) =>
        c -> QuantileSketch.encode(coll.entries) }.toMap
    def strLowers: Map[String, String] =
      sMin.iterator.map { case (c, v) => c -> strLowerBound(v) }.toMap
    def strUppers: Map[String, String] =
      sMax.iterator.flatMap { case (c, v) => strUpperBound(v).map(c -> _) }.toMap
    def blooms: Map[String, String] =
      bloomAt.flatMap { case (c, _, fps) =>
        // size from NDV; None (too many distincts for even the cap, or
        // the capped collection overflowed) → no bloom published
        val omit = fps.size >= FingerprintCap
        if (omit) None
        else bloomSizeFor(fps.size).map { m =>
          val bits = new Array[Long](m / 64)
          fps.foreachKey { fp =>
            val h1 = (fp >>> 32).toInt
            val h2 = fp.toInt
            var j = 0
            while (j < BloomK) {
              val bit = bloomProbe(h1, h2, j, m)
              bits(bit >> 6) |= 1L << (bit & 63)
              j += 1
            }
          }
          c -> bloomEncode(bits)
        }
      }.toMap
  }

  // ---- equality-delete files (the Iceberg v2 shape) ---------------------
  //
  // A DELETE-BY-KEY that never reads data: the commit writes a keys-only
  // sidecar (`eqdel-*.txt`) and one manifest header record
  // `#eqdel<TAB>file<TAB>col<TAB>seq` — O(keys) work regardless of table
  // size, the path a streaming CDC producer that only knows keys needs.
  // SEQUENCING gives exactness: the record applies to data files whose
  // entry seq is strictly below the record's (files committed before the
  // delete); later appends are untouched, so a re-insert of a deleted
  // key survives. Scans subtract matching rows executor-side: a governed
  // file's reader first makes one single-column pass over the key column
  // to turn keys into positions, then merges those positions with the
  // deletion-vector skip — the scan was reading the file anyway, so the
  // extra pass costs one cheap column. OPTIMIZE materializes the
  // deletes (rewrites governed may-match files, drops the records),
  // exactly how it purges DVs. The append-only change feed and cdc feed
  // FAIL LOUDLY across an equality-delete version — the dead rows are
  // not reconstructible from keys without reads, and a silent skip
  // would corrupt every downstream fold (the pinned semantics; same
  // contract as copy-on-write rewrites in the feed).

  /** One equality-delete record: `cols` is the (possibly COMPOSITE) key
    * — Iceberg v2 allows multi-column equality deletes, and real CDC
    * keys often are composite. The header token joins the urlEnc'd
    * column names with ','; single-column records round-trip the
    * original format unchanged. */
  private[sources] case class EqDelRec(name: String, cols: Seq[String], seq: Long)

  private val EqDelPrefix = "#eqdel\t"

  private[sources] def eqDelLine(r: EqDelRec): String =
    s"$EqDelPrefix${r.name}\t${r.cols.map(urlEnc).mkString(",")}\t${r.seq}"

  private[sources] def parseEqDelLine(l: String): EqDelRec = {
    val p = l.stripPrefix(EqDelPrefix).split("\t")
    EqDelRec(p(0), p(1).split(",").toSeq.map(urlDec), p(2).toLong)
  }

  /** Sidecar: one key TUPLE per line, components urlEnc'd and
    * tab-joined — a single-column key writes exactly the old one-value
    * lines, so pre-composite sidecars parse unchanged. */
  private[sources] def writeEqDelFile(root: Path, keys: Seq[Seq[String]]): String = {
    val name = s"eqdel-${java.util.UUID.randomUUID()}.txt"
    Files.writeString(root.resolve(name),
      keys.map(_.map(urlEnc).mkString("\t")).distinct.sorted.mkString("\n"))
    name
  }

  private[sources] def readEqDelKeys(root: Path, name: String): Array[Seq[String]] =
    Files.readString(root.resolve(name)).split("\n").iterator
      .filter(_.nonEmpty).map(_.split("\t", -1).toSeq.map(urlDec)).toArray

  /** Publish a single-column equality delete — sugar over
    * [[deleteWhereEqKeys]]. */
  def deleteWhereEq(tablePath: String, col: String, values: Seq[String],
      gc: GcPolicy = GcPolicy(None, 3600L * 1000)): Long =
    deleteWhereEqKeys(tablePath, Seq(col), values.map(Seq(_)), gc)

  /** Publish an equality delete on a (possibly COMPOSITE) key: keys-only
    * sidecar + one metadata commit, ZERO data-file reads. Each key is a
    * tuple of canonical strings aligned with `cols` (validated per
    * column type). Returns the published version. */
  def deleteWhereEqKeys(tablePath: String, cols: Seq[String],
      keys: Seq[Seq[String]],
      gc: GcPolicy = GcPolicy(None, 3600L * 1000)): Long = {
    val root = Paths.get(tablePath)
    require(cols.nonEmpty, "equality delete needs at least one key column")
    require(cols.distinct.size == cols.size, s"duplicate key columns: $cols")
    require(keys.nonEmpty, "equality delete needs at least one key tuple")
    keys.foreach(k => require(k.length == cols.length,
      s"key tuple $k does not match the ${cols.length}-column key $cols"))
    val name = writeEqDelFile(root, keys)
    commit(root, Rebase(5), gc) { (st, _) =>
      require(st.version > 0L,
        s"equality delete requires a versioned manifest table at $tablePath")
      val schema = schemaOf(root, st)
      cols.zipWithIndex.foreach { case (col, ci) =>
        val f = schema.fields.find(_.name == col).getOrElse(
          throw new IllegalArgumentException(s"no column $col in $tablePath"))
        f.dataType match {
          case LongType | IntegerType =>
            keys.foreach(k => require(k(ci).toLongOption.isDefined,
              s"equality-delete value '${k(ci)}' is not a valid " +
                f.dataType.simpleString))
          case StringType => ()
          case other => throw new IllegalArgumentException(
            s"equality deletes support BIGINT/INT/STRING keys; $col is " +
              other.simpleString)
        }
      }
      val next = st.version + 1L
      Commit(st.copy(eqDels = st.eqDels :+ EqDelRec(name, cols, next)), next, Seq(name))
    }
  }

  /** Deletion-vector sidecar files (merge-on-read deletes): one
    * `dv-*.txt` per (version, data file) holding the 0-based positions
    * deleted from that file, newline-separated and sorted. DV files are
    * immutable — a second MoR delete writes a NEW sidecar with the union
    * of positions and re-points the entry; old sidecars stay alive for
    * time travel until retention GC finds them unreferenced. */
  private[sources] def writeDvFile(root: Path, positions: Seq[Long]): String = {
    val name = s"dv-${java.util.UUID.randomUUID()}.txt"
    Files.writeString(root.resolve(name), positions.sorted.mkString("\n"))
    name
  }

  private[sources] def readDvPositions(path: Path): Array[Long] =
    Files.readString(path).split("\n").iterator
      .filter(_.nonEmpty).map(_.toLong).toArray

  private def statsStr(m: Map[String, Long]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"$k:$v" }.mkString(",")

  private def parseStats(s: String): Map[String, Long] =
    if (s.isEmpty) Map.empty
    else s.split(",").map { kv =>
      val Array(k, v) = kv.split(":", 2); (k, v.toLong)
    }.toMap

  /** Sentinel for a NULL partition value (the Hive
    * `__HIVE_DEFAULT_PARTITION__` shape — a literal string collision is
    * theoretically possible and accepted, as in every warehouse that
    * stores partition values as strings). */
  private[sources] val NullPartValue = "__GRAFT_NULL__"

  /** Decode one canonical manifest partition string back to the TYPED
    * value under the column's table type — the exact inverse of
    * `PartitionedDataWriter.partValue`, shared by SPJ partition keys,
    * grouped-aggregate group keys, and V2 partition proofs so the three
    * can never drift. */
  private[sources] def decodePartValue(v: String, dt: DataType): Any =
    if (v == NullPartValue) null
    else dt match {
      case LongType => v.toLong
      case IntegerType => v.toInt
      case DoubleType => v.toDouble
      case BooleanType => v.toBoolean
      case _ => UTF8String.fromString(v)
    }

  private def urlEnc(s: String): String =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
  private def urlDec(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  /** Partition tuple codec: `k=v` pairs, comma-joined, both sides
    * URL-encoded so values may contain tabs/commas/equals. */
  private def partsStr(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${urlEnc(k)}=${urlEnc(v)}" }
      .mkString(",")

  private def parsePartsStr(s: String): Map[String, String] =
    if (s.isEmpty) Map.empty
    else s.split(",").map { kv =>
      val Array(k, v) = kv.split("=", 2); (urlDec(k), urlDec(v))
    }.toMap

  // ---- hidden partitioning: partition-spec transforms -------------------
  //
  // The Iceberg idea (public): a partition FIELD is a TRANSFORM of a
  // source column, not necessarily the column itself — `days(ts)` lays
  // a 100 TB event table out by day while queries keep filtering the
  // raw `ts`; `truncate` groups by integer width or string prefix. The
  // interval transforms (days/months/years/hours/truncate) each cover a
  // contiguous interval of the source domain, so range logic decides
  // EXACTLY. `bucket(N)` is admitted PRUNE-ONLY: a hash bucket decides
  // equality/IN to FALSE when the literal hashes elsewhere but never
  // proves TRUE and never answers a range, so every consumer of a
  // decided TRUE (metadata-only DELETE via [[partProvenV2]], static
  // overwrite victim selection) automatically falls back to its
  // always-correct read/rewrite path — the Option contract, not a new
  // mode. The source column
  // is stored in data files like any other column (hidden partitioning:
  // readers never see the derived value), so every filter still
  // re-applies row-level and pruning exactness is the only new burden.

  private[sources] val MicrosPerDay = 86400000000L

  private[sources] sealed trait PartTransform extends Serializable {
    def col: String
    def withCol(c: String): PartTransform
    /** Canonical header token (identity = the bare column name, the
      * pre-transform format — old manifests parse unchanged). */
    def token: String
  }
  private[sources] case class PIdentity(col: String) extends PartTransform {
    def withCol(c: String): PartTransform = copy(col = c)
    def token: String = col
  }
  /** Epoch-microsecond LONG column → day number (floorDiv keeps the
    * covered interval [d·U, (d+1)·U) valid for negative instants). */
  private[sources] case class PDays(col: String) extends PartTransform {
    def withCol(c: String): PartTransform = copy(col = c)
    def token: String = s"days($col)"
  }
  /** Epoch-microsecond LONG column → month index relative to 1970-01
    * (UTC proleptic Gregorian — the SQL calendar). Variable-width, but
    * each index still covers ONE contiguous interval of the source
    * domain, so range decisions stay exact. */
  private[sources] case class PMonths(col: String) extends PartTransform {
    def withCol(c: String): PartTransform = copy(col = c)
    def token: String = s"months($col)"
  }
  /** Epoch-microsecond LONG column → year index relative to 1970. */
  private[sources] case class PYears(col: String) extends PartTransform {
    def withCol(c: String): PartTransform = copy(col = c)
    def token: String = s"years($col)"
  }

  /** Integer width truncation: value → value − floorMod(value, w),
    * covering [base, base + w). */
  private[sources] case class PTruncInt(col: String, w: Long) extends PartTransform {
    def withCol(c: String): PartTransform = copy(col = c)
    def token: String = s"trunci($w,$col)"
  }
  /** String prefix truncation to n CODE POINTS (UTF-8 order preserved:
    * a prefix lower-bounds every extension; [[incrementCp]] upper-bounds
    * them — the same monotonicity argument as the truncated file
    * bounds). */
  private[sources] case class PTruncStr(col: String, n: Int) extends PartTransform {
    def withCol(c: String): PartTransform = copy(col = c)
    def token: String = s"truncs($n,$col)"
  }

  /** Hash bucketing of an integer column (`bucket(N, col)`, the Iceberg
    * v2 transform shape): value → `(murmur3(littleEndian64(v)) &
    * Int.MaxValue) % n`. INT columns hash AS 64-bit, so an
    * `ALTER COLUMN TYPE INT->BIGINT` widening never re-routes rows — the
    * same widening-stability rule the public Iceberg spec mandates.
    * PRUNE-ONLY: a bucket decides equality/IN to FALSE when the literal
    * hashes elsewhere and NEVER proves TRUE (other values share the
    * bucket), so metadata-delete proofs and range predicates fall back
    * to the read path — see [[evalPartFilter]]. */
  private[sources] case class PBucketInt(col: String, n: Int) extends PartTransform {
    def withCol(c: String): PartTransform = copy(col = c)
    def token: String = s"bucketi($n,$col)"
  }
  /** Hash bucketing of a STRING column: murmur3 over the UTF-8 bytes. */
  private[sources] case class PBucketStr(col: String, n: Int) extends PartTransform {
    def withCol(c: String): PartTransform = copy(col = c)
    def token: String = s"buckets($n,$col)"
  }

  private val PartTokenDays = """days\((.+)\)""".r
  private val PartTokenMonths = """months\((.+)\)""".r
  private val PartTokenYears = """years\((.+)\)""".r
  private val PartTokenTruncI = """trunci\((\d+),(.+)\)""".r
  private val PartTokenTruncS = """truncs\((\d+),(.+)\)""".r
  private val PartTokenBucketI = """bucketi\((\d+),(.+)\)""".r
  private val PartTokenBucketS = """buckets\((\d+),(.+)\)""".r
  private[sources] def parsePartToken(t: String): PartTransform = t match {
    case PartTokenDays(c) => PDays(c)
    case PartTokenMonths(c) => PMonths(c)
    case PartTokenYears(c) => PYears(c)
    case PartTokenTruncI(w, c) => PTruncInt(c, w.toLong)
    case PartTokenTruncS(n, c) => PTruncStr(c, n.toInt)
    case PartTokenBucketI(n, c) => PBucketInt(c, n.toInt)
    case PartTokenBucketS(n, c) => PBucketStr(c, n.toInt)
    case c => PIdentity(c)
  }

  /** Murmur3 x86 32-bit, seed 0 — the standard public algorithm
    * (Appleby), written out so the ON-DISK bucket routing is owned by
    * this format and can never drift with a library upgrade. */
  private[sources] def murmur3Bytes(data: Array[Byte]): Int = {
    val c1 = 0xcc9e2d51; val c2 = 0x1b873593
    var h = 0; var i = 0
    val nBlocks = data.length / 4
    while (i < nBlocks * 4) {
      var k = (data(i) & 0xff) | ((data(i + 1) & 0xff) << 8) |
        ((data(i + 2) & 0xff) << 16) | ((data(i + 3) & 0xff) << 24)
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2
      h ^= k; h = Integer.rotateLeft(h, 13); h = h * 5 + 0xe6546b64
      i += 4
    }
    var k = 0
    (data.length & 3) match {
      case 3 => k ^= (data(i + 2) & 0xff) << 16
        k ^= (data(i + 1) & 0xff) << 8; k ^= data(i) & 0xff
      case 2 => k ^= (data(i + 1) & 0xff) << 8; k ^= data(i) & 0xff
      case 1 => k ^= data(i) & 0xff
      case _ =>
    }
    if ((data.length & 3) != 0) {
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2; h ^= k
    }
    h ^= data.length
    h ^= h >>> 16; h *= 0x85ebca6b; h ^= h >>> 13; h *= 0xc2b2ae35
    h ^ (h >>> 16)
  }
  private[sources] def bucketOfLong(v: Long, n: Int): Int = {
    val b = new Array[Byte](8)
    var x = v; var i = 0
    while (i < 8) { b(i) = (x & 0xff).toByte; x >>>= 8; i += 1 }
    (murmur3Bytes(b) & Int.MaxValue) % n
  }
  private[sources] def bucketOfStr(s: String, n: Int): Int =
    (murmur3Bytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)) &
      Int.MaxValue) % n

  /** Month index (months since 1970-01, UTC) of an epoch-micro instant. */
  private[sources] def monthIndexOf(us: Long): Long = {
    val d = java.time.LocalDate.ofEpochDay(Math.floorDiv(us, MicrosPerDay))
    (d.getYear - 1970L) * 12L + (d.getMonthValue - 1L)
  }
  /** First epoch-micro instant of month index `idx`. */
  private[sources] def monthStartUs(idx: Long): Long = {
    val y = 1970L + Math.floorDiv(idx, 12L)
    val m = Math.floorMod(idx, 12L) + 1L
    java.time.LocalDate.of(y.toInt, m.toInt, 1).toEpochDay * MicrosPerDay
  }
  private[sources] def yearStartUs(idx: Long): Long =
    java.time.LocalDate.of((1970L + idx).toInt, 1, 1).toEpochDay * MicrosPerDay

  /** Apply a transform to a row's raw canonical value, producing the
    * PARTITION value's canonical string. Null propagates (a null source
    * is a null partition value for every transform). */
  private[sources] def transformValue(t: PartTransform, raw: String): String =
    if (raw == NullPartValue) NullPartValue
    else t match {
      case PIdentity(_) => raw
      case PDays(_) => Math.floorDiv(raw.toLong, MicrosPerDay).toString
      case PMonths(_) => monthIndexOf(raw.toLong).toString
      case PYears(_) =>
        (java.time.LocalDate.ofEpochDay(
          Math.floorDiv(raw.toLong, MicrosPerDay)).getYear - 1970L).toString
      case PTruncInt(_, w) => (raw.toLong - Math.floorMod(raw.toLong, w)).toString
      case PTruncStr(_, n) => truncCp(raw, n)
      case PBucketInt(_, n) => bucketOfLong(raw.toLong, n).toString
      case PBucketStr(_, n) => bucketOfStr(raw, n).toString
    }

  /** Table-level partition column list, one manifest header line —
    * `#partcols<TAB>tok1,tok2` where each token is a transform
    * ([[PartTransform.token]]; a bare name = identity, so manifests
    * written before transforms existed parse unchanged). Set at CREATE,
    * carried verbatim by every subsequent publish (partitioning is
    * table structure, not commit payload). */
  private val PartColsPrefix = "#partcols\t"

  private[sources] def partColsLine(cols: Seq[String]): Option[String] =
    partSpecLine(cols.map(PIdentity))

  private[sources] def partSpecLine(spec: Seq[PartTransform]): Option[String] =
    if (spec.isEmpty) None
    else Some(PartColsPrefix + spec.map(t => urlEnc(t.token)).mkString(","))

  // spec evolution: `#specid<TAB>N` marks the CURRENT spec's id (absent
  // = 0, so pre-evolution manifests parse unchanged), and one
  // `#pastspec<TAB>id<TAB>tokens` line archives each superseded spec —
  // entries written under it keep pruning exactly forever.
  private val SpecIdPrefix = "#specid\t"
  private val PastSpecPrefix = "#pastspec\t"
  private[sources] def specIdLine(id: Long): Option[String] =
    if (id == 0L) None else Some(s"$SpecIdPrefix$id")
  private[sources] def pastSpecLine(id: Long, spec: Seq[PartTransform]): String =
    s"$PastSpecPrefix$id\t${spec.map(t => urlEnc(t.token)).mkString(",")}"
  private[sources] def parsePastSpecLine(l: String): (Long, Seq[PartTransform]) = {
    val p = l.stripPrefix(PastSpecPrefix).split("\t", 2)
    (p(0).toLong, p.lift(1).getOrElse("").split(",").toSeq
      .filter(_.nonEmpty).map(t => parsePartToken(urlDec(t))))
  }

  private[sources] def partitionSpec(root: Path,
      pinned: Option[Long] = None): Seq[PartTransform] = {
    val v = resolveVersion(root, pinned)
    if (v == 0L) Seq.empty
    else Files.readString(manifestAt(root, v)).linesIterator.drop(1)
      .find(_.startsWith(PartColsPrefix))
      .map(_.stripPrefix(PartColsPrefix).split(",").toSeq
        .filter(_.nonEmpty).map(t => parsePartToken(urlDec(t))))
      .getOrElse(Seq.empty)
  }

  private[sources] def partitionColumns(root: Path,
      pinned: Option[Long] = None): Seq[String] =
    partitionSpec(root, pinned).map(_.col)

  /** Column mapping (the Delta column-mapping shape): logical (current
    * SQL) name → PHYSICAL name, the immutable name a column carries
    * inside data files. Present only for columns whose names diverge —
    * i.e. after RENAME COLUMN (physical stays put; only metadata moves)
    * or ADD COLUMN (added columns get an epoch-unique physical name so
    * a re-added name can never resurrect a dropped column's stale
    * bytes). One manifest header line: `#colmap<TAB>log=phys,...`. */
  private val ColMapPrefix = "#colmap\t"
  /** Monotone count of schema-altering commits. Non-zero tells scans
    * that per-file schemas may differ from the table schema, so the
    * reader probes each file's footer and null-fills absent columns;
    * zero keeps the fast single-footer-read path. Header line:
    * `#schemaepoch<TAB>N`. */
  private val SchemaEpochPrefix = "#schemaepoch\t"

  private def colMapLine(m: Map[String, String]): Option[String] =
    if (m.isEmpty) None
    else Some(ColMapPrefix + m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${urlEnc(k)}=${urlEnc(v)}" }.mkString(","))

  private def schemaEpochLine(e: Long): Option[String] =
    if (e == 0L) None else Some(s"$SchemaEpochPrefix$e")

  private val NextRowIdPrefix = "#nextrowid\t"
  private def nextRowIdLine(n: Long): Option[String] =
    if (n == 0L) None else Some(s"$NextRowIdPrefix$n")

  /** Arbitrary user TBLPROPERTIES (the Iceberg/Delta free-form property
    * bag): `#tblprops<TAB>k=v,...`, every token URL-encoded. The three
    * LIVE knobs (delete.mode, bloom.columns, write.sort-by) stay
    * dedicated header lines with validation; everything else — pipeline
    * bookkeeping like a materialized view's last-consumed source
    * version, ownership tags, audit stamps — rides here, published
    * atomically with the file list like all table structure. */
  private val TblPropsPrefix = "#tblprops\t"
  private def tblPropsLine(m: Map[String, String]): Option[String] =
    if (m.isEmpty) None
    else Some(TblPropsPrefix + m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${urlEnc(k)}=${urlEnc(v)}" }.mkString(","))

  /** Property keys a manifest table refuses to store as user props:
    * the dedicated-header knobs (they have validation and their own
    * lines) and Spark-internal bookkeeping the catalog API injects. */
  /** Table property sizing parquet row groups on future writes — the
    * skip granularity of row-group-level predicate pushdown. Parsed
    * (and validated) wherever a write path resolves table structure. */
  private[sources] val RowGroupBytesProp = "write.parquet.row-group-bytes"

  private[sources] def rowGroupBytesOf(props: Map[String, String]): Option[Long] =
    props.get(RowGroupBytesProp).map { v =>
      val parsed = v.toLongOption // length-safe: 20-digit strings don't throw
      require(parsed.exists(_ >= 1024L),
        s"$RowGroupBytesProp must be an integer byte count >= 1024, got '$v'")
      parsed.get
    }

  private[sources] def reservedProp(k: String): Boolean =
    k == "delete.mode" || k == "bloom.columns" || k == "write.sort-by" ||
      k == "provider" || k == "owner" || k == "location" || k == "comment" ||
      k == "external" || k.startsWith("option.") || k.startsWith("spark.") ||
      // constraints may only enter through ADD CONSTRAINT (which
      // validates existing rows with a scan) — a SET TBLPROPERTIES
      // forgery would skip the validation and lie about enforcement
      k.startsWith(ConstraintPropPrefix) ||
      // tags only enter through CALL graft.system.tag (which validates
      // the target version exists) — a forged tag could pin nothing
      k.startsWith(TagPropPrefix)

  /** Table-level bloom-filter column list, one manifest header line —
    * `#bloomcols<TAB>c1,c2`. Set at CREATE (TBLPROPERTIES
    * `bloom.columns`), carried by every publish like the partition
    * spec; writers collect a per-file bloom over each listed STRING
    * column's values. */
  private val BloomColsPrefix = "#bloomcols\t"

  private[sources] def bloomColsLine(cols: Seq[String]): Option[String] =
    if (cols.isEmpty) None else Some(BloomColsPrefix + cols.map(urlEnc).mkString(","))

  /** Table-level quantile-sketch column list — rides the free-form
    * property bag (persisted by tblPropsLine like any user property)
    * rather than a dedicated header line, but is VALIDATED wherever it
    * can be set (CREATE, SET TBLPROPERTIES): integer columns only.
    * Writers collect a per-file bottom-k value sample
    * ([[QuantileSketch]]) for each listed column; compaction merges the
    * samples losslessly; `db.t.stats` serves q25/q50/q75 from the
    * table-level merge. */
  private[sources] val QuantColsProp = "quantile.columns"

  private[sources] def quantColsOf(props: Map[String, String]): Seq[String] =
    props.get(QuantColsProp).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))

  private[sources] def validateQuantCols(schema: StructType,
      props: Map[String, String]): Unit =
    quantColsOf(props).foreach { c =>
      val f = schema.fields.find(_.name == c)
      require(f.isDefined, s"quantile.columns names unknown column $c")
      require(f.get.dataType == LongType || f.get.dataType == IntegerType,
        s"quantile.columns supports integer columns; $c is " +
          f.get.dataType.simpleString)
    }

  private[sources] def bloomColumns(root: Path,
      pinned: Option[Long] = None): Seq[String] = {
    val v = resolveVersion(root, pinned)
    if (v == 0L) Seq.empty
    else Files.readString(manifestAt(root, v)).linesIterator.drop(1)
      .find(_.startsWith(BloomColsPrefix))
      .map(_.stripPrefix(BloomColsPrefix).split(",").toSeq
        .filter(_.nonEmpty).map(urlDec))
      .getOrElse(Seq.empty)
  }

  /** Table-level write-ordering column list, one manifest header line —
    * `#sortcols<TAB>c1,c2`. Set at CREATE (TBLPROPERTIES
    * `write.sort-by`); appends request a RANGE distribution + in-task
    * sort on these columns from Spark, so per-file min/max ranges come
    * out tight (disjoint for a lone write) and range predicates prune
    * files from day one — clustering at WRITE time instead of a later
    * OPTIMIZE ZORDER pass. Advisory: a write that cannot shuffle (single
    * local task) still succeeds with whatever ranges it gets. */
  private val SortColsPrefix = "#sortcols\t"

  private[sources] def sortColsLine(cols: Seq[String]): Option[String] =
    if (cols.isEmpty) None else Some(SortColsPrefix + cols.map(urlEnc).mkString(","))

  private[sources] def sortColumns(root: Path,
      pinned: Option[Long] = None): Seq[String] = {
    val v = resolveVersion(root, pinned)
    if (v == 0L) Seq.empty
    else Files.readString(manifestAt(root, v)).linesIterator.drop(1)
      .find(_.startsWith(SortColsPrefix))
      .map(_.stripPrefix(SortColsPrefix).split(",").toSeq
        .filter(_.nonEmpty).map(urlDec))
      .getOrElse(Seq.empty)
  }

  /** Table-level row-delete strategy, one manifest header line —
    * `#deletemode<TAB>merge-on-read`. Set at CREATE (TBLPROPERTIES
    * `delete.mode`), carried by every publish like the partition spec.
    * Default (no line) is copy-on-write. */
  private[sources] val DeleteModeCow = "copy-on-write"
  private[sources] val DeleteModeMor = "merge-on-read"
  private val DeleteModePrefix = "#deletemode\t"

  private def deleteModeLine(m: String): Option[String] =
    if (m == DeleteModeCow) None else Some(s"$DeleteModePrefix$m")

  private[sources] def deleteMode(root: Path): String = {
    val v = resolveVersion(root, None)
    if (v == 0L) DeleteModeCow
    else Files.readString(manifestAt(root, v)).linesIterator.drop(1)
      .find(_.startsWith(DeleteModePrefix))
      .map(_.stripPrefix(DeleteModePrefix).trim).getOrElse(DeleteModeCow)
  }

  private def parseHeaderMap(lines: Seq[String], prefix: String): Map[String, String] =
    lines.find(_.startsWith(prefix))
      .map(_.stripPrefix(prefix).split(",").toSeq.filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("=", 2); (urlDec(k), urlDec(v))
      }.toMap).getOrElse(Map.empty)

  private[sources] def columnMapping(root: Path,
      pinned: Option[Long] = None): Map[String, String] = {
    val v = resolveVersion(root, pinned)
    if (v == 0L) Map.empty
    else parseHeaderMap(
      Files.readString(manifestAt(root, v)).linesIterator.drop(1).toSeq, ColMapPrefix)
  }

  private[sources] def schemaEpoch(root: Path, pinned: Option[Long] = None): Long = {
    val v = resolveVersion(root, pinned)
    if (v == 0L) 0L
    else Files.readString(manifestAt(root, v)).linesIterator.drop(1)
      .find(_.startsWith(SchemaEpochPrefix))
      .map(_.stripPrefix(SchemaEpochPrefix).trim.toLong).getOrElse(0L)
  }

  /** Rename logical fields to their immutable physical names for the
    * parquet writer / reader boundary. */
  private[sources] def toPhysicalSchema(schema: StructType,
      colMap: Map[String, String]): StructType =
    if (colMap.isEmpty) schema
    else StructType(schema.fields.map(f =>
      f.copy(name = colMap.getOrElse(f.name, f.name))))

  /** EXACT partition-tuple evaluation of a pushed V1 filter: Some(true/
    * false) when every referenced column is a partition column of `parts`
    * and the shape is decidable; None otherwise (caller falls back to
    * stats may-match). Comparison SEMANTICS follow the LITERAL's runtime
    * type — in a typed pushed predicate the literal's type IS the
    * column's SQL type — so a STRING partition column holding
    * numeric-looking values compares as a string ('7' > '10' is TRUE),
    * never numerically, and DOUBLE columns compare as doubles, never
    * lexically. An exact-but-wrong decision here is not a missed
    * optimization: callers drop files from scans and delete whole files
    * metadata-only on its word. A stored value that does not parse under
    * the literal's type answers None (undecidable), never a guess. */
  private[sources] def evalPartFilter(f: org.apache.spark.sql.sources.Filter,
      parts: Map[String, String],
      tf: Map[String, PartTransform] = Map.empty,
      neg: Boolean = false): Option[Boolean] = {
    import org.apache.spark.sql.sources._
    def pv(c: String): Option[String] = parts.get(c)
    // Exactness demands ROW-level comparison semantics, not JVM ones:
    // strings order by UTF-8 bytes (java.lang.String.compareTo diverges on
    // non-BMP surrogates) and doubles follow SQL equality (-0.0 = 0.0;
    // NaN largest and self-equal, which java Double.compare already gives).
    def utf8Cmp(a: String, b: String): Int = java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def bytePrefix(s: String, pre: String): Boolean = {
      val sb = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val pb = pre.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      pb.length <= sb.length && java.util.Arrays.equals(
        sb, 0, pb.length, pb, 0, pb.length)
    }
    def normZero(d: Double): Double = if (d == 0.0d) 0.0d else d
    // POLARITY-aware null handling: on a NullPartValue tuple every
    // row's column is NULL, so comparisons and IN are UNKNOWN per row.
    // At POSITIVE polarity (no enclosing NOT) "not TRUE" collapses to
    // Some(false) exactly — no row passes, the file may be pruned or
    // kept out of an overwrite's victim set. Under an odd number of
    // NOTs the same collapse would flip into a WRONG "every row TRUE"
    // proof (partProvenV2 metadata-deletes on Some(true); NOT (c IN ...)
    // over null rows is UNKNOWN, not TRUE), so there the answer stays
    // None. IsNull / IsNotNull / null-safe equality are never UNKNOWN
    // and decide regardless of polarity.
    def nullAnswer: Option[Boolean] = if (neg) None else Some(false)
    def cmpPart(c: String, v: Any)(p: Int => Boolean): Option[Boolean] =
      pv(c).filter(_ != NullPartValue).flatMap { x =>
        val cmp: Option[Int] = v match {
          case l: Long => x.toLongOption.map(_.compare(l))
          case i: Int => x.toLongOption.map(_.compare(i.toLong))
          case s: String => Some(utf8Cmp(x, s))
          case u: UTF8String => Some(utf8Cmp(x, u.toString))
          case d: Double => x.toDoubleOption.map(xd =>
            java.lang.Double.compare(normZero(xd), normZero(d)))
          case b: Boolean => x.toBooleanOption.map(_.compare(b))
          case _ => None
        }
        cmp.map(p)
      }
    // ---- transformed-column interval decisions ---------------------------
    // A transformed partition value covers a CONTIGUOUS interval of the
    // source domain; range predicates decide exactly from the interval's
    // bounds, equality decides false outside (and true only for a
    // singleton interval). All string order is UTF-8 bytes.
    sealed trait Op
    case object OpEq extends Op; case object OpGt extends Op
    case object OpGte extends Op; case object OpLt extends Op
    case object OpLte extends Op
    def longInterval(lo: Long, width: Long, v: Long, op: Op): Option[Boolean] = {
      val hiOpt: Option[Long] =
        if (lo > Long.MaxValue - width) None else Some(lo + width)
      op match {
        case OpEq =>
          if (v < lo || hiOpt.exists(h => v >= h)) Some(false)
          else if (hiOpt.contains(lo + 1L)) Some(true) // singleton: rows == lo == v
          else None
        case OpGt =>
          if (lo > v) Some(true)
          else if (hiOpt.exists(h => h - 1L <= v)) Some(false)
          else None
        case OpGte =>
          if (lo >= v) Some(true)
          else if (hiOpt.exists(h => h <= v)) Some(false)
          else None
        case OpLt =>
          if (hiOpt.exists(h => h <= v)) Some(true)
          else if (lo >= v) Some(false)
          else None
        case OpLte =>
          if (hiOpt.exists(h => h - 1L <= v)) Some(true)
          else if (lo > v) Some(false)
          else None
      }
    }
    def strPrefixCmp(p: String, n: Int, v: String, op: Op): Option[Boolean] =
      if (p.codePointCount(0, p.length) < n) {
        // truncation dropped nothing: every row in this partition IS p
        val c = utf8Cmp(p, v)
        Some(op match {
          case OpEq => c == 0; case OpGt => c > 0; case OpGte => c >= 0
          case OpLt => c < 0; case OpLte => c <= 0
        })
      } else {
        val ub = incrementCp(p) // exclusive upper bound, when one exists
        op match {
          case OpEq => if (truncCp(v, n) != p) Some(false) else None
          case OpGt =>
            if (utf8Cmp(p, v) > 0) Some(true)
            else if (ub.exists(u => utf8Cmp(u, v) <= 0)) Some(false)
            else None
          case OpGte =>
            if (utf8Cmp(p, v) >= 0) Some(true)
            else if (ub.exists(u => utf8Cmp(u, v) <= 0)) Some(false)
            else None
          case OpLt =>
            if (ub.exists(u => utf8Cmp(u, v) <= 0)) Some(true)
            else if (utf8Cmp(p, v) >= 0) Some(false)
            else None
          case OpLte =>
            if (ub.exists(u => utf8Cmp(u, v) <= 0)) Some(true)
            else if (utf8Cmp(p, v) > 0) Some(false)
            else None
        }
      }
    def asLongLit(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case _ => None
    }
    def asStrLit(v: Any): Option[String] = v match {
      case s: String => Some(s)
      case u: UTF8String => Some(u.toString)
      case _ => None
    }
    /** One comparison, transform-aware; a null tuple answers by
      * polarity (see above). */
    def decide(c: String, v: Any, op: Op): Option[Boolean] =
      if (pv(c).contains(NullPartValue)) nullAnswer
      else tf.get(c) match {
      case None | Some(PIdentity(_)) => op match {
        case OpEq => cmpPart(c, v)(_ == 0)
        case OpGt => cmpPart(c, v)(_ > 0)
        case OpGte => cmpPart(c, v)(_ >= 0)
        case OpLt => cmpPart(c, v)(_ < 0)
        case OpLte => cmpPart(c, v)(_ <= 0)
      }
      case Some(PDays(_)) =>
        pv(c).filter(_ != NullPartValue).flatMap(x =>
          for {
            d <- x.toLongOption
            vl <- asLongLit(v)
            if d <= Long.MaxValue / MicrosPerDay && d >= Long.MinValue / MicrosPerDay
            r <- longInterval(d * MicrosPerDay, MicrosPerDay, vl, op)
          } yield r)
      case Some(PMonths(_)) =>
        pv(c).filter(_ != NullPartValue).flatMap(x =>
          for {
            idx <- x.toLongOption
            vl <- asLongLit(v)
            bounds <- scala.util.Try(
              (monthStartUs(idx), monthStartUs(idx + 1L))).toOption
            r <- longInterval(bounds._1, bounds._2 - bounds._1, vl, op)
          } yield r)
      case Some(PYears(_)) =>
        pv(c).filter(_ != NullPartValue).flatMap(x =>
          for {
            idx <- x.toLongOption
            vl <- asLongLit(v)
            bounds <- scala.util.Try(
              (yearStartUs(idx), yearStartUs(idx + 1L))).toOption
            r <- longInterval(bounds._1, bounds._2 - bounds._1, vl, op)
          } yield r)
      case Some(PTruncInt(_, w)) =>
        pv(c).filter(_ != NullPartValue).flatMap(x =>
          for {
            lo <- x.toLongOption
            vl <- asLongLit(v)
            r <- longInterval(lo, w, vl, op)
          } yield r)
      case Some(PTruncStr(_, n)) =>
        pv(c).filter(_ != NullPartValue).flatMap(x =>
          asStrLit(v).flatMap(vs => strPrefixCmp(x, n, vs, op)))
      // bucket transforms are PRUNE-ONLY: equality (and, via the generic
      // In case, each IN literal) decides FALSE when the literal hashes
      // to a different bucket; a matching bucket proves nothing (other
      // values share it) and ranges are undecidable by construction —
      // both stay None, so metadata-delete proofs and static-overwrite
      // victim selection fall back to their always-correct paths.
      case Some(PBucketInt(_, n)) =>
        if (op != OpEq) None
        else for {
          x <- pv(c).filter(_ != NullPartValue)
          b <- x.toLongOption
          vl <- asLongLit(v)
          r <- if (bucketOfLong(vl, n).toLong == b) None else Some(false)
        } yield r
      case Some(PBucketStr(_, n)) =>
        if (op != OpEq) None
        else for {
          x <- pv(c).filter(_ != NullPartValue)
          b <- x.toLongOption
          vs <- asStrLit(v)
          r <- if (bucketOfStr(vs, n).toLong == b) None else Some(false)
        } yield r
    }
    f match {
      case AlwaysTrue() => Some(true)
      case AlwaysFalse() => Some(false)
      case EqualTo(c, v) => decide(c, v, OpEq)
      // static PARTITION (c = 'x') clauses arrive null-safe
      case EqualNullSafe(c, v) if v == null => pv(c).map(_ == NullPartValue)
      case EqualNullSafe(c, v) =>
        pv(c).flatMap(x => if (x == NullPartValue) Some(false)
          else decide(c, v, OpEq))
      case GreaterThan(c, v) => decide(c, v, OpGt)
      case GreaterThanOrEqual(c, v) => decide(c, v, OpGte)
      case LessThan(c, v) => decide(c, v, OpLt)
      case LessThanOrEqual(c, v) => decide(c, v, OpLte)
      case In(c, vs) => pv(c).flatMap { x =>
        // Reuse the typed equality semantics per literal (so 0.0 IN(-0.0)
        // is true and string literals compare as UTF-8 bytes); any
        // undecidable literal with no decided-true match ⇒ None. A null
        // tuple answers by POLARITY — see the note above.
        if (x == NullPartValue) nullAnswer
        else {
          // a NULL literal makes a no-match IN evaluate UNKNOWN, not
          // FALSE — same polarity collapse as the null tuple
          val cmps = vs.toSeq.map(v =>
            if (v == null) nullAnswer else decide(c, v, OpEq))
          if (cmps.contains(Some(true))) Some(true)
          else if (cmps.forall(_.contains(false))) Some(false)
          else None
        }
      }
      case IsNull(c) => pv(c).map(_ == NullPartValue)
      case IsNotNull(c) => pv(c).map(_ != NullPartValue)
      case StringStartsWith(c, pre) =>
        if (pv(c).contains(NullPartValue)) nullAnswer
        else tf.get(c) match {
        case None | Some(PIdentity(_)) =>
          pv(c).filter(_ != NullPartValue).map(x => bytePrefix(x, pre))
        case Some(PTruncStr(_, n)) =>
          pv(c).filter(_ != NullPartValue).flatMap { p =>
            if (p.codePointCount(0, p.length) < n) Some(bytePrefix(p, pre))
            else if (bytePrefix(p, pre)) Some(true) // rows extend p; p starts with pre
            else if (bytePrefix(pre, p)) None // pre reaches past the known prefix
            else Some(false) // first difference inside the shared prefix
          }
        case _ => None
        }
      case And(l, r) =>
        (evalPartFilter(l, parts, tf, neg), evalPartFilter(r, parts, tf, neg)) match {
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case (Some(true), Some(true)) => Some(true)
          case _ => None
        }
      case Or(l, r) =>
        (evalPartFilter(l, parts, tf, neg), evalPartFilter(r, parts, tf, neg)) match {
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false)) => Some(false)
          case _ => None
        }
      case Not(c) => evalPartFilter(c, parts, tf, !neg).map(!_)
      case _ => None
    }
  }

  /** Can `e` possibly contain a row passing `f`? Partition-tuple check
    * first (exact — a decided false DROPS the file), then integer
    * min/max stats (may-match). */
  private[sources] def mayMatchEntry(e: FileEntry,
      f: org.apache.spark.sql.sources.Filter,
      tf: Map[String, PartTransform] = Map.empty): Boolean =
    evalPartFilter(f, e.parts, tf).getOrElse(mayMatch(e, f))

  /** Reserved property prefix persisting CHECK constraints:
    * `graft.constraint.<name>` -> predicate SQL. */
  private[sources] val ConstraintPropPrefix = "graft.constraint."

  /** Persisted value for a CHECK constraint. `v2<TAB><rely><TAB><sql>`
    * carries the RELY optimizer hint; a bare value (no `v2` prefix) is
    * the round-10 legacy encoding, read as rely=false. Enforcement is
    * not a flag: manifest tables accept ENFORCED CHECK constraints only
    * (Spark's ResolveTableConstraints injects a CheckInvariant for
    * every reported Check regardless of its enforced bit — verified in
    * 4.1.2 — so a NOT ENFORCED constraint could not be honored and is
    * refused at ADD instead of silently misbehaving). */
  private[sources] def encodeConstraint(rely: Boolean, sql: String): String =
    s"v2\t${if (rely) 1 else 0}\t$sql"

  private[sources] def decodeConstraint(v: String): (Boolean, String) =
    if (v.startsWith("v2\t")) {
      val rest = v.stripPrefix("v2\t")
      val i = rest.indexOf('\t')
      (rest.substring(0, i) == "1", rest.substring(i + 1))
    } else (false, v)

  /** Resolve `name` against persisted constraint keys the way SQL
    * resolves identifiers: case-insensitively (ADD CONSTRAINT Positive
    * / DROP CONSTRAINT positive address the same constraint). */
  private[sources] def constraintKeyOf(props: Map[String, String],
      name: String): Option[String] =
    props.keys.find(k => k.startsWith(ConstraintPropPrefix) &&
      k.stripPrefix(ConstraintPropPrefix).equalsIgnoreCase(name))

  /** Top-level column names a CHECK predicate references (lowercased),
    * from the parsed-but-unresolved expression — what DROP/RENAME
    * COLUMN must guard against to keep the table writable. */
  private[sources] def constraintRefCols(sql: String): Set[String] =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(sql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head.toLowerCase(java.util.Locale.ROOT)
      }.toSet

  /** Name of a persisted CHECK constraint whose predicate references
    * column `col` (case-insensitive), if any. */
  private[sources] def constraintReferencing(props: Map[String, String],
      col: String): Option[String] = {
    val lc = col.toLowerCase(java.util.Locale.ROOT)
    props.collectFirst {
      case (k, v) if k.startsWith(ConstraintPropPrefix) &&
          constraintRefCols(decodeConstraint(v)._2).contains(lc) =>
        k.stripPrefix(ConstraintPropPrefix)
    }
  }

  /** The table's CHECK constraints, rebuilt from properties — enforced
    * and validated (ADD scanned existing rows before persisting; CREATE
    * persisted them against an empty table). */
  private[sources] def constraintsOf(props: Map[String, String]):
      Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    props.toSeq.collect {
      case (k, v) if k.startsWith(ConstraintPropPrefix) =>
        val (rely, sql) = decodeConstraint(v)
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(k.stripPrefix(ConstraintPropPrefix))
          .predicateSql(sql)
          .enforced(true)
          .rely(rely)
          .validationStatus(org.apache.spark.sql.connector.catalog
            .constraints.Constraint.ValidationStatus.VALID)
          .build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.sortBy(_.name).toArray

  /** CHECK predicates of `props` resolved and BOUND against `schema`
    * (driver-side; needs an active session): what a write path that
    * Spark's analyzer rule cannot instrument — the streaming sink plans
    * through `WriteToMicroBatchDataSource`, which is not a
    * `V2WriteCommand`, so `ResolveTableConstraints` never sees it —
    * must evaluate per row itself. Returns (name, sql, bound predicate
    * expression); the expression is already null-tolerant (SQL CHECK
    * semantics: only FALSE violates, NULL passes). */
  private[sources] def boundConstraintExprs(schema: StructType,
      props: Map[String, String]):
      Seq[(String, String, org.apache.spark.sql.catalyst.expressions.Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{IsNull, Or}
    val checks = props.toSeq.collect {
      case (k, v) if k.startsWith(ConstraintPropPrefix) =>
        (k.stripPrefix(ConstraintPropPrefix), decodeConstraint(v)._2)
    }.sortBy(_._1)
    checks.map { case (name, sql) =>
      val parsed = org.apache.spark.sql.SparkSession.active.sessionState.sqlParser
        .parseExpression(sql)
      val cond = bindToSchema(parsed, schema).getOrElse(throw new IllegalArgumentException(
        s"CHECK constraint $name ($sql) does not resolve against the write schema"))
      (name, sql, Or(cond, IsNull(cond)))
    }
  }

  /** `cond` resolved by the session analyzer against a relation of
    * `schema` and BOUND to its ordinals, or None when it does not
    * resolve: the one analyze-and-bind step of CHECK constraints
    * ([[boundConstraintExprs]]) and DELETE predicates
    * ([[deletePredicate]]). The analyzer applies the session's type
    * coercion, so the result evaluates a row exactly as `SELECT … WHERE
    * cond` would. Driver-side; needs an active session. */
  private[sources] def bindToSchema(
      cond: org.apache.spark.sql.catalyst.expressions.Expression, schema: StructType)
      : Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions.BindReferences
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    val rel = LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema))
    org.apache.spark.sql.SparkSession.active.sessionState.analyzer
      .execute(Filter(cond, rel)) match {
      case Filter(c, _) if c.resolved => Some(BindReferences.bindReference(c, rel.output))
      case _ => None
    }
  }

  /** EXISTS_DEFAULT values per field (catalyst-typed; null where the
    * column has no default): what a scan serves for columns ABSENT from
    * a file's footer — Spark's own initial-default machinery, reading
    * the metadata ALTER/CREATE recorded. */
  private[sources] def existenceDefaults(schema: StructType): Array[Any] =
    org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .existenceDefaultValues(schema).asInstanceOf[Array[Any]]

  /** A shared constant vector serving `v` (catalyst-typed) for every
    * row of a batch — the columnar twin of the MappedInternalRow fill. */
  private[sources] def constantVector(dt: DataType, v: Any):
      org.apache.spark.sql.vectorized.ColumnVector = {
    val c = new org.apache.spark.sql.execution.vectorized.ConstantColumnVector(4096, dt)
    (v, dt) match {
      case (null, _) => c.setNull()
      case (b: Boolean, BooleanType) => c.setBoolean(b)
      case (i: Int, IntegerType) => c.setInt(i)
      case (l: Long, LongType) => c.setLong(l)
      case (f: Float, org.apache.spark.sql.types.FloatType) => c.setFloat(f)
      case (d: Double, DoubleType) => c.setDouble(d)
      case (u: UTF8String, StringType) => c.setUtf8String(u)
      case (b: Array[Byte], org.apache.spark.sql.types.BinaryType) => c.setBinary(b)
      case (i: Int, org.apache.spark.sql.types.DateType) => c.setInt(i)
      case (l: Long, org.apache.spark.sql.types.TimestampType) => c.setLong(l)
      case (l: Long, org.apache.spark.sql.types.TimestampNTZType) => c.setLong(l)
      case (dec: org.apache.spark.sql.types.Decimal,
        t: org.apache.spark.sql.types.DecimalType) => c.setDecimal(dec, t.precision)
      case (other, t) => throw new UnsupportedOperationException(
        s"column DEFAULT of type ${t.simpleString} ($other) has no " +
          "columnar constant fill — drop the default or read row-wise")
    }
    c
  }

  /** Spec-aware twin of [[mayMatchEntry]]: resolves the transforms of
    * the spec the ENTRY was written under; an unknown spec skips tuple
    * pruning and decides from stats alone (conservative, never wrong). */
  private[sources] def entryMayMatch(st: TableState, e: FileEntry,
      f: org.apache.spark.sql.sources.Filter): Boolean =
    st.transformsForOpt(e) match {
      case Some(tf) => mayMatchEntry(e, f, tf)
      case None => mayMatch(e, f)
    }

  /** Group-level may-match: exact partition evaluation over the group's
    * recorded distinct tuples (prune only when EVERY tuple decides
    * false), else the merged min/max stats via a synthetic entry. A
    * pruned group's file is never even read. */
  private[sources] def mayMatchGroup(r: GroupRef,
      f: org.apache.spark.sql.sources.Filter,
      // transforms of the SPEC THE GROUP WAS WRITTEN UNDER (r.specId) —
      // the caller resolves it; a current-spec map applied to old-spec
      // tuples would prune wrong groups
      tf: Map[String, PartTransform] = Map.empty): Boolean = r.partsSet match {
    case Some(ts) if ts.nonEmpty &&
        ts.forall(t => evalPartFilter(f, t, tf).contains(false)) =>
      false
    case _ =>
      mayMatch(FileEntry(r.name, r.rows, r.mins, r.maxs, Map.empty, None, 0L,
        Map.empty, r.slows, r.sups), f)
  }

  /** Does `f` ever consult a per-file bloom? Only string equality / IN
    * shapes do (see [[mayMatch]]); everything else plans from stats
    * alone, so the bloom sidecars stay unread. */
  private[sources] def bloomEligible(f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(_, _: String) | EqualNullSafe(_, _: String) => true
      case In(_, vs) => vs.nonEmpty && vs.forall(_.isInstanceOf[String])
      case And(l, r) => bloomEligible(l) || bloomEligible(r)
      case Or(l, r) => bloomEligible(l) || bloomEligible(r)
      case Not(c) => bloomEligible(c)
      case _ => false
    }
  }

  /** Planning-path entry resolution for a batch scan: the manifest list
    * is parsed (cheap — O(groups) refs), groups whose summary excludes
    * every pushed filter are skipped WITHOUT reading their entry files,
    * and bloom sidecars load only when some pushed filter can actually
    * use a bloom. The survivors still pass per-entry [[mayMatchEntry]],
    * so this returns exactly the file set the flat path would. */
  private[sources] def plannedEntries(root: Path, pinned: Option[Long],
      filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[FileEntry] = {
    val v = resolveVersion(root, pinned)
    val (inline, refs) =
      if (v > 0L) versionSections(root, v)
      else (committedEntries(root, pinned), Seq.empty[GroupRef])
    // transform-aware pruning needs the spec — resolved PER entry/group
    // (spec evolution: an old-spec tuple read under the current
    // transforms would prune wrong files); the header parse is cached
    val hdr: Option[TableState] = if (v > 0L) Some(readHeader(root, pinned)) else None
    def tfOfSpec(id: Long): Map[String, PartTransform] = hdr.fold(
      Map.empty[String, PartTransform])(h =>
      if (id == h.specId) h.partTransforms
      else h.pastTransformMaps.getOrElse(id, Map.empty))
    val withBlooms = filters.exists(bloomEligible)
    val expanded = inline ++ refs
      .filter(r => filters.forall(f => mayMatchGroup(r, f, tfOfSpec(r.specId))))
      .flatMap(readGroupEntries(root, _, withBlooms))
    expanded.filter(e => filters.forall(f => mayMatchEntry(e, f, tfOfSpec(e.specId))))
  }

  /** Entry line: `fileName<TAB>rowCount<TAB>mins<TAB>maxs`. The first
    * line of a manifest is the schema and is skipped, as are
    * `#`-prefixed marker lines. */
  private[graft] def committedEntries(root: Path,
      pinned: Option[Long] = None, withBlooms: Boolean = true): Seq[FileEntry] = {
    val v = resolveVersion(root, pinned)
    if (v > 0L) {
      val (inline, refs) = versionSections(root, v)
      inline ++ refs.flatMap(readGroupEntries(root, _, withBlooms))
    } else Seq.empty
  }

  /** Nullability erased at every nesting level — the shape two schemas
    * must share for an append to be type-compatible. */
  private[sources] def stripNullability(dt: DataType): DataType = dt match {
    case ArrayType(e, _) => ArrayType(stripNullability(e), containsNull = true)
    case MapType(k, v, _) =>
      MapType(stripNullability(k), stripNullability(v), valueContainsNull = true)
    case StructType(fs) => StructType(fs.map(f =>
      f.copy(dataType = stripNullability(f.dataType), nullable = true)))
    case other => other
  }

  /** Pointwise nullability OR of two type-compatible DataTypes — the
    * stored-schema merge rule extended through nesting. */
  private[sources] def orNullability(a: DataType, b: DataType): DataType = (a, b) match {
    case (ArrayType(ae, an), ArrayType(be, bn)) =>
      ArrayType(orNullability(ae, be), an || bn)
    case (MapType(ak, av, an), MapType(bk, bv, bn)) =>
      MapType(orNullability(ak, bk), orNullability(av, bv), an || bn)
    case (StructType(af), StructType(bf)) =>
      StructType(af.zip(bf).map { case (x, y) =>
        x.copy(dataType = orNullability(x.dataType, y.dataType),
          nullable = x.nullable || y.nullable)
      })
    case _ => a
  }

  private[sources] def parseEntryLine(line: String): FileEntry = {
    val parts = line.split("\t", 15)
    val (dvName, dvRows) = parts.lift(5).filter(_.nonEmpty) match {
      case Some(dv) =>
        val Array(n, c) = dv.split(":", 2)
        (Some(n), c.toLong)
      case None => (None, 0L)
    }
    // blooms field: `col=base64,...` — base64 may contain '=', so the
    // kv split is limit-2 like the parts codec
    val blooms = parts.lift(6).filter(_.nonEmpty) match {
      case Some(s) => s.split(",").map { kv =>
        val Array(k, v) = kv.split("=", 2); (urlDec(k), v)
      }.toMap
      case None => Map.empty[String, String]
    }
    val (slows, sups) = parseStrBounds(parts.lift(7).getOrElse(""))
    val (ndvs, nulls) = parseColCounts(parts.lift(10).getOrElse(""))
    FileEntry(parts(0), parts(1).toLong,
      parseStats(parts.lift(2).getOrElse("")),
      parseStats(parts.lift(3).getOrElse("")),
      parsePartsStr(parts.lift(4).getOrElse("")),
      dvName, dvRows, blooms, slows, sups,
      parts.lift(8).filter(_.nonEmpty).map(_.toLong).getOrElse(0L),
      parts.lift(9).filter(_.nonEmpty).map(_.toLong).getOrElse(0L),
      ndvs, nulls,
      parts.lift(11).filter(_.nonEmpty)
        .map(_.split(",").toSeq.map(urlDec)).getOrElse(Seq.empty),
      {
        val li = parts.lift(12).getOrElse("")
        if (li.startsWith("@")) Seq.empty else parseLineageStr(li)
      },
      parts.lift(12).filter(_.startsWith("@")).map(_.drop(1)),
      // NDV sketch slot: `col=encoded` pairs (the codec is base64, so
      // the kv split is limit-2 like the bloom field)
      parts.lift(13).filter(_.nonEmpty) match {
        case Some(x) => x.split(",").map { kv =>
          val Array(k, v) = kv.split("=", 2); (urlDec(k), v)
        }.toMap
        case None => Map.empty[String, String]
      },
      // quantile sketch slot: same `col=base64` shape as the NDV slot
      parts.lift(14).filter(_.nonEmpty) match {
        case Some(x) => x.split(",").map { kv =>
          val Array(k, v) = kv.split("=", 2); (urlDec(k), v)
        }.toMap
        case None => Map.empty[String, String]
      })
  }

  /** Row-lineage field: `startPos:firstRowId:seq` triples, comma-joined,
    * segments in position order. Old manifests simply lack the slot
    * (format-versioned by position, like seq/specId/colCounts). */
  private[sources] def lineageStr(segs: Seq[(Long, Long, Long)]): String = {
    require(segs.forall(s => s._2 >= -1L && s._3 >= 0L),
      "unresolved fresh-row-id / stamp-version placeholder reached manifest " +
        "rendering — the publisher must assignLineage before rendering entries")
    segs.map { case (p, f, q) => s"$p:$f:$q" }.mkString(",")
  }

  private[sources] def parseLineageStr(s: String): Seq[(Long, Long, Long)] =
    if (s.isEmpty) Seq.empty
    else s.split(",").toSeq.map { t =>
      val Array(p, f, q) = t.split(":", 3)
      (p.toLong, f.toLong, q.toLong)
    }

  // ---- lineage spill sidecars --------------------------------------------
  //
  // A rewrite that interleaves preserved and updated rows alternates
  // the segment's version every few rows — a realistic scattered UPDATE
  // over a 1M-row file produces ~#updated·2 segments, far past anything
  // a manifest LINE should carry. Past [[MaxLineageSegs]] the segments
  // spill to a content-addressed binary sidecar (`lineage-<hash>.bin`:
  // 8-byte big-endian triples), exactly like oversized blooms spill to
  // bloom sidecars. Content addressing makes the spill idempotent
  // across CAS retries and dedupes identical spills; vacuum retains
  // sidecars referenced by any retained version.

  private[sources] def lineageFileBytes(segs: Seq[(Long, Long, Long)]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(segs.size * 24)
    segs.foreach { case (p, f, q) => bb.putLong(p).putLong(f).putLong(q) }
    bb.array()
  }

  private[sources] def readLineageFile(p: Path): Seq[(Long, Long, Long)] = {
    val bytes = Files.readAllBytes(p)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Seq.fill(bytes.length / 24)((bb.getLong(), bb.getLong(), bb.getLong()))
  }

  /** The non-gap id RUNS of a segment list over a file of `rows`
    * physical rows: (firstId, lastId, version) per run — the single
    * bounds derivation shared by file-skip pruning (mayMatch) and the
    * files metadata view, so the readout can never disagree with the
    * pruning decisions. */
  private[sources] def lineageRuns(segs: Seq[(Long, Long, Long)],
      rows: Long): Seq[(Long, Long, Long)] =
    segs.zip(segs.drop(1).map(_._1) :+ rows).collect {
      case ((p, f, q), end) if f >= 0L => (f, f + (end - p) - 1L, q)
    }

  /** Spill an entry's over-cap inline lineage to its sidecar; no-op for
    * inline-sized (or already-spilled) entries. Applied centrally at
    * entry rendering so every publish path is covered. */
  private[sources] def spillLineage(root: Path, e: FileEntry): FileEntry =
    if (e.lineage.size <= MaxLineageSegs) e
    else {
      require(e.lineage.forall(s => s._2 >= -1L && s._3 >= 0L),
        "unresolved lineage placeholder at spill — assignLineage must run first")
      val bytes = lineageFileBytes(e.lineage)
      val md = java.security.MessageDigest.getInstance("SHA-1").digest(bytes)
      val name = "lineage-" + md.take(10).map("%02x".format(_)).mkString + ".bin"
      val p = root.resolve(name)
      if (!Files.exists(p)) {
        Files.createDirectories(root)
        val tmp = root.resolve(s"$name.tmp-${java.util.UUID.randomUUID()}")
        Files.write(tmp, bytes)
        try Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp) }
      }
      e.copy(lineage = Seq.empty, lineageRef = Some(name))
    }

  /** CBO count-stats field: `col=ndv:nulls` pairs, comma-joined, either
    * token may be empty (absent stat), column names URL-encoded — the
    * same shape as the string-bounds field. Old manifests simply lack
    * the slot (format-versioned by position, like seq/specId). */
  private[sources] def colCountsStr(ndvs: Map[String, Long],
      nulls: Map[String, Long]): String =
    (ndvs.keySet ++ nulls.keySet).toSeq.sorted.map { c =>
      s"${urlEnc(c)}=${ndvs.get(c).fold("")(_.toString)}:${nulls.get(c).fold("")(_.toString)}"
    }.mkString(",")

  private[sources] def parseColCounts(s: String):
      (Map[String, Long], Map[String, Long]) =
    if (s.isEmpty) (Map.empty, Map.empty)
    else {
      val kvs = s.split(",").toSeq.map { kv =>
        val Array(k, v) = kv.split("=", 2)
        val Array(nd, nl) = v.split(":", 2)
        (urlDec(k), nd, nl)
      }
      (kvs.collect { case (k, nd, _) if nd.nonEmpty => k -> nd.toLong }.toMap,
        kvs.collect { case (k, _, nl) if nl.nonEmpty => k -> nl.toLong }.toMap)
    }

  /** Truncated string bounds field: `col=low:high` pairs, comma-joined,
    * every token URL-encoded. An empty `high` means NO upper bound
    * (increment overflowed) — a genuine empty-string upper bound (every
    * value is "") degrades to absent, which only costs pruning. */
  private[sources] def strBoundsStr(slows: Map[String, String],
      sups: Map[String, String]): String =
    (slows.keySet ++ sups.keySet).toSeq.sorted.map { c =>
      s"${urlEnc(c)}=${slows.get(c).fold("")(urlEnc)}:${sups.get(c).fold("")(urlEnc)}"
    }.mkString(",")

  private[sources] def parseStrBounds(s: String):
      (Map[String, String], Map[String, String]) =
    if (s.isEmpty) (Map.empty, Map.empty)
    else {
      val kvs = s.split(",").toSeq.map { kv =>
        val Array(k, v) = kv.split("=", 2)
        val Array(lo, hi) = v.split(":", 2)
        (urlDec(k), lo, hi)
      }
      (kvs.collect { case (k, lo, _) if lo.nonEmpty => k -> urlDec(lo) }.toMap,
        kvs.collect { case (k, _, hi) if hi.nonEmpty => k -> urlDec(hi) }.toMap)
    }

  // ---- entry-line format generations -------------------------------------
  //
  // Entry lines are format-versioned BY POSITION: a new trailing slot is
  // invisible to a reader that splits with a lower limit — it silently
  // folds the new field into the previous slot (a tab embedded in the
  // last value) and crashes, or worse mis-decodes, far from the cause.
  // The `#minreader` header line is the explicit gate: a version file
  // whose entries use a slot the reader doesn't know carries
  // `#minreader<TAB>N`, and every reader REFUSES files demanding more
  // than its own generation with a clear upgrade error instead of a
  // parse crash. Tables never using the new slot emit no marker, so
  // older readers keep reading them (exactly Iceberg's format-version
  // contract, applied per-feature).
  //
  // Generations: 1 = slots 0..13 (through ndvSk); 2 = slot 14 (qsk,
  // quantile sketches).
  private[sources] val ReaderFormatVersion = 2L
  private[sources] val MinReaderPrefix = "#minreader\t"

  private[sources] def checkMinReader(lines: Iterable[String], where: String): Unit =
    lines.foreach { l =>
      if (l.startsWith(MinReaderPrefix)) {
        val need = l.stripPrefix(MinReaderPrefix).trim.toLong
        if (need > ReaderFormatVersion)
          throw new UnsupportedOperationException(
            s"manifest $where requires reader format version $need; this " +
              s"build reads up to $ReaderFormatVersion — upgrade the reader")
      }
    }

  /** The `#minreader` lines a batch of entries demands — one marker at
    * generation 2 when any entry carries a quantile sketch, nothing
    * otherwise (so generation-1 readers keep reading sketch-free
    * tables). */
  private[sources] def minReaderLines(entries: Seq[FileEntry]): Seq[String] =
    if (entries.exists(_.qsk.nonEmpty)) Seq(s"$MinReaderPrefix$ReaderFormatVersion")
    else Seq.empty

  private[sources] def entryLine(e: FileEntry): String = {
    val base =
      s"${e.name}\t${e.rows}\t${statsStr(e.mins)}\t${statsStr(e.maxs)}\t${partsStr(e.parts)}"
    val dv = e.dvName.fold("")(n => s"$n:${e.dvRows}")
    val bl = e.blooms.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${urlEnc(k)}=$v" }.mkString(",")
    val sb = strBoundsStr(e.slows, e.sups)
    // trailing optional fields: emit earlier slots (possibly empty) when
    // a later field needs its position
    val sq = if (e.seq == 0L) "" else e.seq.toString
    val sp = if (e.specId == 0L) "" else e.specId.toString
    val cc = colCountsStr(e.ndvs, e.nulls)
    val so = e.sorted.map(urlEnc).mkString(",")
    // a spilled entry renders its sidecar reference in the lineage slot
    val li = e.lineageRef.fold(lineageStr(e.lineage))("@" + _)
    val nk = e.ndvSk.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${urlEnc(k)}=$v" }.mkString(",")
    val qk = e.qsk.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${urlEnc(k)}=$v" }.mkString(",")
    if (qk.nonEmpty) s"$base\t$dv\t$bl\t$sb\t$sq\t$sp\t$cc\t$so\t$li\t$nk\t$qk"
    else if (nk.nonEmpty) s"$base\t$dv\t$bl\t$sb\t$sq\t$sp\t$cc\t$so\t$li\t$nk"
    else if (li.nonEmpty) s"$base\t$dv\t$bl\t$sb\t$sq\t$sp\t$cc\t$so\t$li"
    else if (so.nonEmpty) s"$base\t$dv\t$bl\t$sb\t$sq\t$sp\t$cc\t$so"
    else if (cc.nonEmpty) s"$base\t$dv\t$bl\t$sb\t$sq\t$sp\t$cc"
    else if (sp.nonEmpty) s"$base\t$dv\t$bl\t$sb\t$sq\t$sp"
    else if (sq.nonEmpty) s"$base\t$dv\t$bl\t$sb\t$sq"
    else if (sb.nonEmpty) s"$base\t$dv\t$bl\t$sb"
    else if (bl.nonEmpty) s"$base\t$dv\t$bl"
    else if (dv.nonEmpty) s"$base\t$dv"
    else base
  }

  // ---- tree-structured manifests (manifest-list + entry groups) ---------
  //
  // A single flat manifest makes the DRIVER the scale ceiling: at 10⁵–10⁶
  // files × per-column blooms, every query re-reads and re-parses O(table)
  // bytes before planning starts. Past [[inlineThreshold]] entries the
  // version file therefore stops inlining entry lines and becomes a
  // MANIFEST LIST (the Iceberg shape, public knowledge): each `#mgroup`
  // header line references an immutable, CONTENT-ADDRESSED entry-group
  // file (`mgroup-<sha>.txt`, ~[[groupTargetSize]] entries) and carries
  // the group's merged pruning stats — file/row counts, per-column
  // min/max (a column contributes only when every member has it), and the
  // distinct partition-tuple set (capped; '*' = unprunable). Blooms live
  // in a `.blooms.txt` sidecar per group, loaded only when a pushed
  // filter can actually consult one. Because group files are content-
  // addressed and the renderer preserves the previous version's grouping,
  // an append publishes O(delta) metadata bytes (prior groups are
  // re-referenced by name, never rewritten), a surgical delete rewrites
  // only the touched groups, and rollback re-references the target
  // version's groups with zero metadata writes. Version files and group
  // files are all immutable, so (path, name) caches need no invalidation.

  /** Small-file read coalescing target, EXPLICIT setting: scan
    * partitions bin files until ~this many LIVE rows (0 disables; files
    * at or past the target stay solo). Unset (None) means ADAPTIVE:
    * the scan sizes bins to `ceil(totalLiveRows / defaultParallelism)`
    * capped at [[DefaultBinRowsCap]] — tiny tables still fan out to
    * every core while a 10⁵-small-file table collapses to
    * parallelism-many tasks. The planning-time twin of
    * `spark.sql.files.maxPartitionBytes`, in rows because rows are what
    * the manifest records exactly. */
  private[sources] def scanBinRowsOpt: Option[Long] =
    try Option(org.apache.spark.sql.internal.SQLConf.get
      .getConfString("graft.scan.bin-rows", null)).map(_.toLong)
    catch { case _: Exception => None }

  private[sources] val DefaultBinRowsCap = 1048576L

  private[sources] def inlineThreshold: Int =
    sys.props.getOrElse("graft.manifest.inlineThreshold", "64").toInt
  private[sources] def groupTargetSize: Int =
    sys.props.getOrElse("graft.manifest.groupSize", "1000").toInt
  /** Distinct partition tuples recorded per group ref before the summary
    * degrades to '*' (unprunable). Partitioned writes cluster per task,
    * so real groups are usually single-partition. */
  private val MaxGroupParts = 8
  private val GroupRefPrefix = "#mgroup\t"

  private[sources] case class GroupRef(name: String, files: Int, rows: Long,
      mins: Map[String, Long], maxs: Map[String, Long],
      partsSet: Option[Seq[Map[String, String]]], hasBlooms: Boolean,
      slows: Map[String, String] = Map.empty,
      sups: Map[String, String] = Map.empty,
      // the spec EVERY member's tuple was written under (groups with
      // mixed specs never record a partsSet — see [[writeGroup]]);
      // absent in pre-evolution manifests, when only spec 0 existed
      specId: Long = 0L)

  private def groupRefLine(r: GroupRef): String = {
    val parts = r.partsSet.map(_.map(partsStr).mkString(";")).getOrElse("*")
    val base = s"$GroupRefPrefix${r.name}\t${r.files}\t${r.rows}\t${statsStr(r.mins)}\t" +
      s"${statsStr(r.maxs)}\t$parts\t${if (r.hasBlooms) 1 else 0}"
    val sb = strBoundsStr(r.slows, r.sups)
    val sp = if (r.specId == 0L) "" else r.specId.toString
    if (sp.nonEmpty) s"$base\t$sb\t$sp"
    else if (sb.nonEmpty) s"$base\t$sb"
    else base
  }

  private[sources] def parseGroupRefLine(l: String): GroupRef = {
    val p = l.split("\t", 10) // p(0) is the '#mgroup' tag
    val (slows, sups) = parseStrBounds(p.lift(8).getOrElse(""))
    GroupRef(p(1), p(2).toInt, p(3).toLong, parseStats(p(4)), parseStats(p(5)),
      if (p(6) == "*") None else Some(p(6).split(";", -1).toSeq.map(parsePartsStr)),
      p(7) == "1", slows, sups,
      p.lift(9).filter(_.nonEmpty).map(_.toLong).getOrElse(0L))
  }

  /** Tiny synchronized LRU keyed by immutable identity — safe to share
    * across sessions because every cached file is write-once. */
  private final class LruCache[V](capacity: Int) {
    private val m = new java.util.LinkedHashMap[String, V](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean =
        size() > capacity
    }
    def get(key: String)(load: => V): V = m.synchronized {
      val hit = m.get(key)
      if (hit != null) hit else { val v = load; m.put(key, v); v }
    }
  }
  private val groupEntryCache = new LruCache[Seq[FileEntry]](512)
  private val groupBloomCache = new LruCache[Map[String, Map[String, String]]](128)
  private val headerStateCache = new LruCache[TableState](64)
  private val tableStateCache = new LruCache[TableState](32)

  /** Members of one entry group, blooms merged in only on request (stat
    * pruning, counts and most rewrites never need them). */
  private[sources] def readGroupEntries(root: Path, ref: GroupRef,
      withBlooms: Boolean): Seq[FileEntry] = {
    val base = groupEntryCache.get(s"$root/${ref.name}") {
      Files.readString(root.resolve(ref.name)).split("\n").toSeq
        .filter(_.nonEmpty).map(parseEntryLine)
    }
    if (!withBlooms || !ref.hasBlooms) base
    else {
      val blooms = groupBloomCache.get(s"$root/${ref.name}") {
        Files.readString(root.resolve(bloomSidecarName(ref.name))).split("\n").toSeq
          .filter(_.nonEmpty).map { l =>
            val Array(n, kvs) = l.split("\t", 2)
            n -> kvs.split(",").map { kv =>
              val Array(k, v) = kv.split("=", 2); (urlDec(k), v)
            }.toMap
          }.toMap
      }
      base.map(e => blooms.get(e.name).fold(e)(b => e.copy(blooms = b)))
    }
  }

  private[sources] def bloomSidecarName(groupName: String): String =
    groupName.stripSuffix(".txt") + ".blooms.txt"

  /** Create-if-absent write: content-addressed names make an existing
    * target byte-identical by construction, so losing the link race is
    * success. Stages under the `manifest.tmp-` prefix the GC sweeps. */
  private def writeIfAbsent(target: Path, content: String): Unit = {
    if (Files.exists(target)) return
    val tmp = target.getParent.resolve(s"manifest.tmp-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, content)
    try Files.createLink(target, tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    finally Files.deleteIfExists(tmp)
  }

  /** Write one content-addressed entry group (+ bloom sidecar when any
    * member carries blooms) and return its ref with merged pruning
    * stats. */
  private def writeGroup(root: Path, members: Seq[FileEntry]): GroupRef = {
    val entryLines = members.map(e => entryLine(e.copy(blooms = Map.empty)))
    val bloomLines = members.filter(_.blooms.nonEmpty).map { e =>
      s"${e.name}\t" + e.blooms.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${urlEnc(k)}=$v" }.mkString(",")
    }
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest((entryLines.mkString("\n") + "\u0000" + bloomLines.mkString("\n"))
        .getBytes("UTF-8"))
    val name = s"mgroup-${digest.take(12).map("%02x".format(_)).mkString}.txt"
    writeIfAbsent(root.resolve(name), entryLines.mkString("\n"))
    if (bloomLines.nonEmpty)
      writeIfAbsent(root.resolve(bloomSidecarName(name)), bloomLines.mkString("\n"))
    val statCols = members.map(_.mins.keySet).reduce(_ intersect _)
      .intersect(members.map(_.maxs.keySet).reduce(_ intersect _))
    val parts = members.map(_.parts).distinct
    // a recorded tuple set is only decidable under ONE spec: mixed-spec
    // groups degrade to '*' (stats still prune; entry-level tuple
    // pruning stays exact after the group loads)
    val specIds = members.map(_.specId).distinct
    GroupRef(name, members.size, members.map(_.rows).sum,
      statCols.map(c => c -> members.map(_.mins(c)).min).toMap,
      statCols.map(c => c -> members.map(_.maxs(c)).max).toMap,
      if (parts.size <= MaxGroupParts && specIds.size == 1) Some(parts) else None,
      bloomLines.nonEmpty,
      mergeStrLowers(members.map(_.slows)), mergeStrUppers(members.map(_.sups)),
      specIds.headOption.getOrElse(0L))
  }

  /** Lossless merges for truncated string bounds — min of lowers / max
    * of uppers, a column contributing only when EVERY member carries the
    * bound (absence is indistinguishable from "not collected", so a
    * missing member bound poisons the merged one to absent = may-match).
    * Lowers and uppers merge independently: an upper can overflow away
    * on one member while its lower survives. */
  private[sources] def mergeStrLowers(ms: Seq[Map[String, String]]): Map[String, String] =
    if (ms.isEmpty) Map.empty
    else ms.map(_.keySet).reduce(_ intersect _).iterator.map(c =>
      c -> ms.map(_(c)).reduce((a, b) => if (utf8Compare(a, b) <= 0) a else b)).toMap
  private[sources] def mergeStrUppers(ms: Seq[Map[String, String]]): Map[String, String] =
    if (ms.isEmpty) Map.empty
    else ms.map(_.keySet).reduce(_ intersect _).iterator.map(c =>
      c -> ms.map(_(c)).reduce((a, b) => if (utf8Compare(a, b) >= 0) a else b)).toMap

  /** Render a version's entry section: inline lines at or under
    * [[inlineThreshold]] entries, `#mgroup` refs above it. Grouping is
    * preserved from `prevGroups`: a prior group whose surviving members
    * are all byte-identical is re-referenced without touching disk; a
    * group with modified or removed members is rewritten once, keeping
    * its locality; entries in no prior group chunk into fresh groups of
    * [[groupTargetSize]]. */
  private[sources] def renderEntrySection(root: Path, entries0: Seq[FileEntry],
      prevGroups: Seq[GroupRef]): Seq[String] = {
    // over-cap lineage spills to content-addressed sidecars HERE so
    // every publish path is covered by one seam
    val entries = entries0.map(e => spillLineage(root, e))
    if (entries.size <= inlineThreshold)
      return minReaderLines(entries) ++ entries.map(entryLine)
    Files.createDirectories(root)
    val byName = entries.iterator.map(e => e.name -> e).toMap
    val used = scala.collection.mutable.HashSet.empty[String]
    val refs = Seq.newBuilder[GroupRef]
    for (g <- prevGroups) {
      val prev = readGroupEntries(root, g, withBlooms = true)
      val current = prev.flatMap(pm => byName.get(pm.name))
      current.foreach(e => used += e.name)
      if (current == prev) refs += g
      else if (current.nonEmpty) refs += writeGroup(root, current)
    }
    val fresh = entries.filterNot(e => used(e.name))
    fresh.grouped(groupTargetSize).foreach(chunk => refs += writeGroup(root, chunk))
    // the marker guards the version file even when the format-2 entry
    // lines live in group files: every group read resolves through this
    // version file first
    minReaderLines(entries) ++ refs.result().map(groupRefLine)
  }

  /** (inline entries, group refs) of one version file — the cheap,
    * list-level parse that planning works from. */
  private[sources] def versionSections(root: Path,
      v: Long): (Seq[FileEntry], Seq[GroupRef]) = {
    val lines = Files.readString(manifestAt(root, v)).split("\n").toSeq.drop(1)
    checkMinReader(lines, s"$root@v$v")
    (lines.filter(l => l.nonEmpty && !l.startsWith("#")).map(parseEntryLine),
      lines.filter(_.startsWith(GroupRefPrefix)).map(parseGroupRefLine))
  }

  private def asLong(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case _ => None
  }

  /** Can `e` possibly contain a row passing `f`, judged by the per-file
    * integer min/max stats? Unknown stats or non-integer operands => yes.
    * Shared by planning-time skip filters and runtime (DPP-style) join
    * filters. */
  private[sources] def mayMatch(e: FileEntry, f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    // truncated string bounds: every value x in the file satisfies
    // slow <= x <= sup (UTF-8 binary order — see the bounds section);
    // a missing side is may-match
    def strInRange(c: String, v: String): Boolean =
      e.slows.get(c).forall(lo => utf8Compare(v, lo) >= 0) &&
        e.sups.get(c).forall(hi => utf8Compare(v, hi) <= 0)
    // runtime (DPP-style) filters carry UTF8String literals where
    // planner-pushed ones carry String — normalize so one set of string
    // cases (blooms + bounds) serves both
    val nf = f match {
      case EqualTo(c, u: UTF8String) => EqualTo(c, u.toString)
      case EqualNullSafe(c, u: UTF8String) => EqualNullSafe(c, u.toString)
      case GreaterThan(c, u: UTF8String) => GreaterThan(c, u.toString)
      case GreaterThanOrEqual(c, u: UTF8String) => GreaterThanOrEqual(c, u.toString)
      case LessThan(c, u: UTF8String) => LessThan(c, u.toString)
      case LessThanOrEqual(c, u: UTF8String) => LessThanOrEqual(c, u.toString)
      case In(c, vs) if vs != null && vs.exists(_.isInstanceOf[UTF8String]) =>
        In(c, vs.map { case u: UTF8String => u.toString; case x => x })
      case other => other
    }
    // lineage-column pruning: the INCREMENTAL-CONSUMER path — a filter
    // like `_last_updated_version > V` ("rows changed since V") skips
    // every file whose segments all predate V, metadata-only. Bounds
    // derive from the entry's inline segments: id ranges from non-gap
    // runs, versions from segment stamps. A spill sidecar is may-match
    // (loading it at planning would put sidecar I/O on every query's
    // plan path); a pre-lineage file serves NULL, which no comparison
    // matches — prunable. Deletes only remove rows, so bounds stay
    // sound under DVs and equality deletes.
    def lineageBounds(idCol: Boolean): (Boolean, Option[(Long, Long)]) =
      if (e.lineageRef.isDefined) (true, None) // unknown: may-match
      else {
        val known = lineageRuns(e.lineage, e.rows)
          .map { case (f, l, q) => if (idCol) (f, l) else (q, q) }
        (false,
          if (known.isEmpty) None // all rows read NULL
          else Some((known.map(_._1).min, known.map(_._2).max)))
      }
    def cmpLineage(c: String, test: (Long, Long) => Boolean): Boolean = {
      val (unknown, b) = lineageBounds(c == RowIdColumn)
      unknown || b.exists { case (lo, hi) => test(lo, hi) }
    }
    def isLineageCol(c: String): Boolean =
      c == RowIdColumn || c == LastUpdatedColumn
    nf match {
      case EqualTo(c, v) if isLineageCol(c) => asLong(v).forall(x =>
        cmpLineage(c, (lo, hi) => lo <= x && x <= hi))
      case GreaterThan(c, v) if isLineageCol(c) =>
        asLong(v).forall(x => cmpLineage(c, (_, hi) => hi > x))
      case GreaterThanOrEqual(c, v) if isLineageCol(c) =>
        asLong(v).forall(x => cmpLineage(c, (_, hi) => hi >= x))
      case LessThan(c, v) if isLineageCol(c) =>
        asLong(v).forall(x => cmpLineage(c, (lo, _) => lo < x))
      case LessThanOrEqual(c, v) if isLineageCol(c) =>
        asLong(v).forall(x => cmpLineage(c, (lo, _) => lo <= x))
      // the runtime/planner IN-set shape on lineage columns — the
      // documented _row_id probe pattern: the file survives iff ANY key
      // may fall inside its id/version bounds
      case In(c, vs) if isLineageCol(c) && vs != null && vs.nonEmpty =>
        vs.exists(v => asLong(v).forall(x =>
          cmpLineage(c, (lo, hi) => lo <= x && x <= hi)))
      // `_file` membership — the row-level runtime group filter names
      // EXACT files; this is a decision, not a may-match, but a false
      // here only skips a read so absence-tolerance is unnecessary
      case In(c, vs) if c == FileNameColumn && vs != null && vs.nonEmpty =>
        vs.contains(e.name)
      case EqualTo(c, v: String) if c == FileNameColumn => v == e.name
      // string equality prunes by the per-file bloom AND the range
      // (absence of either = may-match on that side)
      case EqualTo(c, v: String) =>
        e.blooms.get(c).forall(bloomMayContain(_, v)) && strInRange(c, v)
      case EqualNullSafe(c, v: String) =>
        e.blooms.get(c).forall(bloomMayContain(_, v)) && strInRange(c, v)
      case In(c, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        e.blooms.get(c).forall(b =>
          vs.exists(v => bloomMayContain(b, v.asInstanceOf[String]))) &&
          vs.exists(v => strInRange(c, v.asInstanceOf[String]))
      // string range predicates prune by the truncated bounds alone
      case GreaterThan(c, v: String) =>
        e.sups.get(c).forall(hi => utf8Compare(hi, v) > 0)
      case GreaterThanOrEqual(c, v: String) =>
        e.sups.get(c).forall(hi => utf8Compare(hi, v) >= 0)
      case LessThan(c, v: String) =>
        e.slows.get(c).forall(lo => utf8Compare(lo, v) < 0)
      case LessThanOrEqual(c, v: String) =>
        e.slows.get(c).forall(lo => utf8Compare(lo, v) <= 0)
      // LIKE 'p%': values with prefix p live in [p, increment(p)) — the
      // file may match iff that interval intersects [slow, sup]
      case StringStartsWith(c, p) =>
        e.sups.get(c).forall(hi => utf8Compare(hi, p) >= 0) &&
          incrementCp(p).forall(pu =>
            e.slows.get(c).forall(lo => utf8Compare(lo, pu) < 0))
      case EqualTo(c, v) => asLong(v).forall(x =>
        e.mins.get(c).forall(_ <= x) && e.maxs.get(c).forall(_ >= x))
      case GreaterThan(c, v) => asLong(v).forall(x => e.maxs.get(c).forall(_ > x))
      case GreaterThanOrEqual(c, v) => asLong(v).forall(x => e.maxs.get(c).forall(_ >= x))
      case LessThan(c, v) => asLong(v).forall(x => e.mins.get(c).forall(_ < x))
      case LessThanOrEqual(c, v) => asLong(v).forall(x => e.mins.get(c).forall(_ <= x))
      case In(c, vs) =>
        // the runtime-filter shape: join keys arrive as an IN-set; the
        // file survives if ANY key falls inside its [min, max] range
        vs.isEmpty || vs.exists(v => asLong(v).forall(x =>
          e.mins.get(c).forall(_ <= x) && e.maxs.get(c).forall(_ >= x)))
      case _ => true
    }
  }

  /** Fully parsed state of the CURRENT manifest version — version
    * number, stored schema, epoch markers and file entries resolved from
    * ONE directory listing + ONE file read, so a commit's read-point is
    * a single consistent snapshot (separate reads could interleave with
    * a concurrent publish and pair version N's number with version N+1's
    * entries) and a commit doesn't pay repeated O(table) manifest
    * re-reads. */
  private[sources] case class TableState(version: Long, schema: Option[StructType],
      markers: Map[String, Long], entries: Seq[FileEntry],
      partCols: Seq[String] = Seq.empty,
      colMap: Map[String, String] = Map.empty,
      schemaEpoch: Long = 0L,
      deleteMode: String = DeleteModeCow,
      bloomCols: Seq[String] = Seq.empty,
      sortCols: Seq[String] = Seq.empty,
      groups: Seq[GroupRef] = Seq.empty,
      props: Map[String, String] = Map.empty,
      // the FULL partition spec (transforms included); invariant:
      // partSpec.map(_.col) == partCols when nonEmpty. Callers that only
      // need source names keep reading partCols; value computation and
      // pruning decisions consult the spec. Empty = all-identity.
      partSpec: Seq[PartTransform] = Seq.empty,
      // outstanding equality-delete records, in commit order
      eqDels: Seq[EqDelRec] = Seq.empty,
      // PARTITION-SPEC EVOLUTION (the Iceberg shape): the CURRENT spec's
      // id (0 = the spec the table was created with) and every ARCHIVED
      // spec by id. A file entry carries the id of the spec it was
      // WRITTEN under; pruning decisions always evaluate an entry's
      // tuple with ITS spec's transforms ([[transformsFor]]) — a raw
      // identity value interpreted as a bucket id (or vice versa) would
      // prune or prove WRONG files.
      specId: Long = 0L,
      pastSpecs: Map[Long, Seq[PartTransform]] = Map.empty,
      // ROW-LINEAGE high-water mark (Iceberg v3 next-row-id): the next
      // unassigned row id. Publishers that add fresh data files assign
      // [nextRowId, nextRowId + rows) per file and bump this; every
      // publisher carries it forward. 0 on tables written before row
      // lineage — the first lineage-assigning commit starts numbering
      // there.
      nextRowId: Long = 0L) {
    /** The spec with the all-identity fallback applied — what metaLines
      * renders and decision sites consume. */
    def effectiveSpec: Seq[PartTransform] =
      if (partSpec.nonEmpty) partSpec else partCols.map(PIdentity)
    /** column → transform, identity omitted-or-present both fine.
      * Memoized: pruning consults this once per entry per filter. */
    lazy val partTransforms: Map[String, PartTransform] =
      effectiveSpec.map(t => t.col -> t).toMap
    /** Archived specs as transform maps, memoized once per state. */
    lazy val pastTransformMaps: Map[Long, Map[String, PartTransform]] =
      pastSpecs.map { case (id, sp) => id -> sp.map(t => t.col -> t).toMap }
    /** The transforms an ENTRY's partition tuple must be read under: its
      * own spec. None for an unknown archived id (never produced by the
      * evolve path, which always archives) — callers must then refuse
      * tuple decisions entirely: evalPartFilter treats a missing
      * transform as IDENTITY, so "empty map" would misread transformed
      * tuples, the one wrong direction. */
    def transformsForOpt(e: FileEntry): Option[Map[String, PartTransform]] =
      if (e.specId == specId) Some(partTransforms)
      else pastTransformMaps.get(e.specId)
    /** Non-entry, non-schema header lines every publisher carries:
      * partition spec, column mapping, schema epoch, delete mode,
      * bloom columns, write ordering, user properties, stream markers. */
    def metaLines: Seq[String] =
      nextRowIdLine(nextRowId).toSeq ++
        partSpecLine(effectiveSpec).toSeq ++ specIdLine(specId).toSeq ++
        pastSpecs.toSeq.sortBy(_._1).map((pastSpecLine _).tupled) ++
        colMapLine(colMap).toSeq ++
        schemaEpochLine(schemaEpoch).toSeq ++ deleteModeLine(deleteMode).toSeq ++
        bloomColsLine(bloomCols).toSeq ++ sortColsLine(sortCols).toSeq ++
        tblPropsLine(props).toSeq ++
        eqDels.sortBy(r => (r.seq, r.name)).map(eqDelLine) ++
        markers.toSeq.sortBy(_._1).map((markerLine _).tupled)
  }

  /** Header-only parse of a snapshot: schema, structural meta, markers,
    * INLINE entries and group REFS — group entry files are not touched.
    * This is the table-structure read of the planning path; use
    * [[readState]] when the full entry list is needed (commits). Version
    * files and their entry groups are immutable, so (root, v) fully
    * determines the parse and the caches never invalidate. */
  private[sources] def readHeader(root: Path, pinned: Option[Long] = None): TableState = {
    val v = resolveVersion(root, pinned)
    if (v > 0L) headerStateCache.get(s"$root@$v") {
      val lines = Files.readString(manifestAt(root, v)).linesIterator.toSeq
      checkMinReader(lines.tail, s"$root@v$v")
      val refs = lines.tail.filter(_.startsWith(GroupRefPrefix)).map(parseGroupRefLine)
      TableState(v,
        Some(DataType.fromJson(lines.head).asInstanceOf[StructType]),
        lines.tail.filter(_.startsWith(EpochMarkerPrefix)).map { l =>
          val p = l.split("\t"); (p(1), p(2).toLong)
        }.toMap,
        lines.tail.filter(l => l.nonEmpty && !l.startsWith("#")).map(parseEntryLine),
        lines.tail.find(_.startsWith(PartColsPrefix))
          .map(_.stripPrefix(PartColsPrefix).split(",").toSeq
            .filter(_.nonEmpty).map(t => parsePartToken(urlDec(t)).col))
          .getOrElse(Seq.empty),
        parseHeaderMap(lines.tail, ColMapPrefix),
        lines.tail.find(_.startsWith(SchemaEpochPrefix))
          .map(_.stripPrefix(SchemaEpochPrefix).trim.toLong).getOrElse(0L),
        lines.tail.find(_.startsWith(DeleteModePrefix))
          .map(_.stripPrefix(DeleteModePrefix).trim).getOrElse(DeleteModeCow),
        lines.tail.find(_.startsWith(BloomColsPrefix))
          .map(_.stripPrefix(BloomColsPrefix).split(",").toSeq
            .filter(_.nonEmpty).map(urlDec))
          .getOrElse(Seq.empty),
        lines.tail.find(_.startsWith(SortColsPrefix))
          .map(_.stripPrefix(SortColsPrefix).split(",").toSeq
            .filter(_.nonEmpty).map(urlDec))
          .getOrElse(Seq.empty),
        refs,
        parseHeaderMap(lines.tail, TblPropsPrefix),
        lines.tail.find(_.startsWith(PartColsPrefix))
          .map(_.stripPrefix(PartColsPrefix).split(",").toSeq
            .filter(_.nonEmpty).map(t => parsePartToken(urlDec(t))))
          .getOrElse(Seq.empty),
        lines.tail.filter(_.startsWith(EqDelPrefix)).map(parseEqDelLine),
        lines.tail.find(_.startsWith(SpecIdPrefix))
          .map(_.stripPrefix(SpecIdPrefix).trim.toLong).getOrElse(0L),
        lines.tail.filter(_.startsWith(PastSpecPrefix))
          .map(parsePastSpecLine).toMap,
        lines.tail.find(_.startsWith(NextRowIdPrefix))
          .map(_.stripPrefix(NextRowIdPrefix).trim.toLong).getOrElse(0L))
    } else TableState(0L, None, Map.empty, Seq.empty)
  }

  /** Fully-resolved state: [[readHeader]] plus every group expanded
    * (blooms included — commit paths re-publish them). */
  private[sources] def readState(root: Path, pinned: Option[Long] = None): TableState = {
    val h = readHeader(root, pinned)
    if (h.groups.isEmpty) h
    else tableStateCache.get(s"$root@${h.version}") {
      h.copy(entries = h.entries ++
        h.groups.flatMap(readGroupEntries(root, _, withBlooms = true)))
    }
  }

  /** Inline segment-count cap: past this the segments live in a
    * content-addressed sidecar (see [[spillLineage]]) instead of the
    * manifest line. */
  private[sources] val MaxLineageSegs = 1024

  /** Absolute segment-count ceiling (sidecars included): a per-row-
    * alternating pathology on a huge file would otherwise make the
    * lineage map rival the data in size. Past this the rewritten file
    * honestly degrades (gap for remaps/merges, fresh for writer
    * capture) instead. 2^20 segments = 24 MB sidecar worst case. */
  private[sources] val MaxCapturedSegs = 1 << 20

  /** Remap a file's lineage through a SURVIVORS-IN-ORDER rewrite (DV
    * purge, equality-delete materialization, copy-on-write delete):
    * feed each SURVIVING row's old physical position in increasing
    * order; [[segments]] is the rewritten file's lineage — row ids are
    * PRESERVED across the rewrite (the Iceberg v3 guarantee), with
    * consecutive survivors folding into one segment. Rows falling in a
    * lineage gap fold into `-1` gap segments; a file with no lineage at
    * all yields none (the rewrite stays pre-lineage). */
  private[sources] final class LineageRemapper(old: Seq[(Long, Long, Long)]) {
    private val segs = old.toArray
    private var si = 0
    private val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    private var newPos = -1L
    def add(oldPos: Long): Unit = {
      newPos += 1
      if (segs.isEmpty) return
      while (si + 1 < segs.length && segs(si + 1)._1 <= oldPos) si += 1
      val known = segs(si)._1 <= oldPos && segs(si)._2 != -1L
      val id = if (known) segs(si)._2 + (oldPos - segs(si)._1) else -1L
      val sq = if (known) segs(si)._3 else 0L
      val extend = out.nonEmpty && {
        val (s, f, q) = out.last
        if (f == -1L) id == -1L
        else id != -1L && q == sq && id - f == newPos - s
      }
      if (!extend) out += ((newPos, id, sq))
    }
    def segments: Seq[(Long, Long, Long)] =
      if (out.isEmpty) Seq.empty
      else if (out.size > MaxCapturedSegs) Seq((0L, -1L, 0L))
      else out.toSeq
  }

  /** Concatenation lineage of a bin-merge: each member's segments shift
    * by the member's offset in the merged file; members without lineage
    * contribute a gap. All-gap or over-ceiling results degrade
    * honestly. Spilled members load their sidecars through `root`. */
  private[sources] def concatLineage(root: Path,
      members: Seq[FileEntry]): Seq[(Long, Long, Long)] = {
    var off = 0L
    val segs = members.flatMap { m =>
      val ml = m.lineageSegs(root)
      val s =
        if (ml.isEmpty) Seq((off, -1L, 0L))
        else ml.map { case (p, f, q) => (off + p, f, q) }
      off += m.rows
      s
    }
    if (segs.forall(_._2 == -1L)) Seq.empty
    else if (segs.size > MaxCapturedSegs) Seq((0L, -1L, 0L))
    else segs
  }

  /** Writer-side marker for a run of rows that need FRESH ids at
    * commit (UPDATE/MERGE-produced rows inside an otherwise
    * id-preserving rewrite file). Resolved by [[assignLineage]]; must
    * never reach a rendered manifest line. */
  private[sources] val FreshRowIdMarker = -2L

  /** Writer-side marker in a segment's version slot: the row KEPT its
    * id but its last-updated was nullified by the rewrite (an UPDATEd
    * row under PRESERVE_ON_UPDATE=false) — stamp the committing
    * version at publish. Never rendered. */
  private[sources] val StampVersionMarker = -1L

  /** Assign fresh row lineage: entries that carry none get one segment
    * covering physical positions [0, rows) starting at the table's
    * next-row-id, stamped with the committing version (Iceberg v3
    * first-row-id assignment, done commit-side so CAS rebases
    * re-assign consistently). Entries carrying [[FreshRowIdMarker]]
    * runs (a row-level rewrite's changed/inserted rows interleaved
    * with preserved carry-over runs) have each marker run filled with
    * a contiguous fresh range. Fully-resolved lineage passes through
    * untouched. Returns the updated entries and the new high-water
    * mark. */
  private[sources] def assignLineage(entries: Seq[FileEntry], startId: Long,
      version: Long): (Seq[FileEntry], Long) = {
    var nid = startId
    val out = entries.map { e =>
      if (e.rows == 0L) e.copy(lineage = Seq.empty) // nothing to number
      else if (e.lineage.isEmpty && e.lineageRef.isEmpty) {
        val f = nid; nid += e.rows; e.copy(lineage = Seq((0L, f, version)))
      } else if (e.lineage.exists(s =>
          s._2 == FreshRowIdMarker || s._3 == StampVersionMarker)) {
        // run length = next segment's start (or the file's row count)
        val ends = e.lineage.drop(1).map(_._1) :+ e.rows
        val filled = e.lineage.zip(ends).map { case ((p, f, q), end) =>
          if (f == FreshRowIdMarker) { val a = nid; nid += end - p; (p, a, version) }
          else if (q == StampVersionMarker) (p, f, version)
          else (p, f, q)
        }
        e.copy(lineage = filled)
      } else e
    }
    (out, nid)
  }

  /** Assemble and commit one new manifest version: stored-schema
    * compat + nullability merge, entry union (or replacement on
    * truncate), epoch-marker carry-forward. The single commit path
    * shared by [[ManifestBatchWrite]] and [[ManifestStreamingWrite]] —
    * batch and streaming writes to the same table therefore interleave
    * safely under the same CAS. Throws
    * [[java.util.ConcurrentModificationException]] if another writer
    * published first and the commit may not rebase. */
  private[sources] def publishCommit(root: Path, schema: StructType,
      truncateFirst: Boolean, newEntries: Seq[FileEntry],
      markerUpdate: Option[(String, Long)], gc: GcPolicy,
      createPartSpec: Seq[PartTransform] = Seq.empty,
      createDeleteMode: String = DeleteModeCow,
      createBloomCols: Seq[String] = Seq.empty,
      createSortCols: Seq[String] = Seq.empty,
      createProps: Map[String, String] = Map.empty): Unit = {
    Files.createDirectories(root)
    // APPEND-ONLY commits retry on a lost CAS by REBASING: an append's
    // file set is disjoint from any concurrent commit's by construction
    // (task files are attempt-unique), so re-reading the new table state
    // and re-applying the same entries is always semantics-preserving —
    // the Delta/Iceberg disjoint-file retry rule, which also means MORE
    // attempts are strictly safer: under an N-way commit storm one
    // appender can lose many consecutive races (each loser re-races the
    // whole survivor pack), so the bound is generous rather than tight.
    // A TRUNCATE read the table state to decide what to destroy; its
    // loss stays loud (attempts = 1), as does a compaction's (see
    // [[compact]]).
    // ONE consistent snapshot per attempt: version, schema, markers and
    // entries all come from the same manifest read (see TableState)
    commit(root, Rebase(if (truncateFirst) 1 else 20), gc) { (st, _) =>
      val existingSchema = st.schema
      existingSchema.foreach { s =>
        // name+type compatibility; nullability flags may legitimately
        // differ between a DataFrame schema and the stored one — and for
        // nested types (array element / map value / struct field) the
        // flag lives INSIDE the DataType, so the comparison strips it
        // recursively (an aggregate-produced ARRAY<BIGINT NOT NULL>
        // appends fine into an ARRAY<BIGINT> column)
        require(truncateFirst ||
          s.fields.map(f => (f.name, stripNullability(f.dataType))).toSeq ==
            schema.fields.map(f => (f.name, stripNullability(f.dataType))).toSeq,
          s"append schema $schema does not match table schema $s")
      }
      // On append the STORED schema wins, with nullability OR-merged AT
      // EVERY NESTING LEVEL: an incoming non-nullable flag must not
      // re-label a table whose earlier files may contain nulls (the
      // optimizer would exploit nullable=false incorrectly); the reverse
      // widening (stored false, incoming true) is safe and recorded.
      val schemaToStore = existingSchema match {
        case Some(s) if !truncateFirst =>
          StructType(s.fields.zip(schema.fields).map { case (sf, nf) =>
            sf.copy(dataType = orNullability(sf.dataType, nf.dataType),
              nullable = sf.nullable || nf.nullable)
          })
        case _ => schema
      }
      // Read-point for the CAS: the version whose entries this commit
      // extends. If another job publishes v(base+1) first, the publish
      // fails — loudly past the attempt bound, else into a rebase.
      val base = st.version
      // data sequence: new files carry the version this commit publishes,
      // so later equality deletes can govern exactly the files that
      // preceded them
      val (assignedNew, nextRid) = assignLineage(
        newEntries.map(_.copy(seq = base + 1L)), st.nextRowId, base + 1L)
      val all =
        (if (truncateFirst) Seq.empty else st.entries) ++ assignedNew
      // Epoch markers survive truncate: a complete-mode epoch replaces the
      // DATA but the exactly-once high-water mark must persist, or a
      // restart would double-apply the epoch it just committed.
      // partitioning/column-mapping are table STRUCTURE: an existing
      // table's persist across every commit (truncate included);
      // createPartSpec only seeds a brand-new table's first version
      Commit(st.copy(schema = Some(schemaToStore), entries = all,
        markers = st.markers ++ markerUpdate,
        partCols = if (st.version > 0L) st.partCols else createPartSpec.map(_.col),
        partSpec = if (st.version > 0L) st.partSpec else createPartSpec,
        // a truncate leaves no governed files: dropping the records here
        // releases their sidecars to retention instead of carrying
        // no-op metadata forever
        eqDels = if (truncateFirst) Seq.empty else st.eqDels,
        deleteMode = if (st.version > 0L) st.deleteMode else createDeleteMode,
        bloomCols = if (st.version > 0L) st.bloomCols else createBloomCols,
        sortCols = if (st.version > 0L) st.sortCols else createSortCols,
        props = if (st.version > 0L) st.props else createProps,
        nextRowId = nextRid), ())
    }
  }

  private[sources] def committedFiles(root: Path): Seq[String] =
    committedEntries(root).map(_.name)

  /** Publish the commit of a group-based row-level rewrite: version
    * `baseVersion`'s entries minus `replaced` plus `newEntries`, CAS'd
    * against `baseVersion` so the swap only lands on the exact snapshot
    * the rewrite scan read. On a lost CAS the new files are deleted and
    * the loss is re-thrown — the caller re-runs against the new state.
    * The resulting version is a data change (rows were modified), so the
    * change feed's pure-append check fails across it by design, exactly
    * like a copy-on-write DELETE's version. */
  private[sources] def publishReplace(root: Path, baseVersion: Long,
      replaced: Set[String], newEntries0: Seq[FileEntry], gc: GcPolicy): Unit = {
    // row-level rewrites read through the scan (equality deletes already
    // applied), so replacement files start a fresh sequence
    val newEntries1 = newEntries0.map(_.copy(seq = baseVersion + 1L))
    commit(root, SingleShot, gc, first = Some(readState(root, Some(baseVersion)))) {
      (st, _) =>
        val kept = st.entries.filterNot(e => replaced(e.name))
        // rewrite outputs whose lineage the caller preserved (a
        // bin-merge's member segments) pass through; anything else is
        // spec-fallback NEW rows — fresh ids, last-updated = this version
        val (newEntries, nextRid) =
          assignLineage(newEntries1, st.nextRowId, baseVersion + 1L)
        Commit(st.copy(nextRowId = nextRid, entries = kept ++ newEntries), (),
          newEntries.map(_.name))
    }
  }

  /** Publish an INSERT OVERWRITE over a PARTITION SUBSET: entries whose
    * partition tuple is claimed by `replaceParts` (dynamic mode — the
    * partitions the new files landed in) or matched by `filters` (static
    * mode — `PARTITION (c = 'x')` clauses) are dropped, everything else
    * is carried by reference, and the new files append — one CAS
    * publish. Retries REBASE like appends: the replaced-partition set is
    * decided by this overwrite's own payload/clauses, not by table
    * state, so re-applying against a moved table is the documented
    * last-writer-wins of partition overwrite (a concurrent append into
    * a replaced partition loses its rows to the overwrite; into any
    * other partition it is preserved). */
  private[sources] def publishPartitionOverwrite(root: Path, schema: StructType,
      newEntries: Seq[FileEntry],
      replaceParts: Option[Set[Map[String, String]]],
      filters: Seq[org.apache.spark.sql.sources.Filter],
      gc: GcPolicy): Unit = {
    def replaced(e: FileEntry, tf: Map[String, PartTransform]): Boolean = replaceParts match {
      case Some(parts) => parts.contains(e.parts)
      // static mode: a filter UNDECIDABLE on the partition tuple would
      // make the overwrite's victim set depend on row data we refuse to
      // read here. The write builder's reference check does not cover
      // SHAPE (e.g. StringStartsWith over a partition column passes it),
      // so an undecidable evaluation must FAIL the statement — silently
      // keeping the file would turn the overwrite into an append and
      // double the partition's data.
      case None => filters.forall { f =>
        evalPartFilter(f, e.parts, tf).getOrElse(throw new IllegalArgumentException(
          s"static partition overwrite filter $f is not decidable from " +
            s"partition values ${e.parts} — use equality/IN/null filters " +
            "on partition columns, or dynamic overwrite mode"))
      }
    }
    commit(root, Rebase(5), gc) { (st, _) =>
      require(st.version > 0L,
        s"partition overwrite requires a versioned manifest table at $root")
      // DYNAMIC overwrite matches victims by tuple EQUALITY, which is
      // only meaningful against entries of the SAME spec as the new
      // files (an identity value and a bucket id can share the same
      // string); old-spec survivors may also hold rows belonging to a
      // replaced partition — undecidable without reading, so fail
      // loudly instead of silently turning the overwrite into an append
      if (replaceParts.isDefined) {
        val stale = st.entries.filter(e =>
          e.specId != newEntries.headOption.fold(st.specId)(_.specId))
        require(stale.isEmpty,
          s"dynamic partition overwrite across partition-spec evolution " +
            s"is not decidable (${stale.size} file(s) carry older specs); " +
            "run migrateToCurrentSpec first, or use REPLACE WHERE with " +
            "decidable filters")
      }
      // fresh data sequence: the overwrite's rows arrive AFTER any
      // outstanding equality delete and must not be governed by it.
      // Static victims evaluate per entry under ITS OWN spec — exact for
      // interval transforms, loud for bucket-undecidable shapes.
      val (assignedNew, nextRid) = assignLineage(
        newEntries.map(_.copy(seq = st.version + 1L)), st.nextRowId,
        st.version + 1L)
      val entries =
        st.entries.filterNot(e => replaced(e, st.transformsForOpt(e).getOrElse(
          throw new IllegalArgumentException(
            s"file ${e.name} was written under unknown partition spec " +
              s"${e.specId} — overwrite victim selection is undecidable")))) ++
          assignedNew
      Commit(st.copy(schema = Some(schema), nextRowId = nextRid, entries = entries), ())
    }
  }

  /** ALTER TABLE: ADD / RENAME / DROP COLUMN as METADATA-ONLY commits —
    * no data file is touched, ever.
    *
    *  - ADD COLUMN appends a nullable field whose PHYSICAL name is
    *    epoch-unique (`name_eN`): files written before the add simply
    *    lack the physical column and read as null; a column dropped and
    *    later re-added can never resurrect the dropped bytes, because
    *    the new physical name matches nothing historical.
    *  - RENAME COLUMN moves only metadata: the logical schema field, the
    *    column-mapping entry (physical name stays immutable), and every
    *    entry's stats/partition keys are rewritten in the SAME commit, so
    *    pruning and aggregate pushdown keep working under the new name.
    *  - DROP COLUMN removes the field from the logical schema; the bytes
    *    remain in files (reclaimed by the next rewrite) but are
    *    unreachable — readers never request the physical column again.
    *
    * Publishes under the ordinary CAS with append-style rebase (schema
    * changes commute with concurrent appends: the re-read state is
    * re-altered from scratch each attempt). */
  def alterSchema(root: Path,
      changes: Seq[org.apache.spark.sql.connector.catalog.TableChange]): Unit = {
    import org.apache.spark.sql.connector.catalog.TableChange
    commit(root, Rebase(5)) { (st, attempt) =>
      require(st.version > 0L,
        s"ALTER TABLE requires a versioned manifest table at $root")
      var schema = schemaOf(root, st)
      var colMap = st.colMap
      var partCols = st.partCols
      var partSpec0 = st.effectiveSpec
      var pastSpecs0 = st.pastSpecs
      var eqDels0 = st.eqDels
      var entries = st.entries
      var bloomCols = st.bloomCols
      var sortCols = st.sortCols
      var deleteMode0 = st.deleteMode
      var props0 = st.props
      // a property-only ALTER must not bump the schema epoch: non-zero
      // epoch makes every scan probe per-file footers forever after
      val schemaChange = changes.exists {
        case _: TableChange.SetProperty | _: TableChange.RemoveProperty => false
        case _: TableChange.AddConstraint | _: TableChange.DropConstraint => false
        case _ => true
      }
      val newEpoch = if (schemaChange) st.schemaEpoch + 1 else st.schemaEpoch

      def single(names: Array[String], what: String): String = {
        require(names.length == 1,
          s"$what supports top-level columns only, got ${names.mkString(".")}")
        names(0)
      }
      def renameKeys(m: Map[String, Long], from: String, to: String): Map[String, Long] =
        m.map { case (k, v) => (if (k == from) to else k, v) }

      changes.foreach {
        case a: TableChange.AddColumn =>
          val name = single(a.fieldNames, "ADD COLUMN")
          require(!schema.fieldNames.contains(name), s"column $name already exists")
          // a DEFAULT gives existing rows a value, so non-null is sound
          // with one; without one, existing rows can only read NULL
          require(a.isNullable || a.defaultValue() != null,
            s"ADD COLUMN $name must be nullable or carry a DEFAULT: " +
              "existing rows have no value for it")
          // honest failure beats silent misplacement: columns append at
          // the END (per-file reconciliation is name-keyed, not
          // position-keyed), so FIRST/AFTER cannot be honored
          require(a.position() == null,
            s"ADD COLUMN $name FIRST/AFTER is not supported — manifest " +
              "tables append new columns at the end of the schema")
          requireSafeColumnNames(StructType(Seq(StructField(name, a.dataType))))
          colMap += name -> s"${name}_e$newEpoch"
          // DEFAULT rides the column metadata in Spark's own encoding:
          // CURRENT_DEFAULT (applied to future INSERTs omitting the
          // column, resolved by Spark analysis) and EXISTS_DEFAULT (the
          // value frozen NOW, filled at scan for files written before
          // the column existed — the Iceberg/Delta initial-default)
          val metadata = Option(a.defaultValue()) match {
            case Some(d) =>
              val cl = org.apache.spark.sql.catalyst.expressions.Literal(
                d.getValue.value, d.getValue.dataType)
              require(org.apache.spark.sql.catalyst.expressions.Cast
                  .canUpCast(d.getValue.dataType, a.dataType),
                s"DEFAULT ${cl.sql} (${d.getValue.dataType.simpleString}) " +
                  s"cannot widen to ${a.dataType.simpleString}")
              val frozen = org.apache.spark.sql.catalyst.expressions.Literal(
                org.apache.spark.sql.catalyst.expressions.Cast(
                  cl, a.dataType, ansiEnabled = true).eval(null), a.dataType)
              new org.apache.spark.sql.types.MetadataBuilder()
                .putString("CURRENT_DEFAULT",
                  Option(d.getSql).getOrElse(frozen.sql))
                .putString("EXISTS_DEFAULT", frozen.sql)
                .build()
            case None => org.apache.spark.sql.types.Metadata.empty
          }
          schema = StructType(schema.fields :+
            StructField(name, a.dataType, nullable = a.isNullable,
              metadata = metadata))
        case r: TableChange.RenameColumn =>
          val from = single(r.fieldNames, "RENAME COLUMN")
          val to = r.newName
          require(schema.fieldNames.contains(from), s"no column $from to rename")
          // a CHECK predicate stores SQL text: renaming a referenced
          // column would leave it binding to nothing (or, after a later
          // ADD COLUMN of the old name, to the WRONG column) — refuse;
          // drop the constraint, rename, re-add
          constraintReferencing(props0, from).foreach(c => throw
            new IllegalArgumentException(s"cannot rename column $from: " +
              s"CHECK constraint $c references it — DROP CONSTRAINT first"))
          require(!schema.fieldNames.contains(to), s"column $to already exists")
          requireSafeColumnNames(StructType(Seq(StructField(to, StringType))))
          val phys = colMap.getOrElse(from, from)
          colMap = colMap - from + (to -> phys)
          schema = StructType(schema.fields.map(f =>
            if (f.name == from) f.copy(name = to) else f))
          partCols = partCols.map(c => if (c == from) to else c)
          partSpec0 = partSpec0.map(t => if (t.col == from) t.withCol(to) else t)
          pastSpecs0 = pastSpecs0.view.mapValues(_.map(t =>
            if (t.col == from) t.withCol(to) else t)).toMap
          eqDels0 = eqDels0.map(r =>
            r.copy(cols = r.cols.map(c => if (c == from) to else c)))
          bloomCols = bloomCols.map(c => if (c == from) to else c)
          sortCols = sortCols.map(c => if (c == from) to else c)
          entries = entries.map(e => e.copy(
            mins = renameKeys(e.mins, from, to),
            maxs = renameKeys(e.maxs, from, to),
            parts = e.parts.map { case (k, v) => (if (k == from) to else k, v) },
            blooms = e.blooms.map { case (k, v) => (if (k == from) to else k, v) },
            slows = e.slows.map { case (k, v) => (if (k == from) to else k, v) },
            sups = e.sups.map { case (k, v) => (if (k == from) to else k, v) },
            ndvs = renameKeys(e.ndvs, from, to),
            nulls = renameKeys(e.nulls, from, to),
            ndvSk = e.ndvSk.map { case (k, v) => (if (k == from) to else k, v) },
            qsk = e.qsk.map { case (k, v) => (if (k == from) to else k, v) },
            sorted = e.sorted.map(c => if (c == from) to else c)))
          // the quantile-column list rides the prop bag: follow the rename
          props0.get(QuantColsProp).foreach { v =>
            props0 += QuantColsProp -> v.split(',').map(_.trim)
              .map(c => if (c == from) to else c).mkString(",")
          }
        case u: TableChange.UpdateColumnType =>
          // TYPE WIDENING, metadata-only (the long-lived-table change):
          // int→long and float→double are the two conversions the
          // vectorized reader widens per value at scan
          // (ParquetVectorUpdaterFactory), so old narrow files never
          // rewrite — the schema epoch bump routes them through the
          // widening reader. Stats widen losslessly (integer min/max
          // already store Long). Anything lossy is refused.
          val name = single(u.fieldNames, "ALTER COLUMN TYPE")
          val f = schema.fields.find(_.name == name).getOrElse(
            throw new IllegalArgumentException(s"no column $name to alter"))
          val ok = (f.dataType, u.newDataType) match {
            case (IntegerType, LongType) => true
            case (org.apache.spark.sql.types.FloatType,
              org.apache.spark.sql.types.DoubleType) => true
            case (a, b) if a == b => true // no-op, allowed
            case _ => false
          }
          require(ok, s"ALTER COLUMN $name TYPE supports lossless widening " +
            s"only (INT->BIGINT, FLOAT->DOUBLE); ${f.dataType.simpleString} -> " +
            s"${u.newDataType.simpleString} is not")
          schema = StructType(schema.fields.map(x =>
            if (x.name == name) x.copy(dataType = u.newDataType) else x))
        case d: TableChange.DeleteColumn =>
          val name = single(d.fieldNames, "DROP COLUMN")
          require(schema.fieldNames.contains(name), s"no column $name to drop")
          require(!partCols.contains(name), s"cannot drop partition column $name")
          require(!eqDels0.exists(_.cols.contains(name)),
            s"cannot drop column $name: an outstanding equality delete keys " +
              "on it — OPTIMIZE the table first")
          // a constraint referencing a dropped column would make every
          // later write fail at analysis (the predicate SQL no longer
          // resolves) — the table would be unwritable through DDL
          constraintReferencing(props0, name).foreach(c => throw
            new IllegalArgumentException(s"cannot drop column $name: " +
              s"CHECK constraint $c references it — DROP CONSTRAINT first"))
          require(schema.fields.length > 1, "cannot drop a table's last column")
          colMap -= name
          schema = StructType(schema.fields.filterNot(_.name == name))
          bloomCols = bloomCols.filterNot(_ == name)
          sortCols = sortCols.filterNot(_ == name)
          entries = entries.map(e =>
            e.copy(mins = e.mins - name, maxs = e.maxs - name,
              blooms = e.blooms - name,
              slows = e.slows - name, sups = e.sups - name,
              ndvs = e.ndvs - name, nulls = e.nulls - name,
              ndvSk = e.ndvSk - name,
              qsk = e.qsk - name,
              // a dropped column truncates the attestation AT the drop:
              // ordering under the surviving prefix still holds, the
              // suffix beyond it is meaningless
              sorted = e.sorted.takeWhile(_ != name)))
          props0.get(QuantColsProp).foreach { v =>
            val kept = v.split(',').map(_.trim).filterNot(_ == name)
            if (kept.isEmpty) props0 -= QuantColsProp
            else props0 += QuantColsProp -> kept.mkString(",")
          }
        // ALTER TABLE ... SET TBLPROPERTIES: the CREATE-time knobs stay
        // adjustable for the table's whole life. delete.mode switches
        // strategy for FUTURE deletes (existing DVs keep applying);
        // bloom.columns affects FUTURE files only (older files lack the
        // bloom and stay conservative may-match); write.sort-by shapes
        // the next append's distribution.
        case sp: TableChange.SetProperty => sp.property match {
          case "delete.mode" =>
            require(sp.value == DeleteModeCow || sp.value == DeleteModeMor,
              s"delete.mode must be '$DeleteModeCow' or '$DeleteModeMor', " +
                s"got '${sp.value}'")
            deleteMode0 = sp.value
          case "bloom.columns" =>
            val cols = sp.value.split(',').map(_.trim).filter(_.nonEmpty).toSeq
            cols.foreach { c =>
              val f = schema.fields.find(_.name == c)
              require(f.isDefined, s"bloom.columns names unknown column $c")
              require(f.get.dataType == org.apache.spark.sql.types.StringType,
                s"bloom.columns supports STRING columns; $c is " +
                  f.get.dataType.simpleString)
            }
            bloomCols = cols
          case "write.sort-by" =>
            val cols = sp.value.split(',').map(_.trim).filter(_.nonEmpty).toSeq
            cols.foreach(c => require(schema.fieldNames.contains(c),
              s"write.sort-by names unknown column $c"))
            sortCols = cols
          case QuantColsProp =>
            // validated knob that rides the free-form bag: fail HERE,
            // not on every subsequent INSERT; affects FUTURE files only
            // (older files lack the sample and the stats view degrades
            // to absence, never a fabricated quantile)
            validateQuantCols(schema, Map(QuantColsProp -> sp.value))
            props0 += QuantColsProp -> sp.value
          case other =>
            // free-form property bag: anything non-reserved stores
            // verbatim and publishes atomically with this commit
            require(!reservedProp(other), s"table property $other is " +
              "reserved and cannot be set on a manifest table")
            if (other == RowGroupBytesProp)
              rowGroupBytesOf(Map(other -> sp.value)): Unit // validate now, loudly
            props0 += other -> sp.value
        }
        case rp: TableChange.RemoveProperty => rp.property match {
          case "delete.mode" => deleteMode0 = DeleteModeCow
          case "bloom.columns" => bloomCols = Seq.empty
          case "write.sort-by" => sortCols = Seq.empty
          case other =>
            // UNSET TBLPROPERTIES must not silently delete a constraint
            // (DROP CONSTRAINT is the audited path for that)
            require(!other.startsWith(ConstraintPropPrefix),
              s"property $other is reserved — use ALTER TABLE ... " +
                "DROP CONSTRAINT to remove a constraint")
            props0 -= other
        }
        case ac: TableChange.AddConstraint => ac.constraint() match {
          // CHECK constraints persist as a reserved table property; the
          // Table surfaces them via constraints() and Spark does the
          // rest — ResolveTableConstraints injects CheckInvariant into
          // every v2 write (violating INSERTs fail row-exactly), and
          // AddCheckConstraintExec validates EXISTING rows with a scan
          // before this alter is ever called
          case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
            // the validation scan ran at a specific version (Spark
            // passes it from Table.version()); a commit landing between
            // the scan and this publish could hold violating rows the
            // scan never saw — refuse instead of persisting a
            // constraint whose VALID status would be a lie. The same
            // guard refuses a CAS rebase (attempt > 1 implies the table
            // advanced mid-ALTER).
            Option(ac.validatedTableVersion()).foreach { v =>
              require(v == st.version.toString,
                s"table advanced from version $v to ${st.version} since " +
                  s"the ADD CONSTRAINT ${ck.name} validation scan — " +
                  "concurrent writes may violate the predicate; retry")
            }
            require(attempt == 1,
              s"table advanced during ADD CONSTRAINT ${ck.name} — " +
                "concurrent writes may violate the predicate; retry")
            require(ck.enforced(),
              s"constraint ${ck.name}: manifest tables support ENFORCED " +
                "CHECK constraints only — Spark's write-side invariant " +
                "injection does not honor NOT ENFORCED, so accepting it " +
                "would enforce anyway; drop NOT ENFORCED")
            require(constraintKeyOf(props0, ck.name).isEmpty,
              s"constraint ${ck.name} already exists")
            val refs = constraintRefCols(ck.predicateSql)
            val known = schema.fieldNames
              .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
            require(refs.subsetOf(known),
              s"constraint ${ck.name} (${ck.predicateSql}) references " +
                s"unknown column(s) ${(refs -- known).mkString(", ")}")
            props0 += s"${ConstraintPropPrefix}${ck.name}" ->
              encodeConstraint(ck.rely(), ck.predicateSql)
          case other => throw new UnsupportedOperationException(
            s"manifest tables enforce CHECK constraints only; " +
              s"${other.getClass.getSimpleName} (${other.name}) is not supported")
        }
        case dc: TableChange.DropConstraint =>
          constraintKeyOf(props0, dc.name) match {
            case Some(key) => props0 -= key
            case None => require(dc.ifExists,
              s"no constraint ${dc.name} to drop")
          }
        case other => throw new UnsupportedOperationException(
          s"unsupported ALTER TABLE change for manifest tables: $other " +
            "(supported: ADD/RENAME/DROP COLUMN, ADD/DROP CONSTRAINT " +
            "(CHECK), SET/UNSET TBLPROPERTIES)")
      }
      colMap = colMap.filter { case (k, v) => k != v }
      Commit(st.copy(schema = Some(schema), partCols = partCols,
        partSpec = partSpec0, pastSpecs = pastSpecs0, eqDels = eqDels0,
        colMap = colMap, schemaEpoch = newEpoch, entries = entries,
        bloomCols = bloomCols, sortCols = sortCols,
        deleteMode = deleteMode0, props = props0), ())
    }
  }

  /** Flatten writer commit messages — single-file tasks send one
    * [[ManifestCommit]], partition-fanout tasks one [[ManifestCommitSet]]
    * — into manifest entries. */
  private[sources] def commitEntries(messages: Iterable[WriterCommitMessage]): Seq[FileEntry] =
    messages.toSeq.flatMap {
      case c: ManifestCommit => Seq(c)
      case ManifestCommitSet(cs) => cs
      case _ => Seq.empty
    }.map(c => FileEntry(c.fileName, c.rows, c.mins, c.maxs, c.parts,
      blooms = c.blooms, slows = c.slows, sups = c.sups,
      ndvs = c.ndvs, nulls = c.nulls, sorted = c.sorted, lineage = c.lineage,
      ndvSk = c.ndvSk, qsk = c.qsk))

  private[sources] def commitFileNames(messages: Iterable[WriterCommitMessage]): Seq[String] =
    messages.toSeq.flatMap {
      case c: ManifestCommit => Seq(c.fileName)
      case ManifestCommitSet(cs) => cs.map(_.fileName)
      case _ => Seq.empty
    }

  /** What a [[compact]] call did: the version it published (or the
    * current one if nothing needed rewriting) and the file-count move. */
  case class CompactionResult(version: Long, filesBefore: Int, filesAfter: Int,
      rewrittenFiles: Int, rewrittenRows: Long)

  /** OPTIMIZE: bin-pack data files smaller than `targetRows` into
    * consolidated files and publish the result as a new manifest version
    * marked [[RewriteMarker]] (the Delta `dataChange=false` shape).
    *
    * Small-file proliferation is the steady-state failure mode of any
    * frequently-appended table — a streaming write lands one file per
    * partition per epoch, and at 100 TB a scan pays one task per file
    * forever after. Compaction restores scan parallelism to data-sized
    * partitions while:
    *  - readers never block: the rewrite publishes under the same CAS as
    *    any commit, and snapshot reads of older versions still see (and
    *    GC still retains) the original files;
    *  - tailing streams and change feeds skip the rewrite version
    *    entirely (see [[addedEntries]]) — no row is ever re-delivered;
    *  - a concurrent append wins or loses the CAS race cleanly: on loss
    *    the compaction deletes its merged files and throws, and the
    *    caller can re-run against the new state.
    *
    * The rewrite never decodes a row: bins merge by RAW ROW-GROUP APPEND
    * ([[ManifestParquet.appendMerge]] — the parquet-level analog of file
    * concatenation). Per-file stats merge losslessly (min of mins, max
    * of maxs; a column's merged range is published only when every
    * member file carried stats for it, since absence is
    * indistinguishable from "not collected"). Bins are independent, so
    * a distributed rewrite of a petabyte table would fan each bin out
    * as one task; driver-side sequential I/O is the local[*] degenerate
    * case of the same plan. */
  /** Materialize outstanding equality deletes: rewrite every governed
    * file the key stats/blooms cannot rule out (dropping matching rows
    * and any DV'd positions in the same pass) and publish ONE commit
    * that swaps the files and clears the records — the OPTIMIZE
    * counterpart of the DV purge. Governed files the metadata PROVES
    * hold no matching key are left untouched (may-match=false is
    * definitive). A real DATA change (live rows shrink), so the commit
    * is not a `#rewrite` version and the change feed fails across it
    * loudly — consistent with the eq-delete commit itself. Returns the
    * number of files rewritten. */
  def materializeEqDeletes(tablePath: String,
      gc: GcPolicy = GcPolicy(None, 3600L * 1000)): Int = {
    val root = Paths.get(tablePath)
    val st = readState(root)
    if (st.eqDels.isEmpty) return 0
    val schema = schemaOf(root, st)
    // typed kill sets once, per record
    val applied = st.eqDels.map(EqDelApplied.resolve(root, schema, _))
    val files = new ManifestReaderFactory(schema, schema, columnar = false, st.colMap,
      st.schemaEpoch > 0L)
    def governed(e: FileEntry): Seq[EqDelApplied] = applied.filter(_.seq > e.seq)
    def mayHold(e: FileEntry, a: EqDelApplied): Boolean =
      // a key tuple may live in the file iff EVERY component may match
      a.keys.exists(k => a.cols.lazyZip(a.dataTypes).lazyZip(k).forall {
        (c, dt, v) =>
          val f: org.apache.spark.sql.sources.Filter = dt match {
            case LongType | IntegerType =>
              org.apache.spark.sql.sources.EqualTo(c, v.toLong)
            case _ => org.apache.spark.sql.sources.EqualTo(c, v)
          }
          entryMayMatch(st, e, f)
      })
    var rewritten = 0
    val newEntries = st.entries.map { e =>
      val gov = governed(e).filter(a => mayHold(e, a))
      if (gov.isEmpty) e
      else {
        val killTests: Seq[InternalRow => Boolean] =
          gov.map(a => rowKillTest(schema, a))
        val dv: Set[Long] =
          e.dvName.fold(Set.empty[Long])(n => readDvPositions(root.resolve(n)).toSet)
        val stats = new FileStatsCollector(schema, st.bloomCols, st.sortCols,
          quantColsOf(st.props))
        var kept = 0L
        val newName = s"data-compact-${java.util.UUID.randomUUID()}.parquet"
        val out = ManifestParquet.open(root.resolve(newName),
          toPhysicalSchema(schema, st.colMap))
        def killed(row: InternalRow): Boolean = killTests.exists(t => t(row))
        val remap = new LineageRemapper(e.lineageSegs(root))
        try {
          val r = files.createReader(ManifestFilePartition(root.resolve(e.name).toString))
          try {
            var pos = -1L
            while (r.next()) {
              pos += 1
              val row = r.get()
              if (!dv.contains(pos) && !killed(row)) {
                out.write(row); kept += 1; stats.add(row); remap.add(pos)
              }
            }
          } finally r.close()
        } finally out.close()
        rewritten += 1
        FileEntry(newName, kept, stats.intMins, stats.intMaxs, e.parts,
          blooms = stats.blooms, slows = stats.strLowers, sups = stats.strUppers,
          seq = st.version + 1L, specId = e.specId,
          ndvs = stats.intNdvs, nulls = stats.nullCounts,
          sorted = stats.sortedBy, lineage = remap.segments,
          ndvSk = stats.ndvSketches, qsk = stats.quantSketches)
      }
    }.filter(_.rows > 0L)
    commit(root, SingleShot, gc, first = Some(st)) { (st, _) =>
      Commit(st.copy(eqDels = Seq.empty, entries = newEntries), rewritten,
        newEntries.filterNot(st.entries.contains).map(_.name))
    }
  }

  def compact(tablePath: String, targetRows: Long): CompactionResult =
    compact(tablePath, targetRows, () => ())

  /** `beforePublish` fires once, just before the FIRST publish attempt —
    * a test-only seam so the concurrent-commit rebase below is provable
    * deterministically (the joinIds(maxIds) pattern), never set in
    * production paths. */
  private[sources] def compact(tablePath: String, targetRows: Long,
      beforePublish: () => Unit): CompactionResult = {
    require(targetRows >= 1, s"targetRows must be >= 1, got $targetRows")
    val root = Paths.get(tablePath)
    // phase 0: equality deletes materialize first (their own non-rewrite
    // commit) so the bin merge below never raw-appends governed rows
    materializeEqDeletes(tablePath)
    val st = readState(root)
    require(st.version > 0L, s"compact requires a versioned manifest table at $tablePath")
    // Files carrying a deletion vector are NEVER raw-row-group-appended
    // (that would resurrect the deleted positions); OPTIMIZE instead
    // PURGES them — live rows decode into a fresh file with fresh stats,
    // the vector drops, and the file rejoins the columnar/pushdown fast
    // paths. Purged replacements are dataChange=false like every other
    // rewrite here: the LIVE row set is untouched.
    val (dvEntries, plain) = st.entries.partition(_.dvRows > 0L)
    val purged = dvEntries.map(e => purgeDvEntry(root, e, schemaOf(root, st),
      st.colMap, st.schemaEpoch > 0L, st.bloomCols, st.sortCols,
      quantColsOf(st.props)))
    val small = plain.filter(_.rows < targetRows)
    // first-fit in manifest order keeps neighboring appends together,
    // which preserves any time-locality the write order had
    def packBins(entries: Seq[FileEntry]): List[List[FileEntry]] =
      entries.foldLeft(List.empty[List[FileEntry]]) { (acc, e) =>
        acc match {
          case bin :: rest if bin.map(_.rows).sum + e.rows <= targetRows =>
            (e :: bin) :: rest
          case _ => List(e) :: acc
        }
      }.map(_.reverse).reverse.filter(_.size >= 2) // singleton bins gain nothing
    // bins never span partitions: a merged file must keep ONE partition
    // tuple or pruning would lose its exactness. Under schema evolution
    // they must not span PHYSICAL schemas either — raw row-group append
    // requires byte-identical file schemas, so bins additionally group
    // by footer schema (one footer read per small file, driver-local).
    val schemaKey: FileEntry => String =
      if (st.schemaEpoch == 0L) _ => ""
      else e => ManifestParquet.footerSchemaString(root.resolve(e.name).toString)
    val bins =
      small.groupBy(e => (e.specId, e.parts, schemaKey(e))).values.toSeq.flatMap(packBins)
    if (bins.isEmpty && purged.isEmpty)
      return CompactionResult(st.version, st.entries.size, st.entries.size, 0, 0L)
    val merged = bins.map { bin0 =>
      // SORTED COMPACTION: a concatenation of attested-sorted runs is
      // itself sorted when the runs are ordered by key and their key
      // ranges are STRICTLY disjoint on the first sort column
      // (max(prev) < min(next) — strictness carries the lexicographic
      // claim past ties into later columns) and no run after the first
      // holds nulls in it (nulls sort first). Reordering inside a bin
      // is free — same files, same bytes — so the merge tries the key
      // order first and attests only what it PROVED, keeping the
      // zero-sort join/aggregate plans alive across OPTIMIZE instead of
      // silently degrading them.
      val lists = bin0.map(_.sorted)
      val attestable = lists.head.nonEmpty && lists.distinct.size == 1
      val c1 = if (attestable) lists.head.head else ""
      val (bin, mergedSorted) =
        if (attestable &&
            bin0.forall(e => e.mins.contains(c1) && e.maxs.contains(c1) &&
              e.nulls.contains(c1))) {
          val ordered = bin0.sortBy(_.mins(c1))
          val disjoint = ordered.sliding(2).forall {
            case Seq(a, b) => a.maxs(c1) < b.mins(c1) && b.nulls(c1) == 0L
            case _ => true
          }
          if (disjoint) (ordered, lists.head) else (bin0, Seq.empty[String])
        } else (bin0, Seq.empty[String])
      val name = s"data-compact-${java.util.UUID.randomUUID()}.parquet"
      ManifestParquet.appendMerge(root.resolve(name), bin.map(e => root.resolve(e.name)))
      val statKeys = bin.map(_.mins.keySet).reduce(_ intersect _)
      // blooms merge losslessly by bitwise OR, published only when every
      // member carried one (same absence rule as the min/max stats) AND
      // the members' NDV-derived sizes agree — mixed sizes share no bit
      // positions, so the merged entry honestly publishes none (raw
      // row-group append never decodes values, so re-collection here is
      // impossible); truncated string bounds merge min-of-lowers /
      // max-of-uppers
      val bloomKeys = bin.map(_.blooms.keySet).reduce(_ intersect _)
      FileEntry(name, bin.map(_.rows).sum,
        statKeys.map(k => k -> bin.map(_.mins(k)).min).toMap,
        statKeys.map(k => k -> bin.map(_.maxs(k)).max).toMap,
        bin.head.parts,
        blooms = bloomKeys.toSeq.flatMap(k =>
          bloomUnion(bin.map(_.blooms(k))).map(k -> _)).toMap,
        slows = mergeStrLowers(bin.map(_.slows)),
        sups = mergeStrUppers(bin.map(_.sups)),
        specId = bin.head.specId,
        // null counts sum exactly (bin members carry no DVs — DV'd
        // entries purge separately); exact NDVs do not merge and stay
        // absent, but the HLL sketches merge losslessly by register max
        nulls = {
          val nullKeys = bin.map(_.nulls.keySet).reduce(_ intersect _)
          nullKeys.map(k => k -> bin.map(_.nulls(k)).sum).toMap
        },
        ndvSk = bin.map(_.ndvSk.keySet).reduce(_ intersect _).toSeq.map { k =>
          k -> NdvSketch.encode(
            bin.map(e => NdvSketch.decode(e.ndvSk(k))).reduce(NdvSketch.merge))
        }.toMap,
        // value samples merge EXACTLY: bottom-k of the union is the
        // bottom-k of the members' bottom-k's — the concatenated file
        // carries the sketch a single writer would have produced
        qsk = bin.map(_.qsk.keySet).reduce(_ intersect _).toSeq.map { k =>
          k -> QuantileSketch.encode(
            bin.map(e => QuantileSketch.decode(e.qsk(k))).reduce(QuantileSketch.merge))
        }.toMap,
        // raw row-group concatenation keeps every member's rows at a
        // fixed offset: lineage is the members' segments, shifted
        sorted = mergedSorted, lineage = concatLineage(root, bin))
    }
    val rewrittenNames = bins.flatten.map(_.name).toSet ++ dvEntries.map(_.name)
    // CAS with APPEND-ONLY REBASE (the Iceberg commit.retry shape for
    // rewrites): a compaction only replaces the files it READ, so a
    // concurrent commit that merely ADDED files cannot conflict with it
    // — losing the CAS to a pure append re-reads the state, verifies
    // that every input file is still present untouched and that no
    // structural knob (schema, spec, delete mode, eq-deletes, props)
    // moved, and re-publishes on top. Anything else — a delete, an
    // UPDATE, a schema change, an equality-delete commit — still loses
    // LOUDLY, because the rewritten bytes were decided from a state
    // that no longer holds. Nightly OPTIMIZE and streaming ingest can
    // therefore interleave without retry loops in the operator's cron.
    def structural(ts: TableState): Seq[String] = ts.metaLines.filterNot(l =>
      l.startsWith(EpochMarkerPrefix) || l.startsWith(NextRowIdPrefix))
    def appendOnly(base: TableState, st2: TableState): Boolean = {
      val byName = st2.entries.map(x => x.name -> x).toMap
      val inputsIntact = (rewrittenNames ++
        base.entries.filterNot(x => rewrittenNames(x.name)).map(_.name))
        .forall(n => base.entries.find(_.name == n)
          .exists(old => byName.get(n).exists(now => entryLine(now) == entryLine(old))))
      inputsIntact &&
        st2.schema.map(_.json) == base.schema.map(_.json) &&
        structural(st2) == structural(base)
    }
    commit(root, Rebase(4, appendOnly), rewrite = true, first = Some(st)) { (base, attempt) =>
      if (attempt == 1) beforePublish()
      val entries = base.entries.filterNot(e => rewrittenNames(e.name)) ++ merged ++ purged
      Commit(base.copy(entries = entries),
        CompactionResult(base.version + 1, base.entries.size,
          entries.size, rewrittenNames.size,
          merged.map(_.rows).sum + purged.map(_.rows).sum),
        (merged ++ purged).map(_.name))
    }
  }

  /** Rewrite one DV'd entry's LIVE rows into a fresh parquet file with
    * fresh per-column stats — the deletion-vector purge step of
    * [[compact]]. */
  private def purgeDvEntry(root: Path, e: FileEntry, schema: StructType,
      colMap: Map[String, String], evolved: Boolean,
      bloomCols: Seq[String] = Seq.empty,
      sortCols: Seq[String] = Seq.empty,
      quantCols: Seq[String] = Seq.empty): FileEntry = {
    val dv = readDvPositions(root.resolve(e.dvName.get)).toSet
    val stats = new FileStatsCollector(schema, bloomCols, sortCols, quantCols)
    var kept = 0L
    val remap = new LineageRemapper(e.lineageSegs(root))
    val newName = s"data-compact-${java.util.UUID.randomUUID()}.parquet"
    val out = ManifestParquet.open(root.resolve(newName),
      toPhysicalSchema(schema, colMap))
    try {
      val r = new ManifestReaderFactory(schema, schema, columnar = false, colMap, evolved)
        .createReader(ManifestFilePartition(root.resolve(e.name).toString))
      try {
        var pos = -1L
        while (r.next()) {
          pos += 1
          if (!dv.contains(pos)) {
            val row = r.get()
            out.write(row); kept += 1
            stats.add(row); remap.add(pos)
          }
        }
      } finally r.close()
    } finally out.close()
    FileEntry(newName, kept, stats.intMins, stats.intMaxs, e.parts,
      blooms = stats.blooms, slows = stats.strLowers, sups = stats.strUppers,
      specId = e.specId, ndvs = stats.intNdvs, nulls = stats.nullCounts,
      sorted = stats.sortedBy, lineage = remap.segments,
      ndvSk = stats.ndvSketches, qsk = stats.quantSketches)
  }

  /** Structural validation of a partition spec against a schema — the
    * single rulebook shared by CREATE TABLE ([[GraftCatalog]]) and
    * [[evolvePartitionSpec]]. */
  private[sources] def requireSpecValid(spec: Seq[PartTransform],
      schema: StructType): Unit = {
    val cols = spec.map(_.col)
    require(cols.distinct.size == cols.size,
      s"each column may appear once in the partition spec: $cols")
    spec.foreach { t =>
      val c = t.col
      require(!c.contains("(") && !c.contains(")"),
        s"partition column name '$c' may not contain parentheses")
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"partition column $c is not in the table schema"))
      val integral = f.dataType == LongType || f.dataType == IntegerType
      t match {
        case PIdentity(_) => require(
          integral || f.dataType == StringType || f.dataType == BooleanType ||
            f.dataType == DoubleType,
          s"partition column $c has unsupported type ${f.dataType.simpleString}")
        case PDays(_) | PMonths(_) | PYears(_) => require(f.dataType == LongType,
          s"${t.token} requires a BIGINT epoch-microsecond column; " +
            s"$c is ${f.dataType.simpleString}")
        case PTruncInt(_, w) => require(integral && w > 0,
          s"${t.token} requires BIGINT/INT and a positive width")
        case PTruncStr(_, n) => require(f.dataType == StringType && n > 0,
          s"${t.token} requires STRING and a positive length")
        case PBucketInt(_, n) => require(integral && n > 1 && n <= (1 << 20),
          s"${t.token} requires BIGINT/INT and a bucket count in (1, 2^20]")
        case PBucketStr(_, n) => require(
          f.dataType == StringType && n > 1 && n <= (1 << 20),
          s"${t.token} requires STRING and a bucket count in (1, 2^20]")
      }
    }
  }

  /** Parse a human-written spec string — `"days(ts)"`,
    * `"bucket(16, k), truncate(2, cat)"`, a bare column for identity —
    * into transforms, resolving width-style tokens by column type.
    * Commas split at paren depth 0 only. */
  def parseSpecString(spec: String, schema: StructType): Seq[PartTransform] = {
    val toks = scala.collection.mutable.Buffer.empty[String]
    val sb = new StringBuilder; var depth = 0
    spec.foreach {
      case ',' if depth == 0 => toks += sb.result(); sb.clear()
      case c =>
        if (c == '(') depth += 1
        if (c == ')') depth -= 1
        sb += c
    }
    toks += sb.result()
    val Fn = """(\w+)\s*\(\s*([^)]*)\s*\)""".r
    def typeOf(c: String): DataType = schema.fields.find(_.name == c)
      .map(_.dataType).getOrElse(throw new IllegalArgumentException(
        s"partition column $c is not in the table schema"))
    def intArg(fn: String, a: String): Long = a.trim.toLongOption.getOrElse(
      throw new IllegalArgumentException(s"$fn needs an integer argument, got '$a'"))
    toks.map(_.trim).filter(_.nonEmpty).map {
      case Fn("days", c) => PDays(c.trim)
      case Fn("months", c) => PMonths(c.trim)
      case Fn("years", c) => PYears(c.trim)
      case Fn("hours", c) => PTruncInt(c.trim, 3600000000L)
      case Fn(fn @ ("truncate" | "bucket"), args) =>
        val parts = args.split(",").map(_.trim)
        require(parts.length == 2, s"$fn takes (width, column), got '$args'")
        val (n, c) = (intArg(fn, parts(0)), parts(1))
        // validate the LONG before narrowing — a toInt truncation would
        // silently reinterpret an out-of-range width
        require(n >= 1 && n <= Int.MaxValue,
          s"$fn width $n out of range (1 .. ${Int.MaxValue})")
        (fn, typeOf(c)) match {
          case ("truncate", StringType) => PTruncStr(c, n.toInt)
          case ("truncate", _) => PTruncInt(c, n)
          case ("bucket", StringType) => PBucketStr(c, n.toInt)
          case ("bucket", _) => PBucketInt(c, n.toInt)
        }
      case Fn(other, _) => throw new IllegalArgumentException(
        s"unknown partition transform $other (supported: identity column, " +
          "days/months/years/hours, truncate(W, col), bucket(N, col))")
      case c => PIdentity(c)
    }.toSeq
  }

  /** PARTITION-SPEC EVOLUTION (the Iceberg shape), metadata-only: one
    * CAS commit archives the current spec under its id and installs
    * `newSpec` as id+1. Existing files keep their tuples AND their spec
    * id, so every pruning/proof decision keeps evaluating them under
    * the spec they were written with — exactly forever, never
    * re-interpreted ([[TableState.transformsForOpt]]). New writes route
    * by the new spec from their next planning read. Queries need no
    * change (hidden partitioning filters RAW columns throughout);
    * operations whose semantics cannot span two specs fail loudly and
    * name [[migrateToCurrentSpec]] as the unlock (dynamic partition
    * overwrite, OPTIMIZE ZORDER, grouped-agg pushdown and SPJ simply
    * withdraw). Returns the new spec id. */
  def evolvePartitionSpec(tablePath: String,
      newSpec: Seq[PartTransform]): Long = {
    val root = Paths.get(tablePath)
    val st = readState(root)
    require(st.version > 0L,
      s"spec evolution requires a versioned manifest table at $tablePath")
    requireSpecValid(newSpec, schemaOf(root, st))
    // rebase on a lost CAS like every metadata-only commit: a spec
    // change commutes with concurrent appends/deletes (their entries
    // carry their own spec ids), so re-reading and re-applying is
    // always semantics-preserving. dataChange=false: no row is added or
    // removed by a spec change.
    commit(root, Rebase(5), rewrite = true, first = Some(st)) { (cur, _) =>
      // already in place (possibly by the writer that won the CAS):
      // nothing to publish
      if (newSpec == cur.effectiveSpec) return cur.specId
      val newId = cur.specId + 1L
      Commit(cur.copy(partCols = newSpec.map(_.col), partSpec = newSpec,
        specId = newId,
        pastSpecs = cur.pastSpecs + (cur.specId -> cur.effectiveSpec)), newId)
    }
  }

  /** Rewrite every file still laid out under an ARCHIVED spec through
    * the current spec's fan-out writer — the migration that unlocks
    * dynamic overwrite / ZORDER / SPJ after an evolution. Rows are
    * read once (deletion vectors applied, schema drift reconciled) and
    * re-routed; a dataChange=false CAS publish swaps the stale entries
    * for the re-routed files. Old-spec data files become orphans for
    * vacuum. Driver-sequential by design: migration is a rare admin
    * operation, and the row path is the same streaming decode the
    * rewrite paths use. */
  def migrateToCurrentSpec(tablePath: String): CompactionResult = {
    materializeEqDeletes(tablePath)
    val root = Paths.get(tablePath)
    val st = readState(root)
    require(st.version > 0L,
      s"spec migration requires a versioned manifest table at $tablePath")
    val schema = schemaOf(root, st)
    val (stale, fresh) = st.entries.partition(_.specId != st.specId)
    if (stale.isEmpty)
      return CompactionResult(st.version, st.entries.size, st.entries.size, 0, 0L)
    val w = new ManifestWriterFactory(tablePath, schema, st.partCols, st.colMap,
      st.bloomCols, rowGroupBytesOf(st.props), st.effectiveSpec, st.sortCols,
      quantColsOf(st.props))
      .createWriter(0, System.nanoTime())
    var moved = 0L
    val files = new ManifestReaderFactory(schema, schema, columnar = false, st.colMap,
      st.schemaEpoch > 0L)
    stale.foreach { e =>
      val dv: Set[Long] =
        e.dvName.fold(Set.empty[Long])(n => readDvPositions(root.resolve(n)).toSet)
      val r = files.createReader(ManifestFilePartition(root.resolve(e.name).toString))
      try {
        var pos = -1L
        while (r.next()) {
          pos += 1
          if (!dv.contains(pos)) { w.write(r.get()); moved += 1 }
        }
      } finally r.close()
    }
    val migrated0 = commitEntries(Seq(w.commit())).map(_.copy(specId = st.specId))
    // the layout migration re-routes rows across files: a non-preserving
    // rewrite, so migrated rows are NEW rows to lineage (fresh ids)
    val (migrated, nextRid) =
      assignLineage(migrated0, st.nextRowId, st.version + 1L)
    commit(root, SingleShot, rewrite = true, first = Some(st)) { (st, _) =>
      Commit(st.copy(nextRowId = nextRid, entries = fresh ++ migrated),
        CompactionResult(st.version + 1L, st.entries.size,
          fresh.size + migrated.size, stale.size, moved),
        migrated.map(_.name))
    }
  }

  /** OPTIMIZE ... ZORDER BY: rewrite the ENTIRE table (or each table
    * partition independently — files never cross partition tuples) with
    * rows globally ordered by a Morton interleave of the given integer
    * columns, packed into ~`targetRows` files, published as ONE
    * dataChange=false rewrite version under the same CAS as any commit.
    *
    * Plain [[compact]] merges small files in arrival order: scan
    * parallelism recovers but per-file min/max ranges stay as scattered
    * as the writes were, so data skipping does not improve. Z-order
    * compaction exists for exactly that gap: after it, a conjunctive
    * range predicate over the clustered columns prunes to ~the files
    * whose z-range intersects the query box (the classic multi-column
    * layout result — a k-column box reads ~N^((k-1)/k) of the data
    * instead of all of it).
    *
    * Each column is normalized to 16 bits against its GLOBAL min/max
    * taken from manifest stats (metadata-only — no pre-pass over data),
    * so skewed domains still spread over the full bit range. The rewrite
    * itself is Spark: a range-repartition + within-partition sort on the
    * z-key, one task per output file writing through the ordinary
    * [[ManifestDataWriter]] (fresh per-file stats collected inline) — at
    * 100 TB this is a full shuffle of the table, which is what OPTIMIZE
    * ZORDER costs everywhere (Delta's implementation makes the same
    * trade). Single-attempt CAS pinned to the version the rewrite read:
    * a concurrent commit loses this optimize loudly, never data. */
  def compactZOrder(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      zorderBy: Seq[String], targetRows: Long): CompactionResult = {
    import org.apache.spark.sql.functions._
    require(targetRows >= 1, s"targetRows must be >= 1, got $targetRows")
    require(zorderBy.nonEmpty, "ZORDER BY needs at least one column")
    // equality deletes materialize first: the rewrite below republishes
    // a dataChange=false version whose row-preservation check (and raw
    // row copies) must not carry governed rows
    materializeEqDeletes(tablePath)
    // 16 bits per column interleave into ONE Long key: a 5th column
    // would need bit positions >= 64, and Scala's shift silently wraps
    // (count & 63) — the "clustered" layout would interleave garbage
    // while reporting success
    require(zorderBy.length <= 4,
      s"ZORDER BY supports at most 4 columns (16 bits each in a 64-bit " +
        s"Morton key); got ${zorderBy.length}")
    val root = Paths.get(tablePath)
    val st = readState(root)
    require(st.version > 0L,
      s"z-order compaction requires a versioned manifest table at $tablePath")
    // the per-partition row recovery below filters RAW columns by tuple
    // VALUE — only identity tuples support that, and only when every
    // entry was written under the current (identity) spec
    require(st.effectiveSpec.forall(_.isInstanceOf[PIdentity]) &&
        st.entries.forall(_.specId == st.specId),
      "OPTIMIZE ZORDER supports identity-partitioned tables with no " +
        "partition-spec evolution outstanding (run migrateToCurrentSpec first)")
    val schema = schemaOf(root, st)
    zorderBy.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"ZORDER BY column $c is not in the table schema"))
      require(f.dataType == LongType || f.dataType == IntegerType,
        s"ZORDER BY supports integer columns; $c is ${f.dataType.simpleString}")
    }
    if (st.entries.isEmpty)
      return CompactionResult(st.version, 0, 0, 0, 0L)
    // global per-column ranges from manifest stats — metadata only
    val ranges = zorderBy.map { c =>
      val mins = st.entries.flatMap(_.mins.get(c))
      val maxs = st.entries.flatMap(_.maxs.get(c))
      require(mins.nonEmpty && maxs.nonEmpty,
        s"ZORDER BY $c needs manifest min/max stats on every file")
      (c, mins.min, math.max(maxs.max, mins.min + 1))
    }
    val bits = 16
    def zExpr: org.apache.spark.sql.Column = {
      val scaled = ranges.map { case (c, lo, hi) =>
        // (v - lo) * 65535 div span, clamped — INTEGER arithmetic only
        // (a double division would drift on wide domains). A span wider
        // than Long.Max/65535 would overflow the multiply and clamp
        // every row to 0 (degenerating the sort), so wide domains are
        // pre-shifted: dropping the same low bits from value and span
        // preserves the 16-bit bucket to within one bucket, which is
        // all a space-filling curve needs.
        val span = math.max(1L, hi - lo)
        val shift = math.max(0, 64 - java.lang.Long.numberOfLeadingZeros(span) - 47)
        val sspan = math.max(1L, span >> shift)
        least(lit(((1L << bits) - 1)), greatest(lit(0L),
          expr(s"(shiftright(`$c` - ${lo}L, $shift) * ${(1L << bits) - 1}) div ${sspan}L")))
      }
      (0 until bits).flatMap { i =>
        scaled.zipWithIndex.map { case (s, j) =>
          (shiftright(s, i) % lit(2L)) * lit(1L << (i * scaled.length + j))
        }
      }.reduce(_ + _)
    }
    val typedPartVal: (String, String) => Any = (c, v) =>
      schema.fields.find(_.name == c).get.dataType match {
        case LongType => v.toLong
        case IntegerType => v.toInt
        case DoubleType => v.toDouble
        case BooleanType => v.toBoolean
        case _ => v
      }
    val snapshot = spark.read.format("graft.sources.ManifestSink")
      .option("path", tablePath).option("versionAsOf", st.version.toString).load()
    val groups = st.entries.groupBy(_.parts).toSeq
    val newEntries = groups.flatMap { case (parts, groupEntries) =>
      val groupDf = parts.foldLeft(snapshot) { case (df, (c, v)) =>
        if (v == NullPartValue) df.filter(col(c).isNull)
        else df.filter(col(c) === lit(typedPartVal(c, v)))
      }
      val total = groupEntries.map(_.liveRows).sum
      val numFiles = math.max(1, math.ceil(total.toDouble / targetRows).toInt)
      val sorted = groupDf.withColumn("__graft_z", zExpr)
        .repartitionByRange(numFiles, col("__graft_z"))
        .sortWithinPartitions("__graft_z")
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
      val rootStr = tablePath
      val fileSchema = schema
      val fileParts = parts
      val cmap = st.colMap
      val bc = st.bloomCols
      val qc = quantColsOf(st.props)
      val rgb = rowGroupBytesOf(st.props)
      sorted.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
        val w = new ManifestDataWriter(rootStr, fileSchema,
          s"data-zorder-p$pid-${java.util.UUID.randomUUID()}.parquet", fileParts,
          cmap, bc, rgb, quantCols = qc)
        rows.foreach(w.write)
        w.commitFile().iterator
      }.collect().toSeq.map(c => FileEntry(c.fileName, c.rows, c.mins, c.maxs, c.parts,
        blooms = c.blooms, slows = c.slows, sups = c.sups, specId = st.specId,
        ndvs = c.ndvs, nulls = c.nulls, sorted = c.sorted, ndvSk = c.ndvSk,
        qsk = c.qsk))
    }
    // a z-order rewrite REORDERS rows across files: non-preserving, so
    // the rewritten rows are NEW rows to lineage (fresh ids)
    val (newAssigned, nextRid) =
      assignLineage(newEntries, st.nextRowId, st.version + 1L)
    commit(root, SingleShot, rewrite = true, first = Some(st)) { (st, _) =>
      Commit(st.copy(nextRowId = nextRid, entries = newAssigned),
        CompactionResult(st.version + 1, st.entries.size, newEntries.size,
          st.entries.size, newEntries.map(_.rows).sum),
        newEntries.map(_.name))
    }
  }

  /** RESTORE the table to an earlier version — published as a NEW
    * version whose content (schema, structure headers, file entries,
    * deletion vectors) equals `toVersion`'s, under the same CAS as any
    * commit: history only ever moves forward, so the bad versions stay
    * time-travelable and auditable (the Delta RESTORE shape). Streaming
    * exactly-once markers are deliberately NOT rewound — rewinding them
    * would make a running stream double-apply epochs it already
    * committed. Fails loudly if retention GC already swept any file the
    * target version references. Returns the new version number. */
  def rollback(tablePath: String, toVersion: Long): Long = {
    val root = Paths.get(tablePath)
    val cur = readState(root)
    require(cur.version > 0L, s"no versioned manifest table at $tablePath")
    require(toVersion >= 1L && toVersion < cur.version,
      s"rollback target must be an earlier version: table is at " +
        s"v${cur.version}, requested v$toVersion")
    val target = readState(root, Some(toVersion))
    val missing = target.entries.flatMap(e => e.name +: e.dvName.toSeq)
      .filterNot(n => Files.exists(root.resolve(n)))
    require(missing.isEmpty,
      s"cannot roll back $tablePath to v$toVersion: retention GC removed " +
        s"${missing.take(3).mkString(", ")}…")
    // TAGS are REFS, not table state: a rollback restores the target's
    // DATA and schema but must carry the CURRENT tag set — restoring
    // the target's tag props would silently drop tags created since
    // (vacuum would then expire their pinned snapshots) and resurrect
    // tags deliberately dropped. Streaming markers carry for the same
    // reason (they describe consumers, not the table).
    // Rollback re-references the target version's groups: entries are
    // byte-identical, so this publishes a manifest list with ZERO group
    // writes no matter how large the table is.
    commit(root, SingleShot, first = Some(cur)) { (cur, _) =>
      Commit(target.copy(markers = cur.markers,
        props = target.props.filterNot(_._1.startsWith(TagPropPrefix)) ++
          cur.props.filter(_._1.startsWith(TagPropPrefix))), cur.version + 1)
    }
  }

  /** What a [[deleteWhere]] call did. `candidateFiles` is how many files
    * the manifest stats could NOT rule out (the rewrite working set);
    * files whose stats are disjoint from the predicate are untouched.
    * `provenFiles` counts candidates dropped METADATA-ONLY — the
    * partition tuple alone proved every row matches, so the file was
    * never even opened. */
  case class DeleteResult(version: Long, candidateFiles: Int,
      rewrittenFiles: Int, deletedRows: Long, provenFiles: Int = 0)

  /** Does the partition tuple alone prove EVERY row of `e` matches the
    * conjunction? Partition columns are constant per file, so a
    * predicate decidable TRUE from the tuple holds for every row — the
    * file can be dropped from the manifest without being opened. At
    * 100 TB this is THE delete that matters operationally: `DELETE
    * WHERE day = '2024-01-01'` retires a partition as a metadata commit
    * instead of a partition-sized rewrite (Delta's metadata-only
    * delete). Either of two exact rules proves a predicate: its V1
    * translation ([[v2ToV1]]) decided TRUE by the transform-aware
    * [[evalPartFilter]], which also decides `OR`s whose other side
    * names a data column; or, when every referenced column is an
    * identity partition column, the predicate's bound Catalyst form
    * ([[deletePredicate]]) over a synthetic row of the file's typed
    * partition values, which covers shapes with no V1 form (`p % 2 =
    * 0`). A NULL partition value is a real SQL NULL for every row of the
    * file, so three-valued evaluation is exact. A transformed partition
    * VALUE is not the column's value, so the second rule never applies
    * to one. Anything undecided answers false and falls through to the
    * row path. */
  private def partProvenV2(
      preds: Seq[(org.apache.spark.sql.connector.expressions.filter.Predicate,
        org.apache.spark.sql.catalyst.expressions.BasePredicate)],
      schema: StructType, tf: Map[String, PartTransform])(e: FileEntry): Boolean =
    preds.forall { case (p, bound) =>
      v2ToV1(p).exists(f => evalPartFilter(f, e.parts, tf).contains(true)) ||
        p.references().forall(r => r.fieldNames.length == 1 &&
          tf.get(r.fieldNames.head).exists(_.isInstanceOf[PIdentity])) && {
          val vals = schema.fields.map { f =>
            e.parts.get(f.name) match {
              case None | Some(NullPartValue) => null
              case Some(v) => decodePartValue(v, f.dataType)
            }
          }
          bound.eval(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals))
        }
    }

  /** The one V2-Predicate → V1-Filter translation, feeding the V1
    * pruning and proof machinery ([[entryMayMatch]], [[evalPartFilter]]):
    * single-column comparisons with a literal on either side, IN over
    * literals, IS (NOT) NULL, the string predicates, the constants and
    * AND/OR/NOT. It inverts Spark's `Filter.toV2` on every shape, so a
    * V1 caller converted at the edge loses no prune and no proof.
    * Anything richer (arithmetic, casts) returns None — no prune, no
    * proof, never wrong, just slower. Spark's `PredicateUtils.toV1`
    * cannot stand in: it drops comparisons with the literal on the
    * left. */
  private[sources] def v2ToV1(
      p: org.apache.spark.sql.connector.expressions.Expression)
      : Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, Literal => V2Lit, NamedReference}
    import org.apache.spark.sql.connector.expressions.filter.{And => V2And, Not => V2Not, Or => V2Or, Predicate => V2Pred}
    import org.apache.spark.sql.sources._
    def colLit(args: Array[V2Expr]): Option[(String, Any, Boolean)] = args match {
      case Array(r: NamedReference, l: V2Lit[_]) if r.fieldNames.length == 1 =>
        Some((r.fieldNames()(0), litVal(l), false))
      case Array(l: V2Lit[_], r: NamedReference) if r.fieldNames.length == 1 =>
        Some((r.fieldNames()(0), litVal(l), true)) // flipped: literal op column
      case _ => None
    }
    def litVal(l: V2Lit[_]): Any = l.value() match {
      case u: UTF8String => u.toString
      case other => other
    }
    p match {
      case a: V2And => for { l <- v2ToV1(a.left()); r <- v2ToV1(a.right()) } yield And(l, r)
      case o: V2Or => for { l <- v2ToV1(o.left()); r <- v2ToV1(o.right()) } yield Or(l, r)
      case n: V2Not => v2ToV1(n.child()).map(Not)
      case q: V2Pred => q.name() match {
        case "=" => colLit(q.children()).map { case (c, v, _) => EqualTo(c, v) }
        case "<=>" => colLit(q.children()).map { case (c, v, _) => EqualNullSafe(c, v) }
        case ">" => colLit(q.children()).map { case (c, v, flip) =>
          if (flip) LessThan(c, v) else GreaterThan(c, v) }
        case ">=" => colLit(q.children()).map { case (c, v, flip) =>
          if (flip) LessThanOrEqual(c, v) else GreaterThanOrEqual(c, v) }
        case "<" => colLit(q.children()).map { case (c, v, flip) =>
          if (flip) GreaterThan(c, v) else LessThan(c, v) }
        case "<=" => colLit(q.children()).map { case (c, v, flip) =>
          if (flip) GreaterThanOrEqual(c, v) else LessThanOrEqual(c, v) }
        case "IS_NULL" => q.children() match {
          case Array(r: NamedReference) if r.fieldNames.length == 1 =>
            Some(IsNull(r.fieldNames()(0)))
          case _ => None
        }
        case "IS_NOT_NULL" => q.children() match {
          case Array(r: NamedReference) if r.fieldNames.length == 1 =>
            Some(IsNotNull(r.fieldNames()(0)))
          case _ => None
        }
        case "IN" => q.children() match {
          case arr if arr.nonEmpty => arr.head match {
            case r: NamedReference if r.fieldNames.length == 1 &&
                arr.tail.forall(_.isInstanceOf[V2Lit[_]]) =>
              Some(In(r.fieldNames()(0),
                arr.tail.map(a => litVal(a.asInstanceOf[V2Lit[_]]))))
            case _ => None
          }
          case _ => None
        }
        case "STARTS_WITH" => colLit(q.children()).collect {
          case (c, v: String, false) => StringStartsWith(c, v) }
        case "ENDS_WITH" => colLit(q.children()).collect {
          case (c, v: String, false) => StringEndsWith(c, v) }
        case "CONTAINS" => colLit(q.children()).collect {
          case (c, v: String, false) => StringContains(c, v) }
        case "ALWAYS_TRUE" => Some(AlwaysTrue())
        case "ALWAYS_FALSE" => Some(AlwaysFalse())
        case _ => None
      }
      case _ => None
    }
  }

  /** Row-level kill test for ONE record against `schema`-shaped rows:
    * a row dies iff its key tuple ([[EqDelApplied.keyOf]]) is in the
    * record's key set. */
  private[sources] def rowKillTest(schema: StructType,
      a: EqDelApplied): InternalRow => Boolean = {
    val idx = a.cols.map(schema.fieldIndex)
    row => a.keyOf(row, idx).exists(a.typedKeys)
  }

  /** Does an outstanding equality-delete record hide `row` of `e`? Only
    * records sequenced after the entry govern it. */
  private def eqHiddenTest(schema: StructType, applied: Seq[EqDelApplied],
      e: FileEntry): InternalRow => Boolean = {
    val tests = applied.filter(_.seq > e.seq).map(a => rowKillTest(schema, a))
    row => tests.exists(t => t(row))
  }

  /** The delete predicates bound to one table state: an unsupported
    * predicate is rejected before any I/O; then the file prune
    * ([[mayMatchV2]]), the metadata-only proof ([[partProvenV2]]) and
    * the row test, Catalyst's evaluation of the bound conjunction
    * ([[deletePredicate]]): a row is deleted iff it is TRUE, so UNKNOWN
    * keeps the row. */
  private final class DeleteMatch(st: TableState, schema: StructType,
      preds: Seq[org.apache.spark.sql.connector.expressions.filter.Predicate]) {
    private val bound = preds.map(p => p -> deletePredicate(p, schema)
      .map(org.apache.spark.sql.catalyst.expressions.Predicate.create(_))
      .getOrElse(throw new IllegalArgumentException(s"unsupported delete predicate: $p")))
    def mayMatch(e: FileEntry): Boolean = preds.forall(p => mayMatchV2(st, e, p))
    def proven(e: FileEntry): Boolean =
      st.transformsForOpt(e).exists(tf => partProvenV2(bound, schema, tf)(e))
    def row(r: InternalRow): Boolean = bound.forall(_._2.eval(r))
  }

  /** Row-level DELETE, merge-on-read: instead of rewriting every
    * candidate file, record the matching ROW POSITIONS in a sidecar
    * deletion-vector file and re-point the manifest entry — the
    * Delta/Iceberg DV shape. A point delete against a 1 GB file costs
    * one file READ and a kilobyte write, not a 1 GB rewrite; readers
    * apply the vector at scan (positions are merged into every read
    * path), and OPTIMIZE later purges vectors by rewriting live rows.
    * The trade: scans of DV'd files drop out of the whole-batch
    * columnar handoff and min/max aggregate pushdown (a deleted row may
    * have held the extremum — count(*) stays metadata-exact via
    * per-entry live counts). A file whose every live row matches drops
    * from the manifest entirely — metadata-only, no DV needed.
    * Same single-attempt CAS and same predicate dialect as the CoW path. */
  def deleteWhereMoRV2(tablePath: String,
      preds: Seq[org.apache.spark.sql.connector.expressions.filter.Predicate],
      gc: GcPolicy = GcPolicy(None, 3600L * 1000)): DeleteResult = {
    val root = Paths.get(tablePath)
    val st = readState(root)
    require(st.version > 0L, s"delete requires a versioned manifest table at $tablePath")
    val schema = schemaOf(root, st)
    val m = new DeleteMatch(st, schema, preds)
    val (candidates, untouched) = st.entries.partition(m.mayMatch)
    var deletedRows = 0L
    var provenFiles = 0
    val newDvFiles = scala.collection.mutable.Buffer.empty[String]
    // records resolved ONCE (sidecar read + typed key set), filtered per
    // entry by sequence — not re-read per data file
    val eqApplied = st.eqDels.map(EqDelApplied.resolve(root, schema, _))
    val files = new ManifestReaderFactory(schema, schema, columnar = false, st.colMap,
      st.schemaEpoch > 0L)
    val replacements = candidates.map { e =>
      if (m.proven(e)) {
        // partition tuple proves a full match: drop the entry without
        // opening the file — no DV, no read (see partProvenV2)
        provenFiles += 1; deletedRows += e.liveRows; None
      } else {
      val prior: Set[Long] =
        e.dvName.fold(Set.empty[Long])(n => readDvPositions(root.resolve(n)).toSet)
      val eqHidden = eqHiddenTest(schema, eqApplied, e)
      val matched = scala.collection.mutable.Buffer.empty[Long]
      val r = files.createReader(ManifestFilePartition(root.resolve(e.name).toString))
      try {
        var pos = -1L
        while (r.next()) {
          pos += 1
          val row = r.get()
          // positions already deleted — by a prior DV or by an outstanding
          // equality-delete record — are invisible: never re-matched,
          // never re-counted, never re-vectored (a DV'd eq-hidden position
          // would otherwise leak into the cdc feed's DV diff)
          if (!prior.contains(pos) && !eqHidden(row) && m.row(row))
            matched += pos
        }
      } finally r.close()
      if (matched.isEmpty) Some(e) // stats were only a may-match
      else {
        deletedRows += matched.size
        val union = prior ++ matched
        if (union.size == e.rows) None // no live rows left: drop the entry
        else {
          val dvName = writeDvFile(root, union.toSeq)
          newDvFiles += dvName
          Some(e.copy(dvName = Some(dvName), dvRows = union.size))
        }
      }
      }
    }
    if (deletedRows == 0L)
      return DeleteResult(st.version, candidates.size, 0, 0L)
    val entries = untouched ++ replacements.flatten
    commit(root, SingleShot, gc, first = Some(st)) { (st, _) =>
      // "rewritten" files here are the entries that gained/extended a DV
      Commit(st.copy(entries = entries),
        DeleteResult(st.version + 1, candidates.size,
          candidates.zip(replacements).count { case (e, r) => !r.contains(e) },
          deletedRows, provenFiles),
        newDvFiles.toSeq)
    }
  }

  /** Row-level DELETE, copy-on-write: every file the manifest cannot
    * rule out is re-read, its surviving rows are written to a NEW
    * parquet file, and one manifest version publishes the swap — the
    * Delta/Iceberg CoW shape. Untouched files are carried by reference;
    * history (time travel) keeps the pre-delete files alive until
    * retention GC expires their versions; a change feed across a delete
    * version fails the pure-append check LOUDLY (a delete is not a
    * delta). The CAS is single-attempt: a delete decided what to remove
    * from a state that must still hold at publish — concurrent commits
    * lose it loudly, and the caller re-runs against the new state.
    *
    * Predicates compose as AND, in the one delete dialect: V2
    * `Predicate`s, which SQL `DELETE FROM` and `TRUNCATE` pass
    * directly and V1 `Filter` callers reach through `toV2`
    * ([[deleteWhere]]). The dialect is strictly wider than V1 — `c % 10
    * = 3` has no `Filter` form, and a dropped disjunct would be a silent
    * UNDER-delete, the worst possible failure for a DELETE.
    * [[supportedDeletePredicate]] gates it up front (in `canDeleteWhere`
    * too), so anything we cannot evaluate fails loudly before any I/O.
    *
    * Candidates whose PARTITION TUPLE proves a full match drop
    * metadata-only ([[partProvenV2]]); per-file min/max stats never can —
    * null counts aren't tracked, and a null never matches a range
    * predicate, so a stats-proven range could still shelter a surviving
    * null row. Rewrites are per-file independent, so a distributed
    * engine would fan them out one task each; driver-side sequential is
    * the local[*] degenerate case (same argument as [[compact]]). */
  def deleteWhereV2(tablePath: String,
      preds: Seq[org.apache.spark.sql.connector.expressions.filter.Predicate],
      gc: GcPolicy = GcPolicy(None, 3600L * 1000)): DeleteResult = {
    val root = Paths.get(tablePath)
    val st = readState(root)
    require(st.version > 0L, s"delete requires a versioned manifest table at $tablePath")
    val schema = schemaOf(root, st)
    val m = new DeleteMatch(st, schema, preds)
    val (candidates, untouched) = st.entries.partition(m.mayMatch)
    var deletedRows = 0L
    var provenFiles = 0
    val eqApplied = st.eqDels.map(EqDelApplied.resolve(root, schema, _))
    val files = new ManifestReaderFactory(schema, schema, columnar = false, st.colMap,
      st.schemaEpoch > 0L)
    val replacements = candidates.map { e =>
      if (m.proven(e)) {
        // partition tuple proves a full match: drop the entry without
        // opening the file (see partProvenV2) — the 100 TB partition-
        // retirement path, a pure metadata commit
        provenFiles += 1; deletedRows += e.liveRows; None
      } else {
      val stats = new FileStatsCollector(schema, st.bloomCols, st.sortCols,
        quantColsOf(st.props))
      var kept = 0L
      val newName = s"data-delete-${java.util.UUID.randomUUID()}.parquet"
      val out = ManifestParquet.open(root.resolve(newName),
        toPhysicalSchema(schema, st.colMap))
      // rows a prior merge-on-read delete already removed are invisible:
      // they neither match nor survive into the rewrite (the rewrite
      // purges the DV — the replacement entry carries none)
      val dv: Set[Long] =
        e.dvName.fold(Set.empty[Long])(n => readDvPositions(root.resolve(n)).toSet)
      // rows an outstanding equality-delete record hides are invisible
      // too, but they never match and are copied as they are: the
      // replacement keeps the entry's sequence, so the record still
      // hides them
      val eqHidden = eqHiddenTest(schema, eqApplied, e)
      val remap = new LineageRemapper(e.lineageSegs(root))
      try {
        val r = files.createReader(ManifestFilePartition(root.resolve(e.name).toString))
        try {
          var pos = -1L
          while (r.next()) {
            pos += 1
            val row = r.get()
            if (dv.contains(pos)) ()
            // deleted iff the conjunction is TRUE; UNKNOWN keeps the row
            else if (!eqHidden(row) && m.row(row)) deletedRows += 1
            else {
              out.write(row); kept += 1
              stats.add(row); remap.add(pos)
            }
          }
        } finally r.close()
      } finally out.close()
      if (kept == e.liveRows) {
        // nothing in this file matched after all (stats were only a
        // may-match): keep the ORIGINAL file, discard the copy
        Files.deleteIfExists(root.resolve(newName))
        Some(e)
      } else if (kept == 0L) {
        // the whole file matched: no replacement at all
        Files.deleteIfExists(root.resolve(newName))
        None
      } else Some(FileEntry(newName, kept, stats.intMins, stats.intMaxs, e.parts,
        blooms = stats.blooms, slows = stats.strLowers, sups = stats.strUppers,
        seq = e.seq, specId = e.specId,
        ndvs = stats.intNdvs, nulls = stats.nullCounts,
        // survivors keep their row ids across the copy-on-write rewrite
        sorted = stats.sortedBy, lineage = remap.segments,
        ndvSk = stats.ndvSketches, qsk = stats.quantSketches))
      }
    }
    val rewritten = candidates.zip(replacements).count {
      case (e, r) => !r.contains(e)
    }
    if (deletedRows == 0L)
      return DeleteResult(st.version, candidates.size, 0, 0L)
    val entries = untouched ++ replacements.flatten
    commit(root, SingleShot, gc, first = Some(st)) { (st, _) =>
      Commit(st.copy(entries = entries),
        DeleteResult(st.version + 1, candidates.size, rewritten, deletedRows, provenFiles),
        replacements.flatten.filterNot(candidates.contains).map(_.name))
    }
  }

  /** Row-level DELETE, copy-on-write, for V1 `Filter` callers: each
    * filter converts at the edge with Spark's `Filter.toV2` (reached
    * through [[org.apache.spark.sql.graft.GraftBridge]]), and the
    * conjunction runs as [[deleteWhereV2]]. */
  def deleteWhere(tablePath: String, filters: Seq[org.apache.spark.sql.sources.Filter],
      gc: GcPolicy = GcPolicy(None, 3600L * 1000)): DeleteResult =
    deleteWhereV2(tablePath, filters.map(org.apache.spark.sql.graft.GraftBridge.toV2), gc)

  /** Parquet primitive a TABLE type stores as (manifest tables carry
    * exactly these) — what [[ManifestReaderFactory]]'s footer probes
    * (widening, row-group filtering, the equality-delete pass) compare
    * a file's physical primitive against. */
  private[sources] def expectedPrimitiveOf(dt: DataType): String = dt match {
    case LongType => "INT64"
    case IntegerType => "INT32"
    case DoubleType => "DOUBLE"
    case org.apache.spark.sql.types.FloatType => "FLOAT"
    case BooleanType => "BOOLEAN"
    case StringType => "BINARY"
    case _ => "GROUP"
  }

  /** The delete dialect: a V2 `Predicate` that Spark's
    * `V2ExpressionUtils` converts to Catalyst, that resolves against
    * `schema` and is deterministic, and whose literals are all of a type
    * stats pruning reads ([[v2ToV1]] hands it their raw values): BIGINT,
    * INT, DOUBLE, FLOAT, BOOLEAN, STRING or NULL. Every V1 `Filter`
    * shape arrives here through `toV2`; arithmetic like `c % 10 = 3` has
    * no V1 form at all. Returns the predicate BOUND to `schema`'s
    * ordinals ([[bindToSchema]]): evaluated over a row it gives the SQL
    * three-valued answer (null = UNKNOWN) that `SELECT … WHERE` gives,
    * string order, `-0.0 = 0.0` and the session's ANSI arithmetic
    * included. None outside the dialect. */
  private[sources] def deletePredicate(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate,
      schema: StructType): Option[org.apache.spark.sql.catalyst.expressions.Expression] =
    org.apache.spark.sql.catalyst.expressions.V2ExpressionUtils.toCatalyst(p)
      .filter(_.collect {
        case l: org.apache.spark.sql.catalyst.expressions.Literal => l.dataType
      }.forall {
        case LongType | IntegerType | DoubleType | FloatType | BooleanType |
             StringType | NullType => true
        case _ => false
      })
      .flatMap(bindToSchema(_, schema))
      .filter(_.deterministic)

  /** Is `p` inside the delete dialect ([[deletePredicate]])? Everything
    * outside it is rejected in `canDeleteWhere`, so Spark runs the
    * DELETE as a row-level rewrite rather than under-scoped. */
  private[sources] def supportedDeletePredicate(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate,
      schema: StructType): Boolean =
    deletePredicate(p, schema).isDefined

  /** Per-file pruning for the V2 shape: `AND` prunes if either side
    * prunes, `OR` only if both do, and every other shape prunes through
    * its V1 translation ([[v2ToV1]]) and the spec-aware
    * [[entryMayMatch]] — partition tuple, min/max stats, blooms. A shape
    * with no V1 form (arithmetic) conservatively may-match. */
  private[sources] def mayMatchV2(st: TableState, e: FileEntry,
      p: org.apache.spark.sql.connector.expressions.filter.Predicate): Boolean = {
    import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Pred}
    p.name match {
      case "AND" => p.children.forall { case c: V2Pred => mayMatchV2(st, e, c); case _ => true }
      case "OR" => p.children.exists { case c: V2Pred => mayMatchV2(st, e, c); case _ => true }
      case _ => v2ToV1(p).forall(f => entryMayMatch(st, e, f))
    }
  }
}

class ManifestTable(root: Path, schema0: StructType, pinned: Option[Long] = None,
    changes: Option[(Long, Long)] = None, branch: Option[String] = None,
    cdc: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with SupportsRowLevelOperations {
  require(branch.isEmpty || (pinned.isEmpty && changes.isEmpty),
    "a branch read/write cannot combine with time travel or a change feed")
  /** Version the table's STRUCTURE resolves at: an explicit pin, or a
    * branch's anchor (branch commits never alter structure). */
  private def metaPin: Option[Long] =
    pinned.orElse(branch.map(b => ManifestSink.branchBase(root, b)))
  override def name(): String =
    s"manifest($root${pinned.fold("")(v => s"@v$v")}" +
      s"${branch.fold("")(b => s"@branch=$b")}" +
      s"${changes.fold("")(c => s"Δv${c._1}..${if (c._2 < 0) "now" else c._2}")})"
  override def schema(): StructType = schema0

  /** The version this table instance's metadata resolves at, reported
    * through the connector API. ADD CONSTRAINT's validation scan
    * records it (`TableChange.AddConstraint.validatedTableVersion`) and
    * [[ManifestSink.alterSchema]] refuses to persist the constraint if
    * the table has advanced past it — the scan's VALID verdict only
    * covers the scanned version. */
  override def version(): String =
    metaPin.getOrElse(ManifestSink.currentVersion(root)).toString

  /** Enforced CHECK constraints (persisted as reserved properties):
    * Spark's ResolveTableConstraints reads these and injects a
    * CheckInvariant into every write of this table, so a violating
    * INSERT/UPDATE/MERGE fails row-exactly — the Delta CHECK shape.
    * Computed once per table instance: Spark calls constraints() up to
    * three times per write analysis, and a snapshot-consistent answer
    * beats three directory listings. */
  private lazy val constraints0:
      Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    if (ManifestSink.currentVersion(root) <= 0L) Array.empty
    else ManifestSink.constraintsOf(ManifestSink.readHeader(root, metaPin).props)
  override def constraints():
      Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    constraints0

  /** `_file` metadata column (the Iceberg/parquet `_metadata.file_name`
    * shape): the manifest data file each row lives in, emitted as a
    * per-partition constant by the reader — never stored. Row-level
    * rewrites require it (see
    * [[ManifestRowLevelOperation.requiredMetadataAttributes]]) so
    * Spark's runtime group filter can name EXACTLY the files with
    * matches, and users get `SELECT _file, count(*) …` provenance for
    * free. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = ManifestSink.FileNameColumn
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "manifest data file holding this row"
    }, new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = ManifestSink.RowIdColumn
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = true
      override def comment(): String =
        "table-unique row id assigned when the row first entered the table " +
          "(NULL for pre-lineage files)"
    }, new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = ManifestSink.LastUpdatedColumn
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = true
      override def comment(): String =
        "version of the commit that last produced this row (NULL for " +
          "pre-lineage files)"
      // the Iceberg v3 update semantic through Spark's public knob:
      // UPDATE/MERGE-updated rows keep _row_id (preserved by default)
      // but their last-updated NULLIFIES through the rewrite
      // (RewriteRowLevelCommand.nullifyMetadataOnUpdate) so the writer
      // can stamp the committing version
      override def metadataInJSON(): String =
        s"""{"${org.apache.spark.sql.connector.catalog.MetadataColumn.PRESERVE_ON_UPDATE}": false}"""
    })

  /** SHOW TBLPROPERTIES / DESCRIBE EXTENDED surface: the live knobs as
    * recorded in the current manifest (set at CREATE or via ALTER TABLE
    * SET TBLPROPERTIES). */
  override def properties(): util.Map[String, String] = {
    // one read, and PINNED: a time-traveled table must report that
    // version's settings, not a mix of pinned and current
    val st = ManifestSink.readState(root, metaPin)
    val m = new util.HashMap[String, String]()
    m.put("delete.mode", st.deleteMode)
    if (st.bloomCols.nonEmpty) m.put("bloom.columns", st.bloomCols.mkString(","))
    if (st.sortCols.nonEmpty) m.put("write.sort-by", st.sortCols.mkString(","))
    // constraints surface through constraints()/DESCRIBE, not as raw
    // encoded properties (and SHOW output must never round-trip back
    // through SET TBLPROPERTIES, which rejects the reserved prefix)
    st.props.foreach { case (k, v) =>
      if (!k.startsWith(ManifestSink.ConstraintPropPrefix)) m.put(k, v) }
    m
  }

  /** Identity partitioning, reported so Spark routes `INSERT OVERWRITE`
    * through dynamic/static PARTITION overwrite instead of truncate, and
    * `DESCRIBE`/`SHOW CREATE` display the layout. */
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    ManifestSink.partitionSpec(root, metaPin).map {
      case ManifestSink.PIdentity(c) => Expressions.identity(c)
      case ManifestSink.PDays(c) => Expressions.days(c)
      case ManifestSink.PMonths(c) => Expressions.months(c)
      case ManifestSink.PYears(c) => Expressions.years(c)
      case ManifestSink.PTruncInt(c, w) =>
        if (w <= Int.MaxValue)
          Expressions.apply("truncate", Expressions.literal(w.toInt), Expressions.column(c))
        else Expressions.apply("truncate", Expressions.literal(w), Expressions.column(c))
      case ManifestSink.PTruncStr(c, n) =>
        Expressions.apply("truncate", Expressions.literal(n), Expressions.column(c))
      case ManifestSink.PBucketInt(c, n) => Expressions.bucket(n, c)
      case ManifestSink.PBucketStr(c, n) => Expressions.bucket(n, c)
    }.toArray
  }

  /** SQL `DELETE FROM` lands here (via [[GraftCatalog]]), and so does
    * `TRUNCATE TABLE` as `SupportsDeleteV2`'s default `ALWAYS_TRUE`
    * delete: row-level delete — copy-on-write by default, merge-on-read
    * (positional deletion vectors, see [[ManifestSink.deleteWhereMoRV2]])
    * when the table was created with TBLPROPERTIES `delete.mode` =
    * `merge-on-read`. Predicates stay V2 end to end; unsupported ones
    * are rejected in `canDeleteWhere`, so Spark rewrites the statement
    * row-level (see [[newRowLevelOperationBuilder]]) instead. */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    pinned.isEmpty && changes.isEmpty && branch.isEmpty &&
      predicates.forall(p => ManifestSink.supportedDeletePredicate(p, schema0))
  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    if (ManifestSink.deleteMode(root) == ManifestSink.DeleteModeMor)
      ManifestSink.deleteWhereMoRV2(root.toString, predicates.toSeq)
    else ManifestSink.deleteWhereV2(root.toString, predicates.toSeq)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ,
      // partition-subset INSERT OVERWRITE (ManifestWriteBuilder):
      // static `PARTITION (p = 'x')` clauses and dynamic mode
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val maxVersions = Option(options.get("maxVersionsPerTrigger")).map { s =>
      val n = s.toLong
      require(n >= 1, s"maxVersionsPerTrigger must be >= 1, got $n")
      n
    }
    branch match {
      case Some(b) =>
        // branch read: the anchor snapshot plus every staged commit's
        // entries; batch-only (a stream over a staging lane has no
        // exactly-once story until fast-forward publishes it)
        new ManifestScanBuilder(root, Some(ManifestSink.branchBase(root, b)),
          None, None, branchEntries = Some(() => ManifestSink.branchEntries(root, b)))
      case None => new ManifestScanBuilder(root, pinned, changes, maxVersions,
        cdc = cdc)
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // `.option("branch", name)` on the writer (or writing to the
    // `db.t.branch_<name>` identifier) stages the append onto the branch
    val wb = Option(info.options().get("branch")).orElse(branch)
    wb.foreach(ManifestSink.requireBranchName)
    new ManifestWriteBuilder(root, info.schema(), truncateFirst = false,
      ManifestSink.gcPolicy(info.options()), info.queryId(), branch = wb)
  }

  /** SQL `UPDATE` and `MERGE INTO` land here (via [[GraftCatalog]]):
    * Spark's GROUP-BASED row-level rewrite. One operation instance links
    * the rewrite scan to the replacing write — the scan records which
    * files it planned (after the command condition's stats pruning, via
    * `GroupBasedRowLevelOperationScanPlanning`) pinned to the version it
    * read, and the write's commit swaps exactly those files for the
    * rewritten content in one CAS publish against that version.
    * `DELETE` statements whose predicates fit the delete dialect
    * ([[ManifestSink.supportedDeletePredicate]]) still take the
    * metadata-coordinated path above
    * (`OptimizeMetadataOnlyDeleteFromTable` converts them back); shapes
    * outside it — subqueries, disjunctions over arithmetic — now fall
    * through to this rewrite instead of failing. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(pinned.isEmpty && changes.isEmpty && branch.isEmpty,
      "row-level operations apply to the CURRENT snapshot, not a " +
        "time-travel, change-feed or branch read (branches are " +
        "append-only staging lanes)")
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new ManifestRowLevelOperation(root, info.command(),
          ManifestSink.gcPolicy(info.options()))
    }
  }
}

/** Retention knobs parsed from WRITE options: `retainVersions = k` keeps
  * the k most recent manifest versions after a successful commit and
  * garbage-collects everything older — expired manifests plus data files
  * no retained version references. `gcGraceMs` (default 1h) protects the
  * uncommitted files of an in-flight concurrent writer: an unreferenced
  * data file is deleted only once it is older than the grace window (the
  * Iceberg orphan-file-age shape). No retention option = keep all
  * history (every version stays time-travelable). */
case class GcPolicy(retainVersions: Option[Int], orphanGraceMs: Long)
    extends Serializable

class ManifestWriteBuilder(root: Path, schema: StructType, truncateFirst: Boolean,
    gc: GcPolicy = GcPolicy(None, 3600L * 1000), queryId: String = "",
    overwriteFilters: Option[Seq[org.apache.spark.sql.sources.Filter]] = None,
    dynamicOverwrite: Boolean = false,
    branch: Option[String] = None)
    extends WriteBuilder with SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  private lazy val partCols = ManifestSink.partitionColumns(root)

  override def truncate(): WriteBuilder = {
    require(branch.isEmpty, "branches are append-only staging lanes: " +
      "TRUNCATE/INSERT OVERWRITE must target the table, not a branch")
    new ManifestWriteBuilder(root, schema, truncateFirst = true, gc, queryId)
  }

  /** Static-mode `INSERT OVERWRITE t PARTITION (p = 'x')`: the delete
    * side of the overwrite must be decidable from partition TUPLES
    * alone — a filter touching a non-partition column would make the
    * victim set depend on row data, so it is rejected at analysis. A
    * bare AlwaysTrue (full-table INSERT OVERWRITE routed through
    * SupportsOverwrite) degrades to truncate. */
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    import org.apache.spark.sql.sources.AlwaysTrue
    if (filters.isEmpty || filters.forall(_.isInstanceOf[AlwaysTrue])) truncate()
    else {
      require(branch.isEmpty, "branches are append-only staging lanes: " +
        "INSERT OVERWRITE must target the table, not a branch")
      val pc = partCols.toSet
      filters.foreach(f => require(f.references.forall(pc.contains),
        s"INSERT OVERWRITE filter $f references non-partition columns " +
          s"(partition columns: ${partCols.mkString(", ")}); " +
          "row-level replacement goes through DELETE/UPDATE/MERGE instead"))
      new ManifestWriteBuilder(root, schema, truncateFirst = false, gc, queryId,
        overwriteFilters = Some(filters.toSeq))
    }
  }

  /** Dynamic partition overwrite (`partitionOverwriteMode=dynamic`):
    * replace exactly the partitions the incoming data lands in. */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    require(branch.isEmpty, "branches are append-only staging lanes: " +
      "dynamic partition overwrite must target the table, not a branch")
    require(partCols.nonEmpty,
      s"dynamic partition overwrite requires a partitioned table; $root has no partition columns")
    new ManifestWriteBuilder(root, schema, truncateFirst = false, gc, queryId,
      dynamicOverwrite = true)
  }

  override def build(): Write = {
    ManifestSink.requireSafeColumnNames(schema)
    // ONE manifest read resolves every table-structure knob the write
    // needs — on a 100k-file table the manifest is multi-megabyte, and
    // per-header accessors would each re-read and re-parse it
    val st = ManifestSink.readState(root)
    val pc = st.partCols
    val cmap = st.colMap
    val bc = st.bloomCols
    val sc = st.sortCols
    val qc = ManifestSink.quantColsOf(st.props)
    val rgb = ManifestSink.rowGroupBytesOf(st.props)
    val pspec = st.effectiveSpec
    val pspecId = st.specId
    new Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
      import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
      // cluster incoming rows by partition tuple so each partition's
      // rows land in ONE task → one data file per partition per commit
      // instead of (tasks × partitions) small files — the 100 TB
      // difference between a table that needs nightly OPTIMIZE and one
      // that doesn't. Advisory (not strictly required): a single-task
      // local write must not force a shuffle.
      override def requiredDistribution(): Distribution =
        if (pc.nonEmpty)
          Distributions.clustered(pc.map(c => Expressions.identity(c)).toArray)
        else if (sc.nonEmpty)
          // write.sort-by on an unpartitioned table: RANGE-distribute by
          // the sort key so tasks own disjoint key ranges — per-file
          // min/max come out tight and range predicates prune from the
          // first append, no OPTIMIZE pass needed
          Distributions.ordered(sc.map(c =>
            Expressions.sort(Expressions.column(c),
              org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray)
        else Distributions.unspecified()
      override def requiredOrdering(): Array[SortOrder] =
        // in-task sort on the configured columns (after the partition
        // clustering when both are set): rows inside each file are
        // key-ordered, which parquet row-group stats reward too
        sc.map(c => Expressions.sort(Expressions.column(c),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
      override def distributionStrictlyRequired(): Boolean = false
      override def toBatch: BatchWrite =
        new ManifestBatchWrite(root, schema, truncateFirst, gc, pc,
          overwriteFilters, dynamicOverwrite, cmap, bc, branch, rgb, pspec,
          pspecId, sortCols = sc, quantCols = qc)
      // streaming: truncateFirst becomes truncate-EACH-EPOCH (Spark calls
      // truncate() on the builder for Complete output mode)
      override def toStreaming: StreamingWrite = {
        require(branch.isEmpty, "streaming writes onto a BRANCH are not " +
          "supported — stream into the table, or stage batch appends for WAP")
        // the analyzer rule that injects CheckInvariant only matches
        // V2WriteCommand/WriteDelta; the micro-batch write plan is
        // neither, so CHECK constraints are bound here (driver) and
        // enforced per row in the stream's writers
        new ManifestStreamingWrite(root, schema, truncateFirst, gc, queryId,
          pc, cmap, bc, rgb, pspec, pspecId,
          checks = ManifestSink.boundConstraintExprs(schema, st.props),
          sortCols = sc, quantCols = qc)
      }
    }
  }
}

case class ManifestCommit(fileName: String, rows: Long,
    mins: Map[String, Long], maxs: Map[String, Long],
    parts: Map[String, String] = Map.empty,
    blooms: Map[String, String] = Map.empty,
    slows: Map[String, String] = Map.empty,
    sups: Map[String, String] = Map.empty,
    ndvs: Map[String, Long] = Map.empty,
    nulls: Map[String, Long] = Map.empty,
    sorted: Seq[String] = Seq.empty,
    // row-lineage segments captured while writing (row-level rewrites
    // only; [[ManifestSink.FreshRowIdMarker]] runs resolve at publish)
    lineage: Seq[(Long, Long, Long)] = Seq.empty,
    // encoded mergeable NDV sketches ([[NdvSketch]]) per integer column
    ndvSk: Map[String, String] = Map.empty,
    // encoded bottom-k value samples ([[QuantileSketch]]) per opted-in
    // integer column
    qsk: Map[String, String] = Map.empty) extends WriterCommitMessage

/** A partition-fanout task's commit: one [[ManifestCommit]] per data
  * file it opened (one per distinct partition tuple it received). A task
  * that received no rows opened no file and commits the empty set. */
case class ManifestCommitSet(commits: Seq[ManifestCommit]) extends WriterCommitMessage

class ManifestBatchWrite(root: Path, schema: StructType, truncateFirst: Boolean,
    gc: GcPolicy = GcPolicy(None, 3600L * 1000),
    partCols: Seq[String] = Seq.empty,
    overwriteFilters: Option[Seq[org.apache.spark.sql.sources.Filter]] = None,
    dynamicOverwrite: Boolean = false,
    colMap: Map[String, String] = Map.empty,
    bloomCols: Seq[String] = Seq.empty,
    branch: Option[String] = None,
    rowGroupBytes: Option[Long] = None,
    partSpec: Seq[ManifestSink.PartTransform] = Seq.empty,
    // spec id the fan-out ROUTED rows with, recorded on every entry — a
    // commit racing a spec evolution honestly publishes old-spec files
    // (pruned forever under their archived spec), exactly like files
    // written before the evolution
    specId: Long = 0L,
    sortCols: Seq[String] = Seq.empty,
    quantCols: Seq[String] = Seq.empty) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ManifestWriterFactory(root.toString, schema, partCols, colMap, bloomCols,
      rowGroupBytes, partSpec, sortCols, quantCols)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val newEntries = ManifestSink.commitEntries(messages).map(_.copy(specId = specId))
    if (branch.isDefined)
      // WAP staging: publish onto the branch chain — invisible to main
      // readers until fast-forward
      ManifestSink.appendToBranch(root, branch.get, schema, newEntries)
    else if (dynamicOverwrite)
      ManifestSink.publishPartitionOverwrite(root, schema, newEntries,
        replaceParts = Some(newEntries.map(_.parts).toSet), filters = Seq.empty, gc)
    else overwriteFilters match {
      case Some(fs) =>
        ManifestSink.publishPartitionOverwrite(root, schema, newEntries,
          replaceParts = None, filters = fs, gc)
      case None =>
        ManifestSink.publishCommit(root, schema, truncateFirst, newEntries,
          markerUpdate = None, gc)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ManifestSink.commitFileNames(messages)
      .foreach(f => Files.deleteIfExists(root.resolve(f)))
}

/** One SQL UPDATE / MERGE / (non-metadata) DELETE: the shared object
  * Spark's `RowLevelOperationTable` threads between the rewrite's scan
  * and its write. The scan side pins the table version at planning and
  * records the file set it resolved (post stats-pruning); the write side
  * replaces exactly that set. Copy-on-write semantics: every planned
  * file is rewritten in full, untouched files are carried by reference. */
class ManifestRowLevelOperation(root: Path, cmd: RowLevelOperation.Command,
    gc: GcPolicy) extends RowLevelOperation {
  /** (version the scan read, files it planned) — set when the rewrite
    * scan is built, consumed by the write's commit. */
  @volatile private var scanState: Option[(Long, Seq[ManifestSink.FileEntry])] = None

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"manifest-cow-${cmd.name.toLowerCase}"

  /** The rewrite reads `_file` alongside the data columns so Spark's
    * runtime group filter (RowLevelOperationRuntimeGroupFiltering) can
    * express "groups with matches" as ONE single-column
    * `_file IN (names…)` — the only shape
    * `translateRuntimeFilterV2` can deliver to a source (multi-column
    * keys become an untranslatable struct-IN and are dropped). With it,
    * a MERGE/UPDATE touching one file rewrites one file; every other
    * group carries by reference. The Iceberg `_file` pattern, public
    * knowledge. */
  override def requiredMetadataAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions
        .column(ManifestSink.FileNameColumn),
      // row lineage threads through the rewrite: Spark's
      // DataAndMetadataWritingSparkTask hands carried-over rows to the
      // writer WITH their metadata projection (`write(meta, row)`), so
      // unchanged rows in rewritten groups keep their ids — see
      // ManifestReplaceWriterFactory
      org.apache.spark.sql.connector.expressions.Expressions
        .column(ManifestSink.RowIdColumn),
      org.apache.spark.sql.connector.expressions.Expressions
        .column(ManifestSink.LastUpdatedColumn))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val v = ManifestSink.currentVersion(root)
    require(v > 0L,
      "row-level operations require a versioned manifest table")
    // pinned to v: the scan and the commit's carried-over entries must
    // describe the SAME snapshot even if the table moves mid-operation
    // (the CAS at publish then loses loudly instead of mixing states)
    new ManifestScanBuilder(root, Some(v), None, None,
      onBatchResolve = Some(entries => scanState = Some((v, entries))))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val writeSchema = info.schema()
    val pc = ManifestSink.partitionColumns(root)
    val cmap = ManifestSink.columnMapping(root)
    val bc = ManifestSink.bloomColumns(root)
    val hdr = ManifestSink.readHeader(root)
    val rgb = ManifestSink.rowGroupBytesOf(hdr.props)
    val qc = ManifestSink.quantColsOf(hdr.props)
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new ManifestReplaceDataWrite(root, writeSchema,
            ManifestRowLevelOperation.this, gc, pc, cmap, bc, rgb,
            hdr.effectiveSpec, hdr.specId, quantCols = qc)
      }
    }
  }

  private[sources] def commitReplace(newEntries: Seq[ManifestSink.FileEntry]): Unit = {
    val (v, scanned) = scanState.getOrElse(throw new IllegalStateException(
      "row-level write committed before its rewrite scan was planned"))
    ManifestSink.publishReplace(root, v, scanned.map(_.name).toSet, newEntries, gc)
  }
}

/** The write half of a group-based row-level rewrite: tasks write
  * replacement parquet through the ordinary writer factory; commit swaps
  * the scanned files for the new ones in one CAS publish pinned to the
  * version the scan read. A concurrent commit of ANY kind (append
  * included) makes this one lose loudly — rebase would be unsound
  * because the rewritten row content was decided from a state that must
  * still hold at publish (same single-attempt rule as [[ManifestSink
  * .deleteWhere]] and [[ManifestSink.compact]]). */
class ManifestReplaceDataWrite(root: Path, schema: StructType,
    op: ManifestRowLevelOperation, gc: GcPolicy,
    partCols: Seq[String] = Seq.empty,
    colMap: Map[String, String] = Map.empty,
    bloomCols: Seq[String] = Seq.empty,
    rowGroupBytes: Option[Long] = None,
    partSpec: Seq[ManifestSink.PartTransform] = Seq.empty,
    specId: Long = 0L,
    quantCols: Seq[String] = Seq.empty) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ManifestReplaceWriterFactory(root.toString, schema, partCols, colMap,
      bloomCols, rowGroupBytes, partSpec, quantCols)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    op.commitReplace(ManifestSink.commitEntries(messages).map(_.copy(specId = specId)))

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ManifestSink.commitFileNames(messages)
      .foreach(f => Files.deleteIfExists(root.resolve(f)))
}

/** Streaming write path: `df.writeStream.format(...).option("path", dir)`.
  *
  * Exactly-once without a transactional store: the per-query high-water
  * epoch marker lives INSIDE the versioned manifest (`#epoch` line), so
  * "epoch N is committed" and "epoch N's files are visible" are the same
  * atomic CAS publish — there is no window where one holds without the
  * other. On recovery Spark replays the last epoch; `commit` sees the
  * marker already at (or past) that epoch, deletes the replay's duplicate
  * files and returns without publishing, so the table never double-counts
  * (the DSv2 generalization of ReportStream's idempotent-by-batchId sink,
  * mirroring the reference's overwrite-then-commit publish step,
  * generate.sh:9-17).
  *
  * Output modes: append (each epoch's rows accumulate) and complete
  * (truncate-per-epoch — the epoch marker survives truncate). Batch and
  * streaming writers share [[ManifestSink.publishCommit]], so they
  * interleave safely under the same CAS. */
class ManifestStreamingWrite(root: Path, schema: StructType, truncateEachEpoch: Boolean,
    gc: GcPolicy, queryId: String, partCols: Seq[String] = Seq.empty,
    colMap: Map[String, String] = Map.empty,
    bloomCols: Seq[String] = Seq.empty,
    rowGroupBytes: Option[Long] = None,
    partSpec: Seq[ManifestSink.PartTransform] = Seq.empty,
    specId: Long = 0L,
    checks: Seq[(String, String, org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty,
    sortCols: Seq[String] = Seq.empty,
    quantCols: Seq[String] = Seq.empty)
    extends StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new ManifestStreamingWriterFactory(root.toString, schema, partCols, colMap,
      bloomCols, rowGroupBytes, partSpec, checks, sortCols, quantCols)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    if (ManifestSink.epochMarkers(root).get(queryId).exists(_ >= epochId)) {
      // replayed epoch after restart: already committed — drop the
      // replay's duplicate files so the re-run is a pure no-op
      ManifestSink.commitFileNames(messages)
        .foreach(f => Files.deleteIfExists(root.resolve(f)))
    } else {
      ManifestSink.publishCommit(root, schema, truncateEachEpoch,
        ManifestSink.commitEntries(messages).map(_.copy(specId = specId)),
        markerUpdate = Some(queryId -> epochId), gc)
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    ManifestSink.commitFileNames(messages)
      .foreach(f => Files.deleteIfExists(root.resolve(f)))
}

class ManifestStreamingWriterFactory(rootStr: String, schema: StructType,
    partCols: Seq[String] = Seq.empty,
    colMap: Map[String, String] = Map.empty,
    bloomCols: Seq[String] = Seq.empty,
    rowGroupBytes: Option[Long] = None,
    partSpec: Seq[ManifestSink.PartTransform] = Seq.empty,
    checks: Seq[(String, String, org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty,
    sortCols: Seq[String] = Seq.empty,
    quantCols: Seq[String] = Seq.empty)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    // epoch in the name is for operator debuggability only; uniqueness
    // still comes from the UUID (a replayed epoch writes NEW files,
    // which commit() then discards)
    val prefix = s"data-e$epochId-p$partitionId-t$taskId"
    val inner: DataWriter[InternalRow] =
      if (partCols.isEmpty)
        new ManifestDataWriter(rootStr, schema,
          s"$prefix-${java.util.UUID.randomUUID()}.parquet", colMap = colMap,
          bloomCols = bloomCols, rowGroupBytes = rowGroupBytes,
          sortCols = sortCols, quantCols = quantCols)
      else new PartitionedDataWriter(rootStr, schema, partCols, prefix, colMap,
        bloomCols, rowGroupBytes, partSpec, sortCols, quantCols = quantCols)
    if (checks.isEmpty) inner
    else new CheckEnforcingWriter(inner, schema, checks)
  }
}

/** Per-row CHECK enforcement for write paths the analyzer cannot
  * instrument (streaming micro-batches): evaluates every bound
  * constraint predicate — null-tolerant, so only an explicit FALSE
  * violates, matching SQL CHECK and Spark's own CheckInvariant — and
  * fails the task before a violating row reaches the file. The task
  * abort then deletes the partial file, so nothing commits. */
class CheckEnforcingWriter(inner: DataWriter[InternalRow],
    schema: StructType,
    checks: Seq[(String, String, org.apache.spark.sql.catalyst.expressions.Expression)])
    extends DataWriter[InternalRow] {
  // compiled lazily ON THE EXECUTOR (codegen with interpreted fallback)
  private lazy val preds = checks.map { case (name, sql, bound) =>
    (name, sql, org.apache.spark.sql.catalyst.expressions.Predicate.create(bound))
  }
  override def write(row: InternalRow): Unit = {
    preds.foreach { case (name, sql, p) =>
      if (!p.eval(row)) {
        val rendered = schema.fields.zipWithIndex.map { case (f, i) =>
          s"${f.name}=${if (row.isNullAt(i)) "null" else row.get(i, f.dataType)}"
        }.mkString(", ")
        throw new IllegalStateException(
          s"CHECK constraint $name ($sql) violated by row [$rendered]")
      }
    }
    inner.write(row)
  }
  override def commit(): WriterCommitMessage = inner.commit()
  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}

class ManifestWriterFactory(rootStr: String, schema: StructType,
    partCols: Seq[String] = Seq.empty,
    colMap: Map[String, String] = Map.empty,
    bloomCols: Seq[String] = Seq.empty,
    rowGroupBytes: Option[Long] = None,
    partSpec: Seq[ManifestSink.PartTransform] = Seq.empty,
    sortCols: Seq[String] = Seq.empty,
    quantCols: Seq[String] = Seq.empty) extends DataWriterFactory {
  def createWriter(partitionId: Int, taskId: Long,
      lineageCell: Option[LineageCell]): DataWriter[InternalRow] = {
    // attempt-unique name: a retried or speculative attempt of the same
    // partition writes a different file; only the attempt whose message
    // reaches commit() becomes visible
    val prefix = s"data-p$partitionId-t$taskId"
    if (partCols.isEmpty)
      new ManifestDataWriter(rootStr, schema,
        s"$prefix-${java.util.UUID.randomUUID()}.parquet", colMap = colMap,
        bloomCols = bloomCols, rowGroupBytes = rowGroupBytes,
        sortCols = sortCols, lineageCell = lineageCell, quantCols = quantCols)
    else new PartitionedDataWriter(rootStr, schema, partCols, prefix, colMap,
      bloomCols, rowGroupBytes, partSpec, sortCols, lineageCell, quantCols)
  }
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId, None)
}

/** Mutable per-row lineage handoff between a row-level rewrite's
  * metadata-aware outer writer and the file writers it routes rows to:
  * the outer writer stamps the CURRENT row's preserved identity (or
  * marks it fresh) before each inner write; the receiving
  * [[ManifestDataWriter]] folds it into that file's segment run. */
private[sources] final class LineageCell {
  /** false = this row has no preserved identity (operation-produced or
    * pre-lineage) and mints a fresh id at publish. */
  var has: Boolean = false
  var id: Long = -1L
  var seq: Long = 0L
}

/** Dynamic-partition fan-out writer: routes each row to the open
  * [[ManifestDataWriter]] of its partition tuple, opening writers
  * lazily. The write builder asks Spark to CLUSTER input by the
  * partition columns ([[ManifestWriteBuilder.build]]), so a task
  * normally holds writers for only the few partitions it owns — the
  * map is a safety net for unclustered plans (e.g. a single-partition
  * local write), not the expected steady state. */
class PartitionedDataWriter(rootStr: String, schema: StructType,
    partCols: Seq[String], namePrefix: String,
    colMap: Map[String, String] = Map.empty,
    bloomCols: Seq[String] = Seq.empty,
    rowGroupBytes: Option[Long] = None,
    partSpec: Seq[ManifestSink.PartTransform] = Seq.empty,
    sortCols: Seq[String] = Seq.empty,
    lineageCell: Option[LineageCell] = None,
    quantCols: Seq[String] = Seq.empty) extends DataWriter[InternalRow] {
  private val idx: Seq[(Int, DataType)] = partCols.map { c =>
    val i = schema.fieldIndex(c); (i, schema.fields(i).dataType)
  }
  // spec-aligned transforms (identity when the spec is absent) — the
  // HIDDEN-partitioning derivation: the row keeps its raw source value
  // in the data file, only the routing tuple carries the transform
  private val transforms: Seq[ManifestSink.PartTransform] =
    if (partSpec.nonEmpty) partCols.map(c => partSpec.find(_.col == c).getOrElse(
      ManifestSink.PIdentity(c)))
    else partCols.map(ManifestSink.PIdentity)
  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[Seq[String], ManifestDataWriter]

  private def partValue(row: InternalRow, i: Int, dt: DataType): String =
    if (row.isNullAt(i)) ManifestSink.NullPartValue
    else dt match {
      case LongType => row.getLong(i).toString
      case IntegerType => row.getInt(i).toString
      case StringType => row.getUTF8String(i).toString
      case BooleanType => row.getBoolean(i).toString
      case DoubleType => row.getDouble(i).toString
      case other => throw new UnsupportedOperationException(
        s"unsupported partition column type $other for ${partCols.mkString(",")}")
    }

  override def write(record: InternalRow): Unit = {
    val key = idx.zip(transforms).map { case ((i, dt), t) =>
      ManifestSink.transformValue(t, partValue(record, i, dt)) }
    writers.getOrElseUpdate(key,
      new ManifestDataWriter(rootStr, schema,
        s"$namePrefix-${java.util.UUID.randomUUID()}.parquet",
        partCols.zip(key).toMap, colMap, bloomCols, rowGroupBytes,
        sortCols, lineageCell, quantCols)).write(record)
  }

  override def commit(): WriterCommitMessage =
    ManifestCommitSet(writers.values.flatMap(_.commitFile()).toSeq)
  override def abort(): Unit = writers.values.foreach(_.abort())
  override def close(): Unit = writers.values.foreach(_.close())
}

/** Writer factory for the GROUP-BASED row-level rewrite (UPDATE / MERGE
  * / rewrite-path DELETE) write. Spark 4.1's rewrite plans prepend an
  * `__row_operation` INT column to the replacing query
  * (`RewriteRowLevelCommand.addOperationColumn`), and the projection
  * that strips it (`ReplaceDataProjections.rowProjection`) is only
  * applied when the operation declares `requiredMetadataAttributes`
  * (`ReplaceDataExec.writingTask` picks `DataAndMetadataWritingSparkTask`
  * iff a metadata projection exists; otherwise the task writes rows
  * RAW). A connector with no metadata columns therefore receives
  * `[__row_operation, <row schema...>]` while `LogicalWriteInfo.schema()`
  * reports only the row schema. This factory absorbs that shape: when an
  * incoming row is exactly one field wider than the write schema, field
  * 0 is the operation marker and the writer sees a shifted view; rows
  * that already match the schema (a Spark that projects, or a metadata
  * path upstream) pass through untouched. */
class ManifestReplaceWriterFactory(rootStr: String, schema: StructType,
    partCols: Seq[String] = Seq.empty,
    colMap: Map[String, String] = Map.empty,
    bloomCols: Seq[String] = Seq.empty,
    rowGroupBytes: Option[Long] = None,
    partSpec: Seq[ManifestSink.PartTransform] = Seq.empty,
    quantCols: Seq[String] = Seq.empty) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    // partitioned tables fan out per partition tuple here too — an
    // UPDATE that changes a partition column's value moves the row to
    // its new partition naturally (the writer keys on ROW values)
    val cell = new LineageCell
    val inner = new ManifestWriterFactory(rootStr, schema, partCols, colMap,
      bloomCols, rowGroupBytes, partSpec,
      quantCols = quantCols).createWriter(partitionId, taskId, Some(cell))
    new DataWriter[InternalRow] {
      private val shifted = new ShiftedInternalRow(1)
      // ordinals of (_row_id, _last_updated_version) in the metadata
      // projection, resolved once from the first carried row's schema
      // (Spark hands the metadata side as a ProjectingInternalRow);
      // (-1,-1) = not resolvable, lineage stays fresh-only
      private var metaIdx: (Int, Int) = _
      private def resolveMetaIdx(meta: InternalRow): (Int, Int) = meta match {
        case p: org.apache.spark.sql.catalyst.ProjectingInternalRow =>
          (p.schema.fieldNames.indexOf(ManifestSink.RowIdColumn),
            p.schema.fieldNames.indexOf(ManifestSink.LastUpdatedColumn))
        case _ => (-1, -1)
      }
      private def writeRow(record: InternalRow): Unit =
        if (record.numFields == schema.length + 1) {
          shifted.row = record; inner.write(shifted)
        } else if (record.numFields == schema.length) {
          inner.write(record)
        } else {
          throw new IllegalStateException(
            s"rewrite row has ${record.numFields} fields for a " +
              s"${schema.length}-column write schema — unexpected rewrite plan shape")
        }
      /** Rows arriving WITH their metadata projection. Carried-over
        * rows bring both fields and preserve them verbatim. UPDATED
        * rows keep `_row_id` but their `_last_updated_version` was
        * NULLIFIED by the rewrite (PRESERVE_ON_UPDATE=false on that
        * column) — the exact Iceberg v3 semantic: same identity, fresh
        * update stamp, encoded as [[ManifestSink.StampVersionMarker]]
        * and resolved to the committing version at publish. NULL ids
        * (pre-lineage files, MERGE inserts) mint fresh — the lazy
        * lineage upgrade. */
      override def write(meta: InternalRow, record: InternalRow): Unit = {
        if (metaIdx == null) metaIdx = resolveMetaIdx(meta)
        val (ri, li) = metaIdx
        if (ri >= 0 && !meta.isNullAt(ri)) {
          cell.has = true
          cell.id = meta.getLong(ri)
          cell.seq =
            if (li >= 0 && !meta.isNullAt(li)) meta.getLong(li)
            else ManifestSink.StampVersionMarker
        } else cell.has = false
        writeRow(record)
        cell.has = false
      }
      /** Rows arriving WITHOUT metadata (a plan shape that dropped the
        * metadata projection): new rows to lineage, fresh at publish. */
      override def write(record: InternalRow): Unit = {
        cell.has = false
        writeRow(record)
      }
      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
  }
}

/** Read-only view of an [[InternalRow]] with the first `offset` fields
  * hidden — zero-copy, reused across rows (mutable `row` slot) so the
  * rewrite write allocates nothing per row. */
private[sources] class ShiftedInternalRow(offset: Int) extends InternalRow {
  var row: InternalRow = _
  override def numFields: Int = row.numFields - offset
  override def isNullAt(i: Int): Boolean = row.isNullAt(i + offset)
  override def getBoolean(i: Int): Boolean = row.getBoolean(i + offset)
  override def getByte(i: Int): Byte = row.getByte(i + offset)
  override def getShort(i: Int): Short = row.getShort(i + offset)
  override def getInt(i: Int): Int = row.getInt(i + offset)
  override def getLong(i: Int): Long = row.getLong(i + offset)
  override def getFloat(i: Int): Float = row.getFloat(i + offset)
  override def getDouble(i: Int): Double = row.getDouble(i + offset)
  override def getDecimal(i: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal =
    row.getDecimal(i + offset, precision, scale)
  override def getUTF8String(i: Int): UTF8String = row.getUTF8String(i + offset)
  override def getBinary(i: Int): Array[Byte] = row.getBinary(i + offset)
  override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval =
    row.getInterval(i + offset)
  override def getVariant(i: Int): org.apache.spark.unsafe.types.VariantVal =
    row.getVariant(i + offset)
  override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal =
    row.getGeography(i + offset)
  override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal =
    row.getGeometry(i + offset)
  override def getStruct(i: Int, numFields: Int): InternalRow =
    row.getStruct(i + offset, numFields)
  override def getArray(i: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    row.getArray(i + offset)
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData =
    row.getMap(i + offset)
  override def get(i: Int, dataType: org.apache.spark.sql.types.DataType): AnyRef =
    row.get(i + offset, dataType)
  override def setNullAt(i: Int): Unit =
    throw new UnsupportedOperationException("read-only row view")
  override def update(i: Int, value: Any): Unit =
    throw new UnsupportedOperationException("read-only row view")
  override def copy(): InternalRow =
    throw new UnsupportedOperationException(
      "rewrite write path never copies rows; materialize upstream if needed")
}

/** One task's data file: PARQUET, written through Spark's own parquet
  * row encoding (see [[ManifestParquet.open]]) so the bytes are
  * indistinguishable from a native `df.write.parquet` file. Integer
  * min/max stats are still collected INLINE during the write — one pass,
  * no footer re-read — and published in the manifest entry, which keeps
  * file skipping metadata-only at plan time (the footer carries the same
  * ranges for row-group-level use by the vectorized reader). */
class ManifestDataWriter(rootStr: String, schema: StructType, fileName: String,
    parts: Map[String, String] = Map.empty,
    colMap: Map[String, String] = Map.empty,
    bloomCols: Seq[String] = Seq.empty,
    rowGroupBytes: Option[Long] = None,
    sortCols: Seq[String] = Seq.empty,
    lineageCell: Option[LineageCell] = None,
    quantCols: Seq[String] = Seq.empty)
    extends DataWriter[InternalRow] {
  private val root = Paths.get(rootStr)
  private var rows = 0L
  // row-lineage segment runs built while writing (row-level rewrites
  // only): (startPos, firstRowId | FreshRowIdMarker, lastUpdated).
  // Consecutive rows with contiguous ids and equal versions fold into
  // one run; past the segment cap the file honestly degrades to
  // all-fresh (the pre-lineage rewrite behavior) instead of bloating
  // the manifest line.
  private val lsegs =
    if (lineageCell.isDefined)
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    else null
  private var lineageOverflow = false
  private def noteLineage(c: LineageCell): Unit = {
    if (lineageOverflow) return
    val p = rows
    val (f, q) = if (c.has) (c.id, c.seq) else (ManifestSink.FreshRowIdMarker, 0L)
    if (lsegs.nonEmpty) {
      val (s0, f0, q0) = lsegs.last
      val extend =
        if (f0 == ManifestSink.FreshRowIdMarker) f == ManifestSink.FreshRowIdMarker
        else f != ManifestSink.FreshRowIdMarker && q0 == q && f - f0 == p - s0
      if (extend) return
    }
    if (lsegs.size >= ManifestSink.MaxCapturedSegs) { lineageOverflow = true; return }
    lsegs += ((p, f, q))
  }
  private def capturedLineage: Seq[(Long, Long, Long)] =
    if (lsegs == null || lineageOverflow) Seq.empty
    // all-fresh compresses to "no lineage": the publisher assigns the
    // whole file one fresh segment either way, without the detour
    else if (lsegs.forall(_._2 == ManifestSink.FreshRowIdMarker)) Seq.empty
    else lsegs.toSeq
  // per-column stats collected inline while writing — integer min/max,
  // configured string blooms and truncated string bounds, the metadata
  // that powers file skipping and the metadata count. Keyed by LOGICAL
  // name (manifest metadata is logical; only bytes inside data files
  // are physical).
  private val stats =
    new ManifestSink.FileStatsCollector(schema, bloomCols, sortCols, quantCols)
  // opened by the first row: a task that receives no rows writes no file
  private var out: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = _
  private def open(): org.apache.parquet.hadoop.ParquetWriter[InternalRow] = {
    Files.createDirectories(root)
    // data files carry PHYSICAL column names — immutable across renames
    val phys = ManifestSink.toPhysicalSchema(schema, colMap)
    rowGroupBytes.fold(ManifestParquet.open(root.resolve(fileName), phys))(b =>
      ManifestParquet.open(root.resolve(fileName), phys, b))
  }
  override def write(record: InternalRow): Unit = {
    if (out == null) out = open()
    out.write(record)
    lineageCell.foreach(noteLineage) // position = rows, pre-increment
    rows += 1
    stats.add(record)
  }
  /** The file's entry, or None when no row arrived (no file exists). */
  def commitFile(): Option[ManifestCommit] = Option(out).map { w =>
    w.close()
    ManifestCommit(fileName, rows, stats.intMins, stats.intMaxs, parts,
      stats.blooms, stats.strLowers, stats.strUppers,
      stats.intNdvs, stats.nullCounts, stats.sortedBy, capturedLineage,
      stats.ndvSketches, stats.quantSketches)
  }
  override def commit(): WriterCommitMessage =
    commitFile().getOrElse(ManifestCommitSet(Seq.empty))
  override def abort(): Unit = if (out != null) {
    try out.close() catch { case _: Throwable => () }
    Files.deleteIfExists(root.resolve(fileName))
  }
  override def close(): Unit = ()
}

/** Aggregate pushdown: a global COUNT(*) is answered ENTIRELY from the
  * manifest's per-file row counts, and global MIN/MAX over integer
  * columns from the per-file stats — zero data files are opened (the
  * spec proves it by deleting them first). At 100 TB these are the
  * queries a catalog answers in milliseconds vs a full-table scan:
  * watermark probes (`max(ts)`), key-range discovery, row counts for
  * planning. MIN/MAX push down only when EVERY covered file carries
  * stats for the column (absence is indistinguishable from "not
  * collected", and min/max ignore nulls so per-file stats over non-null
  * values compose exactly). Anything else scans normally. */
class ManifestScanBuilder(root: Path, pinned: Option[Long] = None,
    changes: Option[(Long, Long)] = None, maxVersionsPerTrigger: Option[Long] = None,
    onBatchResolve: Option[Seq[ManifestSink.FileEntry] => Unit] = None,
    branchEntries: Option[() => Seq[ManifestSink.FileEntry]] = None,
    cdc: Boolean = false)
    extends ScanBuilder with SupportsPushDownAggregates with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownTopN {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
  import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}

  private var pushedAgg: Option[Aggregation] = None
  private var skipFilters: Array[Filter] = Array.empty
  // EVERY pushed filter (not just the file-skip-eligible subset): the
  // scan hands these to the parquet reader for ROW-GROUP-level skipping
  // inside surviving files — translation eligibility is decided there
  // (ParquetPredicates), independently of the manifest-stats shapes
  private var allFilters: Array[Filter] = Array.empty
  private var prunedNames: Option[Set[String]] = None
  private var pushedLimit: Option[Int] = None

  /** LIMIT n without filters plans a PREFIX of the file list: files are
    * taken in manifest (commit) order until their live row counts cover
    * n, and the rest never become input partitions — `SELECT * FROM t
    * LIMIT 10` on a 10⁵-file table opens one file. PARTIAL pushdown
    * (the default contract): the scan returns at least n rows and
    * Spark's own Limit trims, so correctness never depends on the
    * prefix arithmetic. With skip filters the count-prefix bound is
    * unsound (a may-match file can contribute zero rows) and the push
    * is refused; a limit-pruned scan also withdraws its runtime-filter
    * attributes — a join's runtime pruning composed with a row-count
    * prefix could cover fewer than n surviving rows. */
  override def pushLimit(limit: Int): Boolean = {
    // outstanding equality deletes make manifest live counts an
    // OVERCOUNT (matching rows subtract at scan) — a count-prefix could
    // cover fewer than n surviving rows, so the push is refused
    val ok = skipFilters.isEmpty && changes.isEmpty && onBatchResolve.isEmpty &&
      !cdc && tableState.eqDels.isEmpty
    if (ok) pushedLimit = Some(limit)
    ok
  }

  private var pushedTopN: Option[(String, Boolean, Int)] = None // (col, asc, n)

  // both SupportsPushDownLimit and SupportsPushDownTopN declare the
  // default; Scala requires an explicit pick. PARTIAL always: the scan
  // prunes files, Spark's Limit/TakeOrdered does the exact trim.
  override def isPartiallyPushed(): Boolean = true

  /** ORDER BY col LIMIT n prunes files by a THRESHOLD over per-file
    * stats (ascending case; descending is the mirror): let T be the
    * smallest per-file max such that files with max <= T cover >= n
    * live rows — those files already hold n rows <= T, so any file
    * whose min exceeds T cannot contain one of the n smallest and is
    * never opened. On a time-sorted table (`write.sort-by`),
    * `ORDER BY ts LIMIT k` opens O(1) files at any table size — the
    * "latest events" query that would otherwise scan 100 TB. Sound
    * under deletion vectors (a live row is still bounded by its file's
    * physical min/max, and coverage counts live rows only); requires a
    * single-column integer sort key that is NON-NULLABLE with stats on
    * every file (a pruned file could otherwise hide NULLs, which sort
    * first). PARTIAL push: Spark's TakeOrderedAndProject still does
    * the exact ordering and trim. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    val ok = skipFilters.isEmpty && changes.isEmpty && onBatchResolve.isEmpty &&
      !cdc && tableState.eqDels.isEmpty && orders.length == 1 && {
        val o = orders(0)
        o.expression() match {
          case nr: NamedReference if nr.fieldNames.length == 1 =>
            val name = nr.fieldNames()(0)
            tableSchema.fields.find(_.name == name).exists { f =>
              val intLike = f.dataType == LongType || f.dataType == IntegerType
              val asc = o.direction() == SortDirection.ASCENDING
              // default null ordering only (NULLS FIRST for asc / LAST
              // for desc): with a non-nullable column both are moot,
              // but a non-default request signals intent we don't model
              val nullsOk =
                (asc && o.nullOrdering() == NullOrdering.NULLS_FIRST) ||
                  (!asc && o.nullOrdering() == NullOrdering.NULLS_LAST)
              intLike && !f.nullable && nullsOk && {
                pushedTopN = Some((name, asc, limit)); true
              }
            }
          case _ => false
        }
      }
    ok
  }

  /** The entries a pushed top-N keeps (see [[pushTopN]]); `all` when no
    * threshold can be established (missing stats → keep everything).
    * Both directions work in VALUE space (no negation trick — negating
    * a Long.MinValue sentinel would overflow back to itself and yield
    * an unsound threshold): ascending orders files by max and keeps
    * those whose min is at or under the threshold; descending orders by
    * min (largest first) and keeps those whose max reaches it. */
  private def topNPrune(all: Seq[ManifestSink.FileEntry],
      col: String, asc: Boolean, n: Int): Seq[ManifestSink.FileEntry] = {
    if (all.exists(e => !e.mins.contains(col) || !e.maxs.contains(col))) return all
    val byBoundary =
      if (asc) all.sortBy(e => e.maxs(col))
      else all.sortBy(e => e.mins(col))(Ordering[Long].reverse)
    var acc = 0L
    var t = 0L
    val it = byBoundary.iterator
    while (acc < n && it.hasNext) {
      val e = it.next()
      acc += e.liveRows
      t = if (asc) e.maxs(col) else e.mins(col)
    }
    if (acc < n) all // table smaller than n: nothing prunable
    else if (asc) all.filter(e => e.mins(col) <= t)
    else all.filter(e => e.maxs(col) >= t)
  }

  // ONE manifest-list HEADER read for all table-structure lookups
  // (schema, partition spec, column mapping, schema epoch) — entry
  // groups stay unread until file planning decides which survive
  private lazy val tableState = ManifestSink.readHeader(root, pinned)
  private lazy val tableSchema =
    tableState.schema.getOrElse(ManifestSink.readSchema(root, pinned))
  private lazy val partColsSet: Set[String] = tableState.partCols.toSet
  private lazy val colMap: Map[String, String] = tableState.colMap
  private lazy val evolved: Boolean = tableState.schemaEpoch > 0L

  /** Column pruning: the scan decodes ONLY the requested columns — at
    * the parquet reader (requested-schema projection, so a 2-column read
    * of a 20-column table touches 2 column chunks). Names are kept,
    * positions are re-resolved against the table schema, so the output
    * order is the table's regardless of the order Spark requested. */
  override def pruneColumns(requiredSchema: StructType): Unit =
    prunedNames = Some(requiredSchema.fieldNames.toSet)

  private def readSchemaPruned: StructType = {
    val base = prunedNames match {
      case Some(names) => StructType(tableSchema.fields.filter(f => names(f.name)))
      case None => tableSchema
    }
    // metadata columns append AFTER the data columns, in a fixed
    // order (the reader emits them as per-partition constants):
    // `_change_type` (part of a cdc read's relation schema — present
    // unless pruned away), then `_file` (opt-in)
    val withChange =
      if (cdc && prunedNames.forall(_.contains(ManifestSink.ChangeTypeColumn)))
        base.add(StructField(ManifestSink.ChangeTypeColumn, StringType, nullable = false))
      else base
    val withFile =
      if (prunedNames.exists(_.contains(ManifestSink.FileNameColumn)))
        withChange.add(StructField(ManifestSink.FileNameColumn, StringType, nullable = false))
      else withChange
    val withRowId =
      if (prunedNames.exists(_.contains(ManifestSink.RowIdColumn)))
        withFile.add(StructField(ManifestSink.RowIdColumn, LongType, nullable = true))
      else withFile
    if (prunedNames.exists(_.contains(ManifestSink.LastUpdatedColumn)))
      withRowId.add(StructField(ManifestSink.LastUpdatedColumn, LongType, nullable = true))
    else withRowId
  }

  /** The integer table column a pushed MIN/MAX refers to, if stats can
    * answer it. */
  private def statColumn(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[StructField] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 =>
      tableSchema.fields.find(f => f.name == nr.fieldNames()(0) &&
        (f.dataType == LongType || f.dataType == IntegerType))
    case _ => None
  }

  /** The single top-level column a group-by expression names, if any. */
  private def gbColumn(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
    case _ => None
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    onBatchResolve.isEmpty && // a rewrite scan must produce real rows
    !cdc && // delete-row counts need the slice walk, not snapshot stats
    // equality deletes subtract rows at SCAN time — metadata counts and
    // extrema are overstatements until OPTIMIZE materializes them
    tableState.eqDels.isEmpty &&
    skipFilters.isEmpty && {
      lazy val entries = scanEntries // ONE manifest read, at planning time
      // GROUP BY is metadata-answerable exactly when every group key is
      // a PARTITION column carried by every covered file: each file then
      // belongs to exactly one group, so group counts are sums of
      // per-file live counts and group min/max are folds of per-file
      // stats — the Iceberg partition-stats query, served with zero
      // data I/O. Any other grouping (or an incomplete tuple, possible
      // only on pre-partitioning legacy files) scans normally.
      def groupable: Boolean = {
        val gb = aggregation.groupByExpressions().toSeq.map(gbColumn)
        gb.isEmpty || (gb.forall(_.isDefined) && {
          val cols = gb.flatten
          cols.forall(partColsSet.contains) &&
            // a TRANSFORMED partition value (day number, prefix) is not
            // the source column's value — grouping by it would answer a
            // different query; identity columns only, and every entry
            // must have been written under the CURRENT spec (an
            // old-spec tuple means a different value semantics)
            cols.forall(c => tableState.partTransforms.get(c)
              .forall(_.isInstanceOf[ManifestSink.PIdentity])) &&
            entries.forall(_.specId == tableState.specId) &&
            entries.forall(e => cols.forall(e.parts.contains))
        })
      }
      aggregation.aggregateExpressions().nonEmpty && groupable &&
        aggregation.aggregateExpressions().forall {
          // count(*) stays metadata-exact under deletion vectors (live
          // counts are in the manifest); MIN/MAX do NOT — the extremum
          // row may be among the deleted positions, and file stats are
          // physical — so any DV in the scan forces a real read
          case _: CountStar => true
          case m: Min =>
            statColumn(m.column).exists(f =>
              entries.forall(e => e.mins.contains(f.name) && e.dvRows == 0L))
          case m: Max =>
            statColumn(m.column).exists(f =>
              entries.forall(e => e.maxs.contains(f.name) && e.dvRows == 0L))
          case _ => false
        }
    }

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    // complete pushdown only: a partial (per-partition) aggregate from
    // metadata has no meaning — the manifest answers globally or not at all
    if (supportCompletePushDown(aggregation)) { pushedAgg = Some(aggregation); true }
    else false
  }

  /** Range filters on integer columns prune FILES via manifest min/max.
    * Every filter stays a post-scan filter too (returned from
    * pushedFilters would claim row-level enforcement, which the stats
    * cannot give), so we accept them for skipping but report none as
    * fully handled — exactly parquet's row-group-stats contract. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    allFilters = filters
    skipFilters = filters.filter {
      // string equality/IN prunes via per-file blooms (and partition
      // tuples); non-bloom columns stay conservative inside mayMatch
      case EqualTo(_, _: String) => true
      case org.apache.spark.sql.sources.EqualNullSafe(_, _: String) => true
      case org.apache.spark.sql.sources.In(_, vs)
        if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) => true
      // integer IN-lists prune by per-file min/max range intersection
      // (mayMatch already evaluates the shape — runtime DPP IN-sets use
      // it; this accepts the PLANNER-pushed twin as well)
      case org.apache.spark.sql.sources.In(_, vs)
        if vs.nonEmpty &&
          vs.forall(v => v.isInstanceOf[Long] || v.isInstanceOf[Int]) => true
      case EqualTo(_, v: Long) => true
      case EqualTo(_, v: Int) => true
      case GreaterThan(_, v: Long) => true
      case GreaterThan(_, v: Int) => true
      case GreaterThanOrEqual(_, v: Long) => true
      case GreaterThanOrEqual(_, v: Int) => true
      case LessThan(_, v: Long) => true
      case LessThan(_, v: Int) => true
      case LessThanOrEqual(_, v: Long) => true
      case LessThanOrEqual(_, v: Int) => true
      // string range / prefix predicates prune via the truncated
      // per-file string bounds (absence = may-match inside mayMatch)
      case GreaterThan(_, _: String) => true
      case GreaterThanOrEqual(_, _: String) => true
      case LessThan(_, _: String) => true
      case LessThanOrEqual(_, _: String) => true
      case org.apache.spark.sql.sources.StringStartsWith(_, _) => true
      // partition-column filters of ANY literal type prune files EXACTLY
      // against the manifest's per-file partition tuples — this is the
      // partition-first pruning pass; it runs before stats in
      // mayMatchEntry. The filter still re-applies row-level (the data
      // files carry partition columns as ordinary columns), so accepting
      // a shape evalPartFilter later punts on costs nothing.
      case f if partColsSet.nonEmpty && f.references.nonEmpty &&
        f.references.forall(partColsSet.contains) => true
      case _ => false
    }
    filters // all residual: Spark re-applies them row-level after the scan
  }

  override def pushedFilters(): Array[Filter] = skipFilters

  /** The file set this scan covers: a version snapshot, or — in change-
    * feed mode — only the files added inside the version window. Count
    * pushdown and min/max skipping both apply to either set. */
  private def scanEntries: Seq[ManifestSink.FileEntry] = changes match {
    case Some((from, to)) => ManifestSink.addedEntries(root, from, to)
    // aggregate pushdown consumes rows/stats only — bloom sidecars unread;
    // a branch scan covers anchor + staged entries
    case None => ManifestSink.committedEntries(root, pinned, withBlooms = false) ++
      branchEntries.fold(Seq.empty[ManifestSink.FileEntry])(f => f())
  }

  override def build(): Scan = pushedAgg match {
    case Some(agg) =>
      val entries = scanEntries
      def aggRow(es: Seq[ManifestSink.FileEntry])
          : (Seq[StructField], Seq[Any]) =
        agg.aggregateExpressions().toSeq.map {
          case _: CountStar =>
            (StructField("count(*)", LongType, nullable = false),
              es.map(_.liveRows).sum: Any)
          case m: Min =>
            val f = statColumn(m.column).get
            (StructField(s"min(${f.name})", f.dataType),
              if (es.isEmpty) null else narrow(es.map(_.mins(f.name)).min, f))
          case m: Max =>
            val f = statColumn(m.column).get
            (StructField(s"max(${f.name})", f.dataType),
              if (es.isEmpty) null else narrow(es.map(_.maxs(f.name)).max, f))
          case other => throw new IllegalStateException(s"unpushable aggregate $other")
        }.unzip
      val gbCols = agg.groupByExpressions().toSeq.map(e => gbColumn(e).get)
      if (gbCols.isEmpty) {
        val (fields, values) = aggRow(entries)
        new ManifestAggScan(StructType(fields.toIndexedSeq),
          Array(InternalRow.fromSeq(values.toIndexedSeq)))
      } else {
        // one metadata row per distinct partition tuple over the group
        // keys — partition-stats, zero data I/O (spec proof: the data
        // files are deleted and the grouped count still answers)
        val gbFields = gbCols.map(c => tableSchema.fields.find(_.name == c).get)
        val rows = entries.groupBy(e => gbCols.map(c => e.parts(c))).toSeq
          .map { case (key, es) =>
            val keyVals = key.zip(gbFields).map { case (v, f) =>
              ManifestSink.decodePartValue(v, f.dataType)
            }
            InternalRow.fromSeq(keyVals ++ aggRow(es)._2)
          }
        // field metadata is entry-independent: derive it from the empty
        // fold instead of re-folding every entry's stats a second time
        val aggFields = aggRow(Seq.empty)._1
        new ManifestAggScan(StructType((gbFields ++ aggFields).toIndexedSeq),
          rows.toArray)
      }
    case None => {
      // entry resolution stays LAZY: a streaming read never materializes
      // the batch file set (its batches resolve per offset window — an
      // eager diff here would also reject a changesFromVersion that the
      // stream is waiting for the table to reach). A row-level REWRITE
      // scan is the exception: its file set must be resolved and
      // recorded NOW, because the replacing write's commit swaps exactly
      // these files (the scan is pinned, so eager == lazy in content).
      // snapshot scans plan through the manifest list (group-level
      // pruning + lazy blooms); change-feed scans resolve per window
      def planned(): Seq[ManifestSink.FileEntry] = changes match {
        case Some((from, to)) => ManifestSink.addedEntries(root, from, to)
          .filter(e => skipFilters.forall(f =>
            ManifestSink.entryMayMatch(tableState, e, f)))
        case None =>
          val all = ManifestSink.plannedEntries(root, pinned, skipFilters.toSeq) ++
            branchEntries.fold(Seq.empty[ManifestSink.FileEntry])(f =>
              f().filter(e => skipFilters.forall(fl =>
                ManifestSink.entryMayMatch(tableState, e, fl))))
          (pushedTopN, pushedLimit) match {
            case (Some((c, asc, n)), _) => topNPrune(all, c, asc, n)
            case (None, Some(n)) => // prefix covering >= n live rows
              val it = all.iterator
              var acc = 0L
              val kept = Seq.newBuilder[ManifestSink.FileEntry]
              while (acc < n && it.hasNext) {
                val e = it.next(); kept += e; acc += e.liveRows
              }
              kept.result()
            case _ => all
          }
      }
      val resolve = onBatchResolve match {
        case Some(record) =>
          val entries = planned()
          record(entries)
          () => entries
        case None => () => planned()
      }
      // streaming reads honor changesFromVersion/changesToVersion as
      // their start offset and end cap
      new ManifestScan(root, tableSchema, readSchemaPruned, resolve,
        streamStart = changes.map(_._1).getOrElse(0L),
        streamEnd = changes.map(_._2).getOrElse(-1L),
        maxVersionsPerTrigger = maxVersionsPerTrigger,
        colMap = colMap, evolved = evolved,
        dataFilters = allFilters.toSeq,
        // rewrite scans re-record their file set whenever a runtime
        // group filter narrows it, so the replacing commit swaps
        // exactly the files that were read (see ManifestScan.filter)
        onRuntimeNarrow = onBatchResolve,
        partCols = tableState.partCols,
        streamable = branchEntries.isEmpty,
        runtimeFilterable = pushedLimit.isEmpty && pushedTopN.isEmpty && !cdc,
        // row change feed: the scan plans per-slice partitions (insert
        // files + delete-position reads) instead of the entry list;
        // file-level skip filters stay sound (stats cover all physical
        // rows of the sliced file)
        partTransforms = tableState.partTransforms,
        specId = tableState.specId,
        pastSpecs = tableState.pastSpecs,
        sortCols = tableState.sortCols,
        // CHANGE-FEED windows never apply records: one inside the window
        // fails the version walk loudly; one at-or-before `from` cannot
        // govern window entries (their seq exceeds it); one AFTER `to`
        // must not apply — the current header's records would wrongly
        // subtract rows that existed at `to`, silently corrupting every
        // incremental fold downstream. Snapshot scans apply normally.
        eqDels = if (changes.isDefined) Seq.empty else tableState.eqDels,
        cdcSlices = if (!cdc) None else Some(() =>
          ManifestSink.cdcSlices(root, changes.get._1, changes.get._2)
            .filter(sl => skipFilters.forall(f =>
              ManifestSink.entryMayMatch(tableState, sl.entry, f)))))
    }
  }

  /** Stats store Longs; an IntegerType column's value narrows back. */
  private def narrow(v: Long, f: StructField): Any =
    if (f.dataType == IntegerType) v.toInt else v
}

/** Metadata rows answering a completely-pushed aggregation — one row
  * for a global COUNT(*)/MIN/MAX, one per partition tuple for a
  * GROUP-BY-partition-columns aggregate — from manifest stats alone. */
class ManifestAggScan(schema: StructType, rows: Array[InternalRow])
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(ManifestFilePartition("<metadata-agg>"))
  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestAggReaderFactory(rows)
}

class ManifestAggReaderFactory(rows: Array[InternalRow]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = rows(i)
      override def close(): Unit = ()
    }
}

class ManifestScan(root: Path, fileSchema: StructType, schema: StructType,
    resolveEntries: () => Seq[ManifestSink.FileEntry],
    streamStart: Long = 0L, streamEnd: Long = -1L,
    maxVersionsPerTrigger: Option[Long] = None,
    colMap: Map[String, String] = Map.empty, evolved: Boolean = false,
    onRuntimeNarrow: Option[Seq[ManifestSink.FileEntry] => Unit] = None,
    partCols: Seq[String] = Seq.empty,
    streamable: Boolean = true,
    runtimeFilterable: Boolean = true,
    cdcSlices: Option[() => Seq[ManifestSink.CdcSlice]] = None,
    dataFilters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty,
    partTransforms: Map[String, ManifestSink.PartTransform] = Map.empty,
    eqDels: Seq[ManifestSink.EqDelRec] = Seq.empty,
    // spec evolution: the CURRENT spec's id and the archived specs —
    // runtime-filter pruning resolves each entry's OWN transforms, and
    // SPJ key grouping is only claimed when every file is current-spec
    specId: Long = 0L,
    pastSpecs: Map[Long, Seq[ManifestSink.PartTransform]] = Map.empty,
    // the table's write.sort-by columns — grounds the ATTESTED part of
    // the ordering report (per-entry `sorted` lists must cover these)
    sortCols: Seq[String] = Seq.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {
  /** Transforms of the spec entry `e` was written under; None = unknown
    * (tuple decisions must be skipped — see TableState.transformsForOpt). */
  private def tfFor(e: ManifestSink.FileEntry):
      Option[Map[String, ManifestSink.PartTransform]] =
    if (e.specId == specId) Some(partTransforms)
    else pastSpecs.get(e.specId).map(_.map(t => t.col -> t).toMap)
  // resolved on first BATCH use only — a pure streaming read never
  // materializes the batch file set
  private lazy val resolved = resolveEntries()
  // cdc reads resolve SLICES (insert files + delete-position reads)
  private lazy val slices: Seq[ManifestSink.CdcSlice] =
    cdcSlices.fold(Seq.empty[ManifestSink.CdcSlice])(f => f())
  /** Rows one slice contributes: an insert's live rows, a delete's
    * emitted positions. */
  private def sliceRows(sl: ManifestSink.CdcSlice): Long =
    sl.emit.fold(sl.entry.liveRows)(_.length.toLong)
  // runtime filters (below) narrow the planned file set after the scan
  // is built but before partitions are planned
  private var runtimeFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private def entries: Seq[ManifestSink.FileEntry] =
    // partition-first exact evaluation, then stats/bloom/bounds
    // may-match — runtime IN-sets on a partition key drop whole
    // partitions' files, the DSv2 dynamic-partition-pruning shape
    resolved.filter(e =>
      runtimeFilters.forall(f => tfFor(e) match {
        case Some(tf) => ManifestSink.mayMatchEntry(e, f, tf)
        case None => ManifestSink.mayMatch(e, f)
      }))

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  /** Runtime (DPP-shaped) filtering: join-key IN-sets computed at
    * execution time re-prune the file set by the same min/max stats the
    * planning-time skip uses. At 100 TB this is the star-join pattern:
    * the dim side's surviving keys arrive as an IN list and whole fact
    * files whose key range misses every value are never even opened —
    * without re-planning the query. Integer stat columns only (the ones
    * with manifest min/max).
    *
    * A REWRITE scan (row-level MERGE/UPDATE/DELETE) instead advertises
    * exactly ONE attribute: `_file`. Spark's runtime group filter
    * (RowLevelOperationRuntimeGroupFiltering) builds a single
    * InSubquery over ALL advertised attributes — two or more become
    * `named_struct(…) IN (…)`, which translateRuntimeFilterV2 cannot
    * express as a source filter and silently DROPS for any DSv2 source.
    * One metadata attribute keeps the filter single-column
    * (`_file IN (names…)`), names exactly the matched groups, and works
    * for ANY merge key shape — the Iceberg `_file` pattern. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (!runtimeFilterable)
      Array.empty
    else if (onRuntimeNarrow.isDefined)
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column(ManifestSink.FileNameColumn))
    else schema.fields.collect {
      // integer columns prune by per-file min/max; STRING columns by
      // per-file blooms (when configured) + truncated bounds — string
      // join keys are the common star-join shape (customer ids, urls,
      // categories), and every manifest write collects string bounds,
      // so the conservative may-match is always available. Partition
      // columns of any type additionally get EXACT tuple evaluation in
      // the runtime re-prune (mayMatchEntry's partition-first pass).
      case f if f.dataType == LongType || f.dataType == IntegerType ||
          f.dataType == StringType || partCols.contains(f.name) =>
        org.apache.spark.sql.connector.expressions.Expressions.column(f.name)
    }

  /** A rewrite scan re-records its file set on every runtime narrowing:
    * the replacing write's commit swaps EXACTLY the files this scan
    * read, so "what the group filter kept" and "what the commit
    * replaces" must be the same set — recording here (not in
    * planInputPartitions) also keeps the group-filter SUBQUERY's scan,
    * which never receives runtime filters, from clobbering the record. */
  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    runtimeFilters ++= filters
    onRuntimeNarrow.foreach(record => record(entries))
  }

  /** Report exact row counts (and bytes derived from them) from manifest
    * metadata so Catalyst sizes this side of a join truthfully — without
    * this, DSv2 relations fall back to `spark.sql.defaultSizeInBytes`
    * and a small manifest table can never win a broadcast: every join
    * against it pays a full shuffle. Stats reflect the files this scan
    * actually covers (post min/max skipping / time travel / change-feed
    * window / runtime filters), so a pruned scan reports its pruned
    * size. Bytes come from rows × schema default width — planning must
    * not pay per-file filesystem stats on every invocation. */
  override def estimateStatistics(): Statistics = new Statistics {
    // Defensive resolution: Catalyst may request stats while planning a
    // change-feed scan whose window the table hasn't reached yet (or has
    // GC'd) — entry resolution is deliberately lazy for exactly that
    // case (see build()), so a stats probe must not force a failure into
    // PLANNING; unknown stats fall back to Spark's defaults and the scan
    // itself still fails (or waits) at execution as designed.
    private val counted: Option[Long] =
      try Some(
        if (cdcSlices.isDefined) slices.map(sliceRows).sum
        else entries.map(_.liveRows).sum)
      catch { case _: Exception => None }
    override def sizeInBytes(): java.util.OptionalLong =
      counted.fold(java.util.OptionalLong.empty())(r =>
        java.util.OptionalLong.of(r * math.max(1, schema.defaultSize)))
    override def numRows(): java.util.OptionalLong =
      counted.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)

    /** Column-level statistics for Spark's cost-based optimizer
      * (`spark.sql.cbo.enabled`), derived entirely from manifest
      * metadata the scan already holds — no data I/O, no ANALYZE pass:
      *
      *   - integer columns: table-level min/max folded from the
      *     per-file stats (valid outer bounds even under DVs — deleted
      *     rows can only narrow them), feeding FilterEstimation's range
      *     selectivity;
      *   - identity partition columns additionally get an EXACT
      *     distinct count (the spec makes every file's value part of
      *     its key, so NDV is the distinct tuple count) and an EXACT
      *     null count (live rows of null-keyed files) — the join-key
      *     cardinalities join reordering runs on. Outstanding equality
      *     deletes degrade every count to an upper bound (they hide
      *     rows the manifest still counts); CBO stats are estimates by
      *     contract, so the report stays useful — the `db.t.stats`
      *     view is where exactness is FLAGGED, and it withdraws the
      *     flag on eq-del-governed tables.
      *
      * Stats reflect the same pruned entry set `counted` reads, so a
      * narrowed scan reports narrowed column stats. Columns a file is
      * missing stats for (legacy entries, non-integer types) simply
      * don't report — CBO falls back to its defaults rather than
      * trusting a partial fold. */
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      import org.apache.spark.sql.connector.expressions.Expressions
      import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
      val m = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference, ColumnStatistics]()
      // the fold below is O(columns × files) of driver work per
      // planning call — only pay it when the optimizer actually
      // consumes column stats (spark.sql.cbo.enabled)
      if (!org.apache.spark.sql.internal.SQLConf.get.cboEnabled) return m
      val es = try { if (cdcSlices.isDefined) return m else entries }
        catch { case _: Exception => return m }
      if (es.isEmpty) return m
      schema.fields.foreach { f =>
        val name = f.name
        val intish = f.dataType == LongType || f.dataType == IntegerType
        val identityKey = partCols.contains(name) &&
          partTransforms.get(name).forall(_.isInstanceOf[ManifestSink.PIdentity]) &&
          es.forall(e => e.specId == specId && e.parts.contains(name))
        val (mn, mx): (Option[Long], Option[Long]) =
          if (intish && es.forall(e => e.mins.contains(name) && e.maxs.contains(name)))
            (Some(es.map(_.mins(name)).min), Some(es.map(_.maxs(name)).max))
          else if (intish && identityKey &&
              es.exists(_.parts(name) != ManifestSink.NullPartValue)) {
            // integral identity keys: bounds from the decoded tuple
            // values themselves (partition columns carry no file stats)
            val vs = es.map(_.parts(name))
              .filter(_ != ManifestSink.NullPartValue)
              .map(v => ManifestSink.decodePartValue(v, f.dataType) match {
                case i: java.lang.Integer => i.longValue()
                case l: java.lang.Long => l.longValue()
                case other => other.toString.toLong
              })
            (Some(vs.min), Some(vs.max))
          } else (None, None)
        val ndv: Option[Long] =
          if (identityKey)
            // identity keys: EXACT — the distinct tuple count
            Some(es.map(_.parts(name)).distinct
              .count(_ != ManifestSink.NullPartValue).toLong)
          else if (es.size == 1 && es.head.ndvs.contains(name))
            // single clean file: the per-file count IS the table NDV
            Some(es.head.ndvs(name))
          else if (es.forall(_.ndvSk.contains(name)))
            // data columns, multi-file: merge the HLL sketches FIRST
            // and estimate once — cross-file duplicates deduplicate,
            // unlike the exact-count sum (which can only overestimate)
            Some(math.min(
              NdvSketch.estimate(es.map(e => NdvSketch.decode(e.ndvSk(name)))
                .reduce(NdvSketch.merge)),
              es.map(_.liveRows).sum))
          else if (es.forall(_.ndvs.contains(name)))
            // legacy files without sketches: per-file exact counts fold
            // to an UPPER bound (sum, capped at live rows) —
            // overestimated NDV biases CBO toward shuffles over
            // broadcasts, the conservative direction
            Some(math.min(es.map(_.ndvs(name)).sum, es.map(_.liveRows).sum))
          else None
        val nulls: Option[Long] =
          if (identityKey)
            Some(es.filter(_.parts(name) == ManifestSink.NullPartValue)
              .map(_.liveRows).sum)
          else if (es.forall(_.nulls.contains(name)))
            // physical-row null counts: exact on clean files, an upper
            // bound once DVs/equality deletes govern some rows
            Some(es.map(_.nulls(name)).sum)
          else None
        def box(v: Long): Object =
          if (f.dataType == IntegerType) Integer.valueOf(v.toInt)
          else java.lang.Long.valueOf(v)
        if (mn.isDefined || ndv.isDefined)
          m.put(Expressions.column(name), new ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              ndv.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
            override def min(): java.util.Optional[Object] =
              mn.fold(java.util.Optional.empty[Object]())(v => java.util.Optional.of(box(v)))
            override def max(): java.util.Optional[Object] =
              mx.fold(java.util.Optional.empty[Object]())(v => java.util.Optional.of(box(v)))
            override def nullCount(): java.util.OptionalLong =
              nulls.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
          })
      }
      m
    }
  }
  /** The typed partition key for one entry, in table-spec column order —
    * canonical manifest strings decoded back under each partition
    * column's TABLE type ([[ManifestSink.decodePartValue]]), so two
    * scans of two tables partitioned the same way produce row-equal
    * keys and Spark's storage-partitioned join aligns them without a
    * shuffle. Null when the entry's tuple is incomplete for the spec (a
    * scan containing such a file must not claim key grouping). */
  private def partKeyOf(e: ManifestSink.FileEntry): Array[Any] = {
    // an archived-spec entry's tuple is NOT a key of the current spec —
    // decoding it under the current transforms would crash (identity
    // string under a bucket spec) or fabricate a wrong key; null
    // withdraws the grouping claim, same contract as incomplete tuples
    if (e.specId != specId) return null
    val tf = partTransforms
    val vals = partCols.map { c =>
      tf.get(c) match {
        // a bucket field's key IS the transform result (the INT bucket
        // id) — that is the dataType of the reported bucket(N, col)
        // expression, so two bucketed scans produce row-equal keys
        case Some(_: ManifestSink.PBucketInt) | Some(_: ManifestSink.PBucketStr) =>
          e.parts.get(c).map(v =>
            if (v == ManifestSink.NullPartValue) null
            else Integer.valueOf(v.toInt): Any)
        case _ =>
          fileSchema.fields.find(_.name == c).flatMap { f =>
            e.parts.get(c).map(v => ManifestSink.decodePartValue(v, f.dataType))
          }
      }
    }
    if (vals.exists(_.isEmpty)) null else vals.map(_.get).toArray
  }

  /** Keys decoded ONCE per resolved entry (by file name — names are
    * unique within a snapshot): outputPartitioning's completeness check,
    * its distinct-key count, and planInputPartitions all read this map
    * instead of re-decoding per pass — planning stays one O(files)
    * decode on the driver, the path SPJ exists to keep cheap. */
  private lazy val partKeyByName: Map[String, Array[Any]] =
    if (partCols.isEmpty) Map.empty
    else resolved.map(e => e.name -> partKeyOf(e)).toMap

  /** Storage-partitioned-join handshake: report the identity partition
    * spec as a [[partitioning.KeyGroupedPartitioning]] whenever this
    * scan's output still CARRIES every partition column and every
    * surviving file has a complete key (legacy pre-partitioning files
    * would break the grouping guarantee, so one such file reverts the
    * whole report). With `spark.sql.sources.v2.bucketing.enabled` Spark
    * then groups co-keyed files into single tasks and plans
    * shuffle-free joins/aggregations over the partition keys — at
    * 100 TB this deletes BOTH exchanges of the biggest fact-fact joins
    * when the tables share a layout, the Iceberg SPJ shape. A rewrite
    * scan never reports (its row-level machinery pins its own file
    * set); a streaming-only scan resolves no batch entries and reports
    * unknown. */
  override def outputPartitioning(): partitioning.Partitioning =
    try {
      if (partCols.nonEmpty && onRuntimeNarrow.isEmpty && cdcSlices.isEmpty &&
          // interval transforms never claim key grouping: two files
          // sharing a DAY are not row-equal on the source column, so an
          // identity KeyGroupedPartitioning report would be a lie Spark
          // acts on. BUCKET fields DO report — as the bucket(N, col)
          // expression itself, which Spark resolves through the table
          // catalog's FunctionCatalog ([[GraftBucketFunction]]) and
          // aligns with the other side's transform, the Iceberg
          // bucketed-SPJ shape (the per-file key is the INT bucket id,
          // see [[partKeyOf]])
          partTransforms.valuesIterator.forall {
            case _: ManifestSink.PIdentity => true
            case _: ManifestSink.PBucketInt => true
            case _: ManifestSink.PBucketStr => true
            case _ => false
          } &&
          // spec evolution: an old-spec file's tuple is not a key of the
          // current spec — one such file withdraws the grouping claim
          resolved.forall(_.specId == specId) &&
          partCols.forall(c => schema.fieldNames.contains(c)) &&
          partKeyByName.valuesIterator.forall(_ != null)) {
        val tf = partTransforms
        val exprs = partCols.map { c =>
          import org.apache.spark.sql.connector.expressions.Expressions
          val e = tf.get(c) match {
            case Some(ManifestSink.PBucketInt(_, n)) => Expressions.bucket(n, c)
            case Some(ManifestSink.PBucketStr(_, n)) => Expressions.bucket(n, c)
            case _ => Expressions.identity(c)
          }
          e: org.apache.spark.sql.connector.expressions.Expression
        }
        new partitioning.KeyGroupedPartitioning(exprs.toArray,
          resolved.map(_.parts.filter(kv => partCols.contains(kv._1))).distinct.size)
      } else new partitioning.UnknownPartitioning(resolved.size)
    } catch {
      // a change-feed window the table hasn't reached / streaming-only
      // scan: partitioning must not force what execution would reject
      case _: Exception => new partitioning.UnknownPartitioning(0)
    }

  /** Sorted-scan handshake ([[org.apache.spark.sql.connector.read.SupportsReportOrdering]]):
    * within every planned partition the IDENTITY partition columns are
    * CONSTANT — a partition is either one data file (whose key tuple is
    * a single value by construction) or a same-key group of such files
    * — so any ordering over them holds vacuously, and the scan reports
    * ascending over the spec columns. Spark's
    * V2ScanPartitioningAndOrdering rule turns the report into the
    * scan's outputOrdering, and EnsureRequirements then drops BOTH
    * SortExecs of a storage-partitioned sort-merge join on the
    * partition key: SPJ plans with zero exchanges AND zero sorts. The
    * guards mirror [[outputPartitioning]]'s, narrowed to identity
    * transforms only — a bucket id is constant per partition but the
    * RAW column is not (and SMJ orders by the raw key), and an
    * interval transform's partitions span many source values; both
    * would make the report a lie Spark acts on. A file with an
    * incomplete or archived-spec key withdraws the claim the same way
    * it withdraws key grouping. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    try {
      import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
      if (onRuntimeNarrow.isDefined || cdcSlices.isDefined)
        return Array.empty
      // CONSTANT prefix: identity partition keys — each planned
      // partition is one file or a same-key group of files, so the key
      // columns are constant within it and any ordering over them holds
      // vacuously. Guards mirror outputPartitioning's.
      val prefixOk = partCols.nonEmpty &&
        partCols.forall(c =>
          partTransforms.get(c).forall(_.isInstanceOf[ManifestSink.PIdentity])) &&
        resolved.forall(_.specId == specId) &&
        partCols.forall(c => schema.fieldNames.contains(c)) &&
        partKeyByName.valuesIterator.forall(_ != null)
      // ATTESTED suffix: every surviving file was VERIFIED monotone
      // under (a prefix covering) the current write.sort-by columns at
      // write time — legacy files, bin-merged concatenations and
      // z-ordered rewrites carry no attestation and withdraw the claim.
      // Concatenation hazard: Spark groups same-key files into one
      // partition only when this scan claims KeyGroupedPartitioning, so
      // under a claim the suffix additionally requires ONE file per key
      // (two sorted files appended are not sorted); without a claim
      // every partition is one file OR a read bin that [[binEntries]]
      // built disjoint-ordered precisely to keep this claim true.
      val claimsGrouping = partCols.nonEmpty &&
        partTransforms.valuesIterator.forall {
          case _: ManifestSink.PIdentity => true
          case _: ManifestSink.PBucketInt => true
          case _: ManifestSink.PBucketStr => true
          case _ => false
        } &&
        resolved.forall(_.specId == specId) &&
        partCols.forall(c => schema.fieldNames.contains(c)) &&
        partKeyByName.valuesIterator.forall(_ != null)
      val suffixOk = sortCols.nonEmpty &&
        sortCols.forall(c => schema.fieldNames.contains(c)) &&
        resolved.nonEmpty &&
        resolved.forall(e => e.sorted.take(sortCols.length) == sortCols) &&
        (!claimsGrouping ||
          resolved.groupBy(e => e.parts.filter(kv => partCols.contains(kv._1)))
            .valuesIterator.forall(_.size <= 1))
      val prefix = if (prefixOk) partCols else Seq.empty
      val cols = prefix ++ (if (suffixOk) sortCols.filterNot(prefix.contains) else Seq.empty)
      cols.map(c =>
        Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING)).toArray
    } catch {
      // same defensive posture as outputPartitioning: a stats/planning
      // probe on an unreachable change-feed window must not fail
      case _: Exception => Array.empty
    }

  // one InputPartition per SURVIVING committed data file — parallelism
  // follows the manifest, uncommitted/stray files are invisible, and
  // stats-pruned files never become partitions at all
  override def planInputPartitions(): Array[InputPartition] =
    if (cdcSlices.isDefined)
      slices.map { sl =>
        ManifestFilePartition(root.resolve(sl.entry.name).toString, sliceRows(sl),
          // an insert slice applies its entry's DV (physically-present
          // rows ARE the insert); a delete slice reads the base file at
          // the emitted positions — its DV must NOT also skip them
          if (sl.emit.isEmpty) sl.entry.dvName.map(n => root.resolve(n).toString)
          else None,
          null, sl.emit.orNull, sl.change,
          lineage = sl.entry.lineage,
          lineageFile = sl.entry.lineageRef.map(n => root.resolve(n).toString).orNull): InputPartition
      }.toArray
    else {
      def single(e: ManifestSink.FileEntry): ManifestFilePartition =
        ManifestFilePartition(root.resolve(e.name).toString, e.liveRows,
          e.dvName.map(n => root.resolve(n).toString),
          if (partCols.isEmpty) null else partKeyByName(e.name),
          seq = e.seq, lineage = e.lineage,
          lineageFile = e.lineageRef.map(n => root.resolve(n).toString).orNull)
      // small-file read coalescing, UNPARTITIONED scans only (key-grouped
      // scans already merge same-key files into one task, and a rewrite
      // scan's row-level machinery wants per-file identity)
      if (partCols.isEmpty && onRuntimeNarrow.isEmpty)
        binEntries(entries).map {
          case Seq(e) => single(e): InputPartition
          case bin => ManifestBinPartition(bin.map(single)): InputPartition
        }.toArray
      else entries.map(e => single(e): InputPartition).toArray
    }

  /** Pack `es` into read bins of ≤ [[ManifestSink.scanBinRows]] live
    * rows. ORDERING-AWARE: when every file attests the table's sort
    * columns, members are ordered by the first sort column's min and a
    * file joins a bin only across a STRICTLY disjoint boundary
    * (max(prev) < min(next), no nulls past the first member — the
    * sorted-compaction rule), so a bin's concatenated rows stay sorted
    * and [[outputOrdering]]'s suffix claim remains TRUE by
    * construction. Files that can't prove the boundary open their own
    * bin; oversized files stay solo. */
  private def binEntries(es: Seq[ManifestSink.FileEntry]): Seq[Seq[ManifestSink.FileEntry]] = {
    val target = ManifestSink.scanBinRowsOpt.getOrElse {
      // adaptive default: keep every core busy on small-to-medium
      // tables (binning must coalesce the FILE-COUNT problem, not
      // starve read parallelism), cap task size on huge ones
      val par = try org.apache.spark.sql.SparkSession.active
        .sparkContext.defaultParallelism
      catch { case _: Exception => 8 }
      val total = es.map(_.liveRows).sum
      math.min(ManifestSink.DefaultBinRowsCap,
        math.max(1L, (total + par - 1) / math.max(1, par)))
    }
    if (target <= 0L || es.size <= 1) return es.map(Seq(_))
    val attested = sortCols.nonEmpty &&
      es.forall(e => e.sorted.take(sortCols.length) == sortCols)
    val c1 = sortCols.headOption.getOrElse("")
    val haveStats = attested &&
      es.forall(e => e.mins.contains(c1) && e.maxs.contains(c1) && e.nulls.contains(c1))
    val ordered = if (haveStats) es.sortBy(_.mins(c1)) else es
    def boundaryOk(prev: ManifestSink.FileEntry, next: ManifestSink.FileEntry): Boolean =
      !attested || (haveStats && prev.maxs(c1) < next.mins(c1) && next.nulls(c1) == 0L)
    val bins = Seq.newBuilder[Seq[ManifestSink.FileEntry]]
    var cur = Vector.empty[ManifestSink.FileEntry]
    var curRows = 0L
    ordered.foreach { e =>
      if (cur.nonEmpty && curRows + e.liveRows <= target && boundaryOk(cur.last, e)) {
        cur :+= e; curRows += e.liveRows
      } else {
        if (cur.nonEmpty) bins += cur
        cur = Vector(e); curRows = e.liveRows
      }
    }
    if (cur.nonEmpty) bins += cur
    bins.result()
  }
  override def createReaderFactory(): PartitionReaderFactory =
    // whole-batch columnar handoff only when NO file in the scan
    // carries a deletion vector (Spark requires a uniform row/columnar
    // answer across the batch) — DV positions apply row-by-row, so a
    // DV'd scan hands rows off until OPTIMIZE purges the vectors
    new ManifestReaderFactory(fileSchema, schema,
      // `_file` rows pass through the row-based appender — rewrite
      // scans feed row-consuming writers anyway, so columnar buys
      // nothing there
      columnar = schema.nonEmpty && cdcSlices.isEmpty &&
        !schema.fieldNames.contains(ManifestSink.FileNameColumn) &&
        // lineage columns are computed from per-row physical positions —
        // row-based handoff, like `_file`
        !schema.fieldNames.contains(ManifestSink.RowIdColumn) &&
        !schema.fieldNames.contains(ManifestSink.LastUpdatedColumn) &&
        resolved.forall(e => e.dvName.isEmpty &&
          // equality-delete positions apply row-by-row, like DVs
          !eqDels.exists(_.seq > e.seq)),
      colMap = colMap, evolved = evolved,
      eqApplied = eqDels.map(EqDelApplied.resolve(root, fileSchema, _)),
      // row-group-level predicate pushdown inside surviving files —
      // translated ONCE on the driver, shipped serialized (parquet
      // predicates are Serializable). Withheld from (a) REWRITE scans:
      // their output rewrites whole files, so dropping a non-matching
      // row group would DELETE its rows from the table; (b) cdc scans:
      // delete slices read by physical position. Evolved tables carry
      // the filter and decide PER FILE (rgFilterFileOk: every
      // referenced column physically present with the exact primitive).
      // DV'd / eq-governed / position-emitting partitions are
      // additionally guarded per-file in the factory (row-group skips
      // would shift physical positions).
      rgFilter =
        if (onRuntimeNarrow.isDefined || cdcSlices.isDefined) None
        else ParquetPredicates.translate(dataFilters, fileSchema,
          c => colMap.getOrElse(c, c)),
      // columns any pushed filter references (logical) — evolved tables
      // apply the row-group filter PER FILE only when every one is
      // physically present with the table's exact primitive (a missing
      // or narrower column would make parquet's validator throw or the
      // stats lie); over-approximating with all filters' refs only
      // costs pruning, never correctness
      rgFilterCols = dataFilters.flatMap(_.references).distinct)

  override def toMicroBatchStream(checkpointLocation: String): readstreaming.MicroBatchStream = {
    require(streamable, "streaming reads of a BRANCH are not supported — " +
      "fast-forward the branch and stream the published table")
    new ManifestMicroBatchStream(root, fileSchema, schema, streamStart, streamEnd,
      maxVersionsPerTrigger, colMap = colMap, evolved = evolved,
      cdc = cdcSlices.isDefined)
  }
}

/** The table AS a stream (the Delta "table streaming" shape): offsets
  * are manifest versions, and each micro-batch reads exactly the files
  * ADDED between two committed versions — the change feed, driven by
  * the streaming engine's offset tracking. Restart is exactly-once for
  * free: Spark persists the last version offset in the checkpoint, and
  * versions are immutable. `changesFromVersion` (if set) is the
  * starting offset, otherwise the stream begins at 0 (the whole table
  * is the first batch); `changesToVersion` caps the stream — offsets
  * never advance past it. A truncate mid-stream fails the pure-append
  * check loudly rather than replaying rewritten data. */
class ManifestMicroBatchStream(root: Path, fileSchema: StructType,
    schema: StructType, startVersion: Long,
    endCap: Long = -1L, maxVersionsPerTrigger: Option[Long] = None,
    colMap: Map[String, String] = Map.empty, evolved: Boolean = false,
    cdc: Boolean = false)
    extends readstreaming.MicroBatchStream
    with readstreaming.SupportsAdmissionControl {
  // equality-delete records as of stream construction: the INITIAL
  // snapshot batch applies them (deleted rows never deliver); any
  // record added mid-stream fails the version walk loudly, so this
  // resolution cannot go stale silently
  private val eqDels: Seq[ManifestSink.EqDelRec] =
    if (ManifestSink.currentVersion(root) > 0L)
      ManifestSink.readHeader(root).eqDels
    else Seq.empty
  private case class VOffset(v: Long) extends readstreaming.Offset {
    override def json: String = v.toString
  }
  override def initialOffset(): readstreaming.Offset = VOffset(startVersion)
  override def latestOffset(): readstreaming.Offset = {
    val cur = ManifestSink.currentVersion(root)
    val capped = if (endCap >= 0) math.min(cur, endCap) else cur
    VOffset(math.max(startVersion, capped))
  }

  /** Admission control: `maxVersionsPerTrigger` bounds how many table
    * versions one micro-batch may absorb — the Delta
    * `maxFilesPerTrigger` shape. Without it, a stream started against a
    * long table history reads the WHOLE backlog as one giant first
    * batch: at 100 TB that batch never finishes and the checkpoint
    * never advances. Bounded triggers give the backlog catch-up
    * incremental progress and bounded executor memory per batch. */
  override def getDefaultReadLimit: readstreaming.ReadLimit =
    readstreaming.ReadLimit.allAvailable()
  override def reportLatestOffset(): readstreaming.Offset = latestOffset()
  override def latestOffset(start: readstreaming.Offset,
      limit: readstreaming.ReadLimit): readstreaming.Offset = {
    val uncapped = latestOffset().asInstanceOf[VOffset].v
    val s = start.asInstanceOf[VOffset].v
    VOffset(maxVersionsPerTrigger.fold(uncapped)(m => math.min(uncapped, s + m)))
  }
  override def deserializeOffset(json: String): readstreaming.Offset =
    VOffset(json.trim.toLong)
  override def commit(end: readstreaming.Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: readstreaming.Offset,
      end: readstreaming.Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VOffset].v
    val e = end.asInstanceOf[VOffset].v
    if (e <= s) Array.empty
    else {
      // A stream STARTING at version 0 reads its first batch as the
      // SNAPSHOT at the batch's end version (the Delta initial-snapshot
      // shape), not as a version-by-version walk from the beginning:
      // the walk would pay O(history) manifest reads on a long-lived
      // table and — worse — fail the pure-append check on any historic
      // row-level delete, making an old table permanently unstreamable
      // from scratch. The snapshot carries current deletion vectors, so
      // deleted rows are never delivered. Later batches are true deltas.
      if (cdc && s > 0L)
        // streaming CDC (the Delta streaming-CDF shape): each batch is
        // the row change feed of its version window — inserts + MoR
        // delete images; a CoW rewrite fails the batch loudly
        ManifestSink.cdcSlices(root, s, e).map { sl =>
          ManifestFilePartition(root.resolve(sl.entry.name).toString,
            sl.emit.fold(sl.entry.liveRows)(_.length.toLong),
            if (sl.emit.isEmpty) sl.entry.dvName.map(n => root.resolve(n).toString)
            else None,
            // no lineage: Spark's DSv2 STREAMING planner cannot route
            // metadata columns to a stream scan (see RowLineageSpec)
            null, sl.emit.orNull, sl.change): InputPartition
        }.toArray
      else {
        val ents =
          if (s == 0L) ManifestSink.committedEntries(root, Some(e), withBlooms = false)
          else ManifestSink.addedEntries(root, s, e)
        // a cdc stream's initial snapshot arrives typed as inserts
        // (deletion vectors applied — deleted rows never deliver)
        ents.map(en => ManifestFilePartition(root.resolve(en.name).toString, en.liveRows,
          en.dvName.map(n => root.resolve(n).toString),
          null, null, if (cdc) "insert" else null, seq = en.seq): InputPartition)
          .toArray
      }
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    // row-based handoff: a stream's batches are planned per offset
    // window, so a single columnar/row answer for the stream's lifetime
    // can't be derived from any one batch's file set. Parquet decode is
    // still vectorized inside the reader.
    new ManifestReaderFactory(fileSchema, schema, columnar = false,
      colMap = colMap, evolved = evolved,
      eqApplied = eqDels.map(EqDelApplied.resolve(root, fileSchema, _)))
}

/** One committed data file. `partKey` (when the table is partitioned
  * and every scanned file carries a complete partition tuple) is the
  * file's typed partition values in table-spec order — the
  * [[HasPartitionKey]] contract that lets Spark GROUP co-keyed files
  * into one task and, with `spark.sql.sources.v2.bucketing.enabled`,
  * plan storage-partitioned joins (no shuffle on either side when both
  * scans report the same key grouping). Null when the scan cannot
  * guarantee grouping — Spark only consults it when the scan reported
  * [[partitioning.KeyGroupedPartitioning]], and the scan only reports
  * it when every partition carries a key. */
case class ManifestFilePartition(file: String, rows: Long = 0L,
    dvFile: Option[String] = None,
    partKey: Array[Any] = null,
    emit: Array[Long] = null,
    changeType: String = null,
    seq: Long = 0L,
    // row-lineage segments of this file's entry (see FileEntry.lineage);
    // empty = no lineage (unless lineageFile points at a spill sidecar,
    // loaded executor-side), `_row_id`/`_last_updated_version` read NULL
    lineage: Seq[(Long, Long, Long)] = Seq.empty,
    lineageFile: String = null)
    extends InputPartition with HasPartitionKey {
  /** Resolve the partition's full lineage, loading the spill sidecar on
    * first use (per task — the sidecar is tiny next to the data file). */
  @transient lazy val lineageResolved: Seq[(Long, Long, Long)] =
    if (lineageFile != null)
      ManifestSink.readLineageFile(java.nio.file.Paths.get(lineageFile))
    else lineage
  override def partitionKey(): InternalRow =
    if (partKey == null) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(partKey)
}

/** A BIN of small files read sequentially by one task ([[ManifestScan]]'s
  * small-file read coalescing): at 100 TB a frequently-appended
  * unpartitioned table accumulates tasks-per-file scans long before
  * OPTIMIZE runs, and scheduling 10⁵ sub-second tasks costs more than
  * the read. The reader chains the members' ordinary per-file readers —
  * DV skips, equality-delete passes, widening and `_file` all resolve
  * per member exactly as they would standalone. */
case class ManifestBinPartition(members: Seq[ManifestFilePartition])
    extends InputPartition

/** One equality-delete record RESOLVED for executor-side application:
  * the key column (logical name + table type), the canonical key values
  * (read once on the driver — keys are bounded, the whole point), and
  * the record's sequence. Serializable: ships inside the factory. */
case class EqDelApplied(cols: Seq[String], dataTypes: Seq[DataType],
    keys: Array[Seq[String]], seq: Long) {
  /** Canonical strings → typed tuples, per the key columns' types. */
  lazy val typedKeys: Set[Seq[Any]] = keys.iterator.map(_.zip(dataTypes).map {
    case (v, LongType) => v.toLong
    case (v, IntegerType) => v.toLong // compared as long row-side
    case (v, _) => v
  }).toSet

  /** The typed key tuple of `row`, key component i read at `ordinals(i)`
    * — integral keys as Long, the rest as String, the form of
    * [[typedKeys]] — or None when a component is NULL: SQL equality
    * never matches a NULL, so such a row is never deleted. */
  def keyOf(row: InternalRow, ordinals: Seq[Int]): Option[Seq[Any]] =
    if (ordinals.exists(row.isNullAt)) None
    else Some(ordinals.lazyZip(dataTypes).map {
      case (i, LongType) => row.getLong(i)
      case (i, IntegerType) => row.getInt(i).toLong
      case (i, _) => row.getUTF8String(i).toString
    })
}

object EqDelApplied {
  /** Resolve a record against `schema` on the driver: key column types
    * from the schema (a column it lacks compares as a string) and the
    * sidecar's keys, read once. */
  private[sources] def resolve(root: Path, schema: StructType,
      r: ManifestSink.EqDelRec): EqDelApplied =
    EqDelApplied(r.cols,
      r.cols.map(c => schema.fields.find(_.name == c).map(_.dataType).getOrElse(StringType)),
      ManifestSink.readEqDelKeys(root, r.name), r.seq)
}

/** Per-file readers. Data files decode through Spark's vectorized
  * parquet reader — as whole ColumnarBatches when the scan allows it
  * (`columnar`), else as row views over the same batches. Only the
  * PRUNED columns are materialized. A zero-column projection (e.g.
  * `SELECT lit(1)`) opens no file at all: the manifest's per-file row
  * count drives an empty-row emitter.
  *
  * Schema evolution: columns are requested from parquet by their
  * PHYSICAL names (`colMap` — identity unless the table was ALTERed),
  * and when `evolved` (any schema-altering commit in the table's
  * history) each file's footer decides which requested columns exist in
  * THAT file; absent ones null-fill — per row via a mapped view, per
  * batch via spliced constant-null vectors. Files never rewrite on
  * ALTER; the read side reconciles. */
class ManifestReaderFactory(fileSchema: StructType, schema: StructType,
    columnar: Boolean, colMap: Map[String, String] = Map.empty,
    evolved: Boolean = false,
    rgFilter: Option[org.apache.parquet.filter2.predicate.FilterPredicate] = None,
    eqApplied: Seq[EqDelApplied] = Seq.empty,
    rgFilterCols: Seq[String] = Seq.empty)
    extends PartitionReaderFactory {
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private def physical(c: String): String = colMap.getOrElse(c, c)

  /** Row-group filtering applies only where physical row POSITIONS don't
    * matter: a deletion vector, a cdc emit list, or an equality delete
    * (applied as positions) addresses rows by file position, which
    * skipped groups would shift. */
  private def rgFilterFor(p: ManifestFilePartition)
      : Option[org.apache.parquet.filter2.predicate.FilterPredicate] =
    if (p.dvFile.isEmpty && p.emit == null &&
        governingFor(p).isEmpty && rgFilterFileOk(p.file) &&
        // lineage columns derive from physical positions, which skipped
        // row groups would shift
        !emitsLineage) rgFilter
    else None

  /** Evolved tables decide row-group filtering PER FILE: every column a
    * pushed filter references must be physically present under the
    * table's exact primitive in THAT file — files predating an ADD
    * COLUMN or a TYPE widening fall back to full decode (correct, just
    * unpruned), instead of one ALTER disabling the skip layer for the
    * table's whole life. The footer is read by filePlan anyway on
    * evolved tables; this second read hits the same cached fs pages. */
  private def rgFilterFileOk(file: String): Boolean =
    !evolved || rgFilter.isEmpty || {
      val types = ManifestParquet.footerPrimitiveTypes(file)
      rgFilterCols.forall { c =>
        fileSchema.fields.find(_.name == c).exists(f =>
          types.get(physical(c)).contains(
            ManifestSink.expectedPrimitiveOf(f.dataType)))
      }
    }

  /** Equality deletes governing this partition's file (entry committed
    * strictly before the record). */
  private def governingFor(p: ManifestFilePartition): Seq[EqDelApplied] =
    eqApplied.filter(_.seq > p.seq)

  /** Physical positions of rows an equality delete kills in `p`'s file:
    * ONE single-column vectorized pass per distinct key column — the
    * scan reads the file anyway, so the extra pass costs one cheap
    * column and turns key deletes into the same sorted-position skip a
    * deletion vector uses. NULL keys never match (SQL equality). */
  private def eqDeletePositions(p: ManifestFilePartition): Array[Long] = {
    val gov = governingFor(p)
    if (gov.isEmpty) return Array.empty
    // schema evolution of KEY columns: a governed file may predate an
    // ADD COLUMN (that key component is NULL there — equality never
    // matches, the record contributes nothing to this file) or an ALTER
    // COLUMN TYPE widening (narrow physical primitive — decode through
    // the widening reader, table-typed)
    val fileTypes: Option[Map[String, String]] =
      if (evolved) Some(ManifestParquet.footerPrimitiveTypes(p.file)) else None
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    // one single-pass reader per distinct key-column SET (records with
    // the same key shape share the pass); the read stays one narrow
    // column per key component
    gov.filter(a =>
      fileTypes.forall(t => a.cols.forall(c => t.contains(physical(c)))))
      .groupBy(_.cols).foreach { case (cols, dels) =>
        val physCols = cols.map(physical)
        val dts = dels.head.dataTypes
        val needsWiden = fileTypes.exists(t =>
          physCols.zip(dts).exists { case (pc, dt) =>
            t.get(pc).exists(pt => pt != "GROUP" &&
              pt != ManifestSink.expectedPrimitiveOf(dt)) })
        val reader =
          if (needsWiden) ManifestParquet.openReadWidened(p.file,
            StructType(physCols.zip(dts).map { case (pc, dt) =>
              org.apache.spark.sql.types.StructField(pc, dt) }),
            returnBatches = false)
          else ManifestParquet.openRead(p.file, physCols, returnBatches = false)
        val keySets = dels.map(_.typedKeys)
        try {
          var pos = -1L
          while (reader.nextKeyValue()) {
            pos += 1
            val row = reader.getCurrentValue.asInstanceOf[InternalRow]
            if (dels.head.keyOf(row, dts.indices).exists(t => keySets.exists(_.contains(t))))
              out += pos
          }
        } finally reader.close()
      }
    out.distinct.sorted.toArray
  }

  /** The pruned schema under PHYSICAL names — what the filtered reader
    * requests from `ParquetReadSupport`'s clipping. */
  private lazy val physDataSchema: StructType =
    StructType(dataSchema.fields.map(f => f.copy(name = physical(f.name))))

  // `_file` and `_change_type` are emitted HERE as per-partition
  // constants (each input partition is exactly one data file / change
  // slice) — they are metadata, never decoded from parquet, so the
  // decode schema drops them. Order (readSchemaPruned): data columns,
  // then `_change_type`, then `_file`.
  private val emitsFile: Boolean =
    schema.fieldNames.contains(ManifestSink.FileNameColumn)
  private val emitsChange: Boolean =
    schema.fieldNames.contains(ManifestSink.ChangeTypeColumn)
  // row-lineage metadata columns: computed per row from the partition's
  // lineage segments + the row's PHYSICAL file position
  private val emitsRowId: Boolean =
    schema.fieldNames.contains(ManifestSink.RowIdColumn)
  private val emitsLastUpdated: Boolean =
    schema.fieldNames.contains(ManifestSink.LastUpdatedColumn)
  private def emitsLineage: Boolean = emitsRowId || emitsLastUpdated
  private val dataSchema: StructType = StructType(schema.fields.filterNot(f =>
    f.name == ManifestSink.FileNameColumn || f.name == ManifestSink.ChangeTypeColumn ||
      f.name == ManifestSink.RowIdColumn || f.name == ManifestSink.LastUpdatedColumn))
  // EXISTS_DEFAULT per output ordinal (null = no default) — computed
  // lazily per JVM (the metadata parse is driver/executor-agnostic)
  @transient private lazy val existDefaults: Array[Any] =
    ManifestSink.existenceDefaults(dataSchema)

  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  /** (physical names present in the file, out-index → present-index map
    * with -1 for null-fill, file-needs-WIDENING flag), or None for the
    * uniform fast path. Widening: a file written before ALTER COLUMN
    * TYPE carries the NARROW primitive (INT32 under a BIGINT column) —
    * it must decode through the requested-schema reader whose updaters
    * widen per value; reading it with file-typed vectors would hand
    * Spark ints where longs are promised. */
  private def filePlan(file: String): Option[(Seq[String], Array[Int], Boolean)] =
    if (!evolved) None
    else {
      val types = ManifestParquet.footerPrimitiveTypes(file)
      val phys = dataSchema.fieldNames.map(physical)
      val widened = dataSchema.fields.exists(f =>
        types.get(physical(f.name)).exists(t =>
          t != "GROUP" && t != ManifestSink.expectedPrimitiveOf(f.dataType)))
      if (phys.forall(types.contains) && !widened) None
      else {
        val present = phys.filter(types.contains)
        val posOf = present.zipWithIndex.toMap
        Some((present.toSeq, phys.map(p => posOf.getOrElse(p, -1)), widened))
      }
    }

  /** Present columns as a physical-named StructType under TABLE types —
    * the widening reader's requested schema. */
  private def physPresentSchema(present: Seq[String]): StructType = {
    val byPhys = dataSchema.fields.map(f => physical(f.name) -> f).toMap
    StructType(present.map(p => byPhys(p).copy(name = p)))
  }

  /** Sequential chain over a bin's members — each member gets its own
    * ordinary reader (opened lazily, closed before the next opens), so
    * per-file machinery (DV skip, eq-delete pass, widening, `_file`)
    * is untouched. */
  private def chain[T](members: Seq[InputPartition],
      mk: InputPartition => PartitionReader[T]): PartitionReader[T] =
    new PartitionReader[T] {
      private val it = members.iterator
      private var cur: PartitionReader[T] = null
      override def next(): Boolean = {
        while (true) {
          if (cur == null) {
            if (!it.hasNext) return false
            cur = mk(it.next())
          }
          if (cur.next()) return true
          cur.close(); cur = null
        }
        false
      }
      override def get(): T = cur.get()
      override def close(): Unit = if (cur != null) cur.close()
    }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case b: ManifestBinPartition => chain(b.members, fileRowReader)
      case p => fileRowReader(p)
    }

  private def fileRowReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ManifestFilePartition]
    // physical position of the row currently being served — advanced by
    // the tracking wrapper under the DV/emit layers (they consume
    // skipped rows through it), read by the lineage appender
    val posRef = new ManifestPosRef
    // deletion vector: positions to skip while handing rows off. The
    // zero-column emitter needs no skip — its row count is already the
    // LIVE count from the manifest entry.
    val base: PartitionReader[InternalRow] =
    if (dataSchema.isEmpty && emitsLineage) new PartitionReader[InternalRow] {
      // lineage-only projection (`SELECT _row_id FROM t`): positions come
      // from the manifest alone — the data file is never opened. Live
      // positions = [0, physicalRows) minus DV/eq-delete positions; a
      // delete slice emits exactly its emitted positions.
      private val it: Iterator[Long] =
        if (p.emit != null) p.emit.iterator
        else {
          val dv = p.dvFile.map(f =>
            ManifestSink.readDvPositions(Paths.get(f))).getOrElse(Array.empty[Long])
          val skip = (dv ++ eqDeletePositions(p)).toSet
          val physical = p.rows + dv.length // p.rows is the LIVE count
          (0L until physical).iterator.filterNot(skip)
        }
      override def next(): Boolean = it.hasNext && { posRef.pos = it.next(); true }
      override def get(): InternalRow = InternalRow.empty
      override def close(): Unit = ()
    }
    else if (dataSchema.isEmpty) new PartitionReader[InternalRow] {
      // governed files: the manifest live count still includes the
      // equality-deleted rows — subtract them (positions not already in
      // the deletion vector) before emitting
      private var remaining = {
        val eq = eqDeletePositions(p)
        if (eq.isEmpty) p.rows
        else {
          val dv = p.dvFile.map(f => ManifestSink.readDvPositions(Paths.get(f)).toSet)
            .getOrElse(Set.empty[Long])
          p.rows - eq.count(!dv.contains(_))
        }
      }
      override def next(): Boolean = remaining > 0 && { remaining -= 1; true }
      override def get(): InternalRow = InternalRow.empty
      override def close(): Unit = ()
    }
    else filePlan(p.file) match {
      case None => new PartitionReader[InternalRow] {
        private val reader = rgFilterFor(p) match {
          case Some(f) =>
            ManifestParquet.openReadFiltered(p.file, physDataSchema, f,
              returnBatches = false)
          case None => ManifestParquet.openRead(p.file,
            dataSchema.fieldNames.map(physical).toSeq, returnBatches = false)
        }
        override def next(): Boolean = reader.nextKeyValue()
        override def get(): InternalRow = reader.getCurrentValue.asInstanceOf[InternalRow]
        override def close(): Unit = reader.close()
      }
      case Some((present, mapping, widened)) => new PartitionReader[InternalRow] {
        private val reader =
          if (widened) ManifestParquet.openReadWidened(p.file,
            physPresentSchema(present), returnBatches = false)
          else ManifestParquet.openRead(p.file, present, returnBatches = false)
        private val view = new MappedInternalRow(mapping,
          dataSchema.fields.map(_.dataType), existDefaults)
        override def next(): Boolean = reader.nextKeyValue()
        override def get(): InternalRow = {
          view.row = reader.getCurrentValue.asInstanceOf[InternalRow]; view
        }
        override def close(): Unit = reader.close()
      }
    }
    // physical-position tracking under the DV/emit layers: every row
    // they consume (served OR skipped) advances the shared counter, so
    // the lineage appender reads the served row's true file position
    val tracked: PartitionReader[InternalRow] =
      if (!emitsLineage || dataSchema.isEmpty) base
      else new PartitionReader[InternalRow] {
        override def next(): Boolean =
          base.next() && { posRef.pos += 1; true }
        override def get(): InternalRow = base.get()
        override def close(): Unit = base.close()
      }
    val withDv = (p.dvFile, p.emit) match {
      // a delete slice emits ONLY the newly-vectored positions — the
      // inverse of the DV skip (zero-column slices need neither: their
      // row count was set to the slice's size at planning)
      case (_, em) if em != null && dataSchema.nonEmpty =>
        new DvEmitReader(tracked, em)
      case (Some(dv), _) if dataSchema.nonEmpty =>
        // deletion vector ∪ equality-delete positions: one merged
        // sorted skip
        new DvSkipReader(tracked,
          (ManifestSink.readDvPositions(Paths.get(dv)) ++ eqDeletePositions(p))
            .distinct.sorted)
      case _ if dataSchema.nonEmpty =>
        val eq = eqDeletePositions(p)
        if (eq.isEmpty) tracked else new DvSkipReader(tracked, eq)
      case _ => base
    }
    def appendConst(inner: PartitionReader[InternalRow],
        value: UTF8String): PartitionReader[InternalRow] =
      new PartitionReader[InternalRow] {
        private val tail = InternalRow(value)
        private val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
        override def next(): Boolean = inner.next()
        override def get(): InternalRow = joined(inner.get(), tail)
        override def close(): Unit = inner.close()
      }
    val withChange =
      if (!emitsChange) withDv
      else appendConst(withDv, UTF8String.fromString(
        if (p.changeType == null) "insert" else p.changeType))
    val withFile =
      if (!emitsFile) withChange
      else appendConst(withChange, UTF8String.fromString(
        Paths.get(p.file).getFileName.toString))
    if (!emitsLineage) withFile
    else new PartitionReader[InternalRow] {
      // segment cursor only ever advances: physical positions are served
      // nondecreasing by every upstream reader shape
      private val segs = p.lineageResolved.toArray
      private var si = 0
      private val nTail = (if (emitsRowId) 1 else 0) + (if (emitsLastUpdated) 1 else 0)
      private val tail =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(nTail)
      private val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      override def next(): Boolean = withFile.next()
      override def get(): InternalRow = {
        val pos = posRef.pos
        while (si + 1 < segs.length && segs(si + 1)._1 <= pos) si += 1
        val known = segs.nonEmpty && segs(si)._1 <= pos && segs(si)._2 != -1L
        var i = 0
        if (emitsRowId) {
          if (known) tail.update(i, segs(si)._2 + (pos - segs(si)._1))
          else tail.update(i, null)
          i += 1
        }
        if (emitsLastUpdated) {
          if (known) tail.update(i, segs(si)._3) else tail.update(i, null)
        }
        joined(withFile.get(), tail)
      }
      override def close(): Unit = withFile.close()
    }
  }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    partition match {
      case b: ManifestBinPartition => chain(b.members, fileColumnarReader)
      case p => fileColumnarReader(p)
    }

  private def fileColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[ManifestFilePartition]
    filePlan(p.file) match {
      case None => new PartitionReader[ColumnarBatch] {
        private val reader = rgFilterFor(p) match {
          case Some(f) =>
            ManifestParquet.openReadFiltered(p.file, physDataSchema, f,
              returnBatches = true)
          case None => ManifestParquet.openRead(p.file,
            dataSchema.fieldNames.map(physical).toSeq, returnBatches = true)
        }
        override def next(): Boolean = reader.nextKeyValue()
        override def get(): ColumnarBatch = reader.getCurrentValue.asInstanceOf[ColumnarBatch]
        override def close(): Unit = reader.close()
      }
      case Some((present, mapping, widened)) => new PartitionReader[ColumnarBatch] {
        private val reader =
          if (widened) ManifestParquet.openReadWidened(p.file,
            physPresentSchema(present), returnBatches = true)
          else ManifestParquet.openRead(p.file, present, returnBatches = true)
        // constant vectors for absent columns — the column's
        // EXISTS_DEFAULT when one exists, else all-null — shared across
        // batches (capacity covers the reader's 4096-row batches)
        private val nullAt: Map[Int, ColumnVector] = mapping.zipWithIndex.collect {
          case (-1, i) =>
            i -> ManifestSink.constantVector(
              dataSchema.fields(i).dataType, existDefaults(i))
        }.toMap
        override def next(): Boolean = reader.nextKeyValue()
        override def get(): ColumnarBatch = {
          val inner = reader.getCurrentValue.asInstanceOf[ColumnarBatch]
          val cols = Array.tabulate[ColumnVector](mapping.length) { i =>
            if (mapping(i) >= 0) inner.column(mapping(i)) else nullAt(i)
          }
          new ColumnarBatch(cols, inner.numRows())
        }
        override def close(): Unit = reader.close()
      }
    }
  }
}

/** Mutable physical-position cell shared between a file reader's
  * position-tracking wrapper (or the manifest-only position emitter)
  * and its row-lineage appender. */
private[sources] class ManifestPosRef { var pos: Long = -1L }

/** Applies a deletion vector while handing rows off: `dv` holds the
  * SORTED 0-based physical positions deleted from the underlying file;
  * rows at those positions are consumed from `inner` but never yielded.
  * One merge pass — the cursor into `dv` only ever advances. */
private[sources] class DvSkipReader(inner: PartitionReader[InternalRow],
    dv: Array[Long]) extends PartitionReader[InternalRow] {
  private var pos = -1L
  private var di = 0
  override def next(): Boolean = {
    while (inner.next()) {
      pos += 1
      while (di < dv.length && dv(di) < pos) di += 1
      if (!(di < dv.length && dv(di) == pos)) return true
    }
    false
  }
  override def get(): InternalRow = inner.get()
  override def close(): Unit = inner.close()
}

/** The inverse of [[DvSkipReader]]: hand off ONLY the rows at the given
  * sorted 0-based positions — a change feed's delete-row images. */
private[sources] class DvEmitReader(inner: PartitionReader[InternalRow],
    emit: Array[Long]) extends PartitionReader[InternalRow] {
  private var pos = -1L
  private var ei = 0
  override def next(): Boolean = {
    while (ei < emit.length && inner.next()) {
      pos += 1
      if (emit(ei) == pos) { ei += 1; return true }
    }
    false
  }
  override def get(): InternalRow = inner.get()
  override def close(): Unit = inner.close()
}

/** Read-only view presenting `row`'s fields re-ordered through `mapping`
  * (output ordinal → inner ordinal; -1 reads as null) — the per-row
  * null-fill for files predating an ADD COLUMN. Reused across rows. */
private[sources] class MappedInternalRow(mapping: Array[Int],
    types: Array[DataType],
    // per-output-ordinal EXISTS_DEFAULT values (catalyst-typed; null =
    // no default → absent columns read as NULL, the pre-DEFAULT shape)
    defaults: Array[Any] = null) extends InternalRow {
  var row: InternalRow = _
  private def m(i: Int): Int = mapping(i)
  private def d(i: Int): Any = if (defaults == null) null else defaults(i)
  override def numFields: Int = mapping.length
  override def isNullAt(i: Int): Boolean =
    if (m(i) < 0) d(i) == null else row.isNullAt(m(i))
  override def getBoolean(i: Int): Boolean =
    if (m(i) < 0) d(i).asInstanceOf[Boolean] else row.getBoolean(m(i))
  override def getByte(i: Int): Byte =
    if (m(i) < 0) d(i).asInstanceOf[Byte] else row.getByte(m(i))
  override def getShort(i: Int): Short =
    if (m(i) < 0) d(i).asInstanceOf[Short] else row.getShort(m(i))
  override def getInt(i: Int): Int =
    if (m(i) < 0) d(i).asInstanceOf[Int] else row.getInt(m(i))
  override def getLong(i: Int): Long =
    if (m(i) < 0) d(i).asInstanceOf[Long] else row.getLong(m(i))
  override def getFloat(i: Int): Float =
    if (m(i) < 0) d(i).asInstanceOf[Float] else row.getFloat(m(i))
  override def getDouble(i: Int): Double =
    if (m(i) < 0) d(i).asInstanceOf[Double] else row.getDouble(m(i))
  override def getDecimal(i: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal =
    if (m(i) < 0) d(i).asInstanceOf[org.apache.spark.sql.types.Decimal]
    else row.getDecimal(m(i), precision, scale)
  override def getUTF8String(i: Int): UTF8String =
    if (m(i) < 0) d(i).asInstanceOf[UTF8String] else row.getUTF8String(m(i))
  override def getBinary(i: Int): Array[Byte] =
    if (m(i) < 0) d(i).asInstanceOf[Array[Byte]] else row.getBinary(m(i))
  override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval =
    if (m(i) < 0) d(i).asInstanceOf[org.apache.spark.unsafe.types.CalendarInterval]
    else row.getInterval(m(i))
  override def getVariant(i: Int): org.apache.spark.unsafe.types.VariantVal =
    row.getVariant(m(i))
  override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal =
    row.getGeography(m(i))
  override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal =
    row.getGeometry(m(i))
  override def getStruct(i: Int, numFields: Int): InternalRow =
    if (m(i) < 0) d(i).asInstanceOf[InternalRow] else row.getStruct(m(i), numFields)
  override def getArray(i: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    if (m(i) < 0) d(i).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    else row.getArray(m(i))
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData =
    if (m(i) < 0) d(i).asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
    else row.getMap(m(i))
  override def get(i: Int, dataType: org.apache.spark.sql.types.DataType): AnyRef =
    if (m(i) < 0) d(i).asInstanceOf[AnyRef] else row.get(m(i), dataType)
  override def setNullAt(i: Int): Unit =
    throw new UnsupportedOperationException("read-only row view")
  override def update(i: Int, value: Any): Unit =
    throw new UnsupportedOperationException("read-only row view")
  override def copy(): InternalRow = {
    val vals = Array.tabulate[Any](numFields)(i =>
      if (isNullAt(i)) null
      else if (m(i) < 0) d(i)
      else row.get(m(i), types(i)))
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
  }
}
