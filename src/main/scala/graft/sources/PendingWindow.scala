package graft.sources

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.TableChange
import org.apache.spark.sql.functions._

/** The refresh-window driver of every table maintained from a source's
  * change feed: [[IncrementalMv]], [[PostingsMaintenance]],
  * [[AnnIndexMaintenance]], [[SsimIndexMaintenance]],
  * [[LineTableMaintenance]], [[MinHashIndexMaintenance]],
  * [[PhashIndexMaintenance]] and [[ClusterIndexMaintenance]]. The driver
  * owns the protocol; each kind keeps its create, its apply and the name
  * of the recovery rule its apply needs. The design is the offset/commit
  * log of Structured Streaming (SIGMOD 2018): the marker is the offset
  * log entry, the finalize commit the commit log entry.
  *
  * THE PROTOCOL is EXACTLY-ONCE under the single-refresher contract (the
  * state table is written only by its refresh loop — the natural
  * deployment for a derived table). A kind's state table records
  * `<kind>.source-version`, the last source version folded in (0 = never),
  * and, while a window is in flight, a pending marker `from:to:vA`. One
  * refresh is a pure function of durable table state — any job, session
  * or machine can run the next one:
  *
  *   1. recover: roll forward the marker a crashed refresh left (below);
  *   2. window: `(from, to]` = (source-version, the source's head]; an
  *      empty window commits nothing;
  *   3. stage: commit the marker; `vA` is the version that very commit
  *      occupies — the pivot recovery decides by;
  *   4. apply: the kind folds the window's change feed into its tables;
  *   5. finalize: ONE commit advances `<kind>.source-version` to `to`,
  *      removes the marker and sets any kind-specific properties — its
  *      atomicity is what makes the pivot sound.
  *
  * THE FOUR RECOVERY RULES, one per shape of apply. The driver names
  * them; a kind picks the one its apply's commits need:
  *
  *   - [[SinglePivot]] — the apply is ONE commit on the state table:
  *     re-apply only if the table is still at vA (the apply never
  *     landed); past vA it landed and only finalize remains. Do not
  *     compact such a table between a crash and the next refresh: the
  *     rule reads whether the table moved past vA.
  *   - [[CommitCount]] — the apply appends the inserts (first commit),
  *     then equality-deletes the deletes (second commit): at vA re-apply;
  *     at vA+1 with both halves in the window, apply only the delete half.
  *   - [[ScrubReapply]] — the apply spans several tables: equality-delete
  *     the window's INSERT keys from them (erasing whatever partial append
  *     landed), then re-apply. Exact because equality deletes follow the
  *     Iceberg v2 sequencing rule — they apply only to files committed
  *     BEFORE the delete, so the scrub never touches the re-append — and
  *     because source keys are unique over the source's life (compose
  *     with exact dedup upstream if they can recur), so the scrub removes
  *     only this window's rows.
  *   - [[Overwrite]] — each commit is a truncate+append pinned to the
  *     source at `to`: redo it unconditionally; a replay recomputes
  *     identical content.
  *
  * A key both inserted and deleted inside one window is REFUSED by
  * [[split]]: the feed carries no intra-window ordering to replay it
  * faithfully — refresh more often than a key churns. Copy-on-write
  * rewrites in a window fail LOUDLY inside the feed itself (their row
  * diff is not reconstructible). */
private[sources] object PendingWindow {

  sealed trait Recovery
  case object SinglePivot extends Recovery
  case object CommitCount extends Recovery
  case object ScrubReapply extends Recovery
  case object Overwrite extends Recovery

  /** One pending-window protocol: the kind's property prefix, the
    * marker property on the state table, and the recovery rule. */
  final case class Protocol(kind: String, pending: String, rule: Recovery)

  /** A window in flight: source versions `(from, to]` of `src`, folded
    * into the tables whose marker sits on `state` at version `vA`.
    * Recovery sets `scrub` ([[ScrubReapply]]) or `skipInsert` (the
    * delete-only half of [[CommitCount]]). */
  final case class Window(src: Path, state: Path, from: Long, to: Long,
      vA: Long, scrub: Boolean = false, skipInsert: Boolean = false)

  def tableRoot(s: SparkSession, catalog: String, ident: String): Path =
    ident.split('.').foldLeft(
      Paths.get(s.conf.get(s"spark.sql.catalog.$catalog.warehouse")))(_.resolve(_))

  private def versionOf(state: Path, kind: String): Long =
    ManifestSink.readHeader(state).props.getOrElse(s"$kind.source-version", "0").toLong

  /** The last source version folded into `ident` (0 = never). */
  def sourceVersion(s: SparkSession, catalog: String, ident: String,
      kind: String): Long =
    versionOf(tableRoot(s, catalog, ident), kind)

  /** Build a kind's tables over the source's CURRENT snapshot and record
    * the consumed version on the state table. Returns it. */
  def create(s: SparkSession, catalog: String, srcIdent: String,
      stateIdent: String, kind: String)(build: => Unit): Long = {
    val v0 = ManifestSink.currentVersion(tableRoot(s, catalog, srcIdent))
    build
    ManifestSink.alterSchema(tableRoot(s, catalog, stateIdent),
      Seq(TableChange.setProperty(s"$kind.source-version", v0.toString)))
    v0
  }

  /** The source's change feed over `(from, to]`, so only the window's
    * files are ever opened. Append-only by default (a delete in the
    * window fails the read); `cdc` reads the ROW change feed instead:
    * inserts plus merge-on-read delete images, tagged `_change_type`. */
  def changes(s: SparkSession, src: Path, from: Long, to: Long,
      cdc: Boolean): DataFrame = {
    val r = s.read.format("graft.sources.ManifestSink")
      .option("path", src.toString)
      .option("changesFromVersion", from.toString)
      .option("changesToVersion", to.toString)
    (if (cdc) r.option("changeFeedMode", "cdc") else r).load()
  }

  /** The window's row changes as (inserts, deletes), each `key` +
    * `payload`, read once into a local checkpoint. `pin` lets a kind
    * materialize either half before the refusal check reads them. A key
    * in both halves is refused (see the object doc). */
  def split(s: SparkSession, src: Path, from: Long, to: Long, key: String,
      payload: Seq[String])(
      pin: (DataFrame, DataFrame) => (DataFrame, DataFrame) = (i, d) => (i, d))
      : (DataFrame, DataFrame) = {
    val cols = (key +: payload).map(col)
    val ch = changes(s, src, from, to, cdc = true)
      .select(cols :+ col("_change_type"): _*).localCheckpoint()
    val (ins, dels) = pin(
      ch.filter(col("_change_type") === "insert").select(cols: _*),
      ch.filter(col("_change_type") === "delete").select(cols: _*))
    val both = ins.join(dels.select(key), Seq(key), "left_semi").limit(1).collect()
    require(both.isEmpty,
      s"refresh window ($from, $to] both inserts and deletes $key " +
        s"${both.headOption.map(_.getLong(0)).getOrElse(-1L)} — the change " +
        "feed carries no intra-window ordering; refresh with a narrower window")
    (ins, dels)
  }

  /** Equality-delete key chunk size: the Spark driver never holds more than
    * one sorted partition (via toLocalIterator) and never passes more
    * than this many keys to one deleteWhereEq commit. Each chunk is an
    * independent idempotent metadata commit, so a crash between chunks
    * is healed by the same recovery as any other partial window. Bounds
    * Spark DRIVER memory, not window size — a window of any size streams
    * through; the remaining (documented) bound is the eq-delete SIDECAR
    * count: a window of K deleted keys lands ceil(K / chunk) sidecar
    * files per table, so refresh cadence should keep windows well under
    * ~1e8 keys or OPTIMIZE afterwards. */
  private val EqDelChunk = 100000

  /** Stream `keyDf`'s single BIGINT column to equality deletes on every
    * root in `roots`, in sorted EqDelChunk-sized slices — zero base-file
    * reads. Returns true iff at least one key was deleted. */
  def chunkedEqDelete(keyDf: DataFrame, column: String,
      roots: Seq[Path]): Boolean = {
    import scala.jdk.CollectionConverters._
    var any = false
    keyDf.distinct().sort(column).toLocalIterator().asScala
      .map(_.getLong(0).toString).grouped(EqDelChunk).foreach { ks =>
        any = true
        roots.foreach(r =>
          ManifestSink.deleteWhereEq(r.toString, column, ks.toSeq))
      }
    any
  }

  /** One refresh of `stateIdent` from `srcIdent`: recover, compute the
    * window, stage, apply, finalize. `finish` returns the window's
    * kind-specific property changes for the finalize commit. Returns the
    * source version the state now reflects; an empty window commits
    * nothing. */
  def refresh(s: SparkSession, catalog: String, srcIdent: String,
      stateIdent: String, p: Protocol,
      finish: Window => Seq[TableChange] = _ => Nil)(
      apply: Window => Unit): Long = {
    val src = tableRoot(s, catalog, srcIdent)
    val state = tableRoot(s, catalog, stateIdent)
    recover(s, src, state, p, finish)(apply)
    val from = versionOf(state, p.kind)
    val to = ManifestSink.currentVersion(src)
    if (to <= from) from else fold(src, state, p, from, to, finish)(apply)
  }

  /** Stage `(from, to]`, apply it, finalize it. Returns `to`. */
  def fold(src: Path, state: Path, p: Protocol, from: Long, to: Long,
      finish: Window => Seq[TableChange] = _ => Nil)(
      apply: Window => Unit): Long = {
    val w = Window(src, state, from, to, stage(state, p.pending, from, to))
    apply(w)
    finalizeWindow(w, p, finish(w))
    to
  }

  /** Roll forward the window a crashed refresh left under `p` by `p`'s
    * recovery rule (see the object doc). Returns true if there was one. */
  def recover(s: SparkSession, src: Path, state: Path, p: Protocol,
      finish: Window => Seq[TableChange] = _ => Nil)(
      apply: Window => Unit): Boolean =
    ManifestSink.readHeader(state).props.get(p.pending) match {
      case None => false
      case Some(m) =>
        val (from, to, vA) = parse(m)
        val w = Window(src, state, from, to, vA)
        p.rule match {
          case SinglePivot =>
            verifyPivot(state, p.pending, m, vA)
            if (ManifestSink.currentVersion(state) == vA) apply(w)
          case CommitCount =>
            verifyPivot(state, p.pending, m, vA)
            val cur = ManifestSink.currentVersion(state)
            // the apply order is deterministic (append, then delete), so
            // the landed-commit count disambiguates which half remains
            if (cur == vA) apply(w)
            else {
              val ch = changes(s, src, from, to, cdc = true)
              val hasIns = !ch.filter(col("_change_type") === "insert").isEmpty
              val hasDel = !ch.filter(col("_change_type") === "delete").isEmpty
              val expected = vA + (if (hasIns) 1L else 0L) + (if (hasDel) 1L else 0L)
              if (cur < expected && hasIns && hasDel && cur == vA + 1L)
                apply(w.copy(skipInsert = true))
            }
          case ScrubReapply =>
            verifyPivot(state, p.pending, m, vA)
            apply(w.copy(scrub = true))
          case Overwrite => apply(w)
        }
        finalizeWindow(w, p, finish(w))
        true
    }

  private def finalizeWindow(w: Window, p: Protocol,
      extra: Seq[TableChange]): Unit =
    ManifestSink.alterSchema(w.state,
      (TableChange.setProperty(s"${p.kind}.source-version", w.to.toString) +:
        extra) :+ TableChange.removeProperty(p.pending))

  /** Durably stake out `(from, to]` on `root` under `prop`. Returns the
    * version the marker's commit occupies.
    *
    * Staking the marker must leave it recording its TRUE commit version.
    * `alterSchema` rebases on CAS conflicts, so a concurrent commit can
    * push the marker to a later version than predicted — a durable
    * marker with a stale version would make the next recovery misjudge
    * "apply landed" and silently skip the window. `stage` therefore
    * verifies the landing and RE-STAKES on a miss (the newer marker
    * overwrites the stale one); past the retry budget it best-effort
    * removes the marker and fails loudly — concurrent writers on a
    * refresher-owned table are a contract violation either way, and a
    * poisoned marker must not outlive the error. */
  def stage(root: Path, prop: String, from: Long, to: Long): Long = {
    var attempt = 0
    while (true) {
      attempt += 1
      val vNext = ManifestSink.currentVersion(root) + 1L
      ManifestSink.alterSchema(root,
        Seq(TableChange.setProperty(prop, s"$from:$to:$vNext")))
      val landed = ManifestSink.currentVersion(root)
      if (landed == vNext) return vNext
      if (attempt >= 5) {
        // do not leave a marker whose recorded version lies
        try ManifestSink.alterSchema(root,
          Seq(TableChange.removeProperty(prop)))
        catch { case _: Exception => () }
        throw new IllegalStateException(
          s"staging $prop on $root kept losing its version slot " +
            s"(predicted $vNext, landed $landed) — another writer is " +
            "committing to a refresher-owned table, which violates the " +
            "single-refresher contract exactly-once depends on")
      }
    }
    0L // unreachable
  }

  /** `from:to:v` of a durable marker. */
  def parse(value: String): (Long, Long, Long) = {
    val Array(f, t, v) = value.split(':').map(_.trim.toLong)
    (f, t, v)
  }

  /** Verify the marker really committed at its recorded version before
    * recovery trusts the pivot. `stage` predicts its slot and lands at
    * or after it, so a marker PRESENT at vA with this exact value
    * committed exactly there; ABSENT at a retained vA means a crash
    * landed it later with a stale recorded version — recovery would
    * misjudge "apply landed" and silently skip the window, so fail
    * LOUDLY for manual adjudication instead. Expired history verifies
    * vacuously (best effort). */
  def verifyPivot(root: Path, prop: String, value: String, vA: Long): Unit = {
    val atVA: Option[Option[String]] =
      try Some(ManifestSink.readHeader(root, Some(vA)).props.get(prop))
      catch {
        // ONLY expired history verifies vacuously — a transient read
        // failure must not slip past the stale-marker check (that would
        // re-open the silent-skip hole this method closes)
        case _: java.nio.file.NoSuchFileException => None
        case e: IllegalArgumentException
          if Option(e.getMessage).exists(_.contains("does not exist")) => None
      }
    atVA.foreach { got =>
      require(got.contains(value),
        s"pending marker $prop='$value' claims version $vA of $root, but " +
          s"that version records ${got.getOrElse("no marker")} — the marker " +
          "is STALE (crash mid-staging under concurrent commits, a " +
          "single-refresher contract violation). Decide manually whether " +
          "the window was applied, then clear or restore the marker.")
    }
  }
}
