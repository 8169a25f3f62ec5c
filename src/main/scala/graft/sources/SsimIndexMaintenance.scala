package graft.sources

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.DedupOps

/** Incremental maintenance of the exact set-similarity PREFIX index AT
  * REST — the set-sim analogue of [[PostingsMaintenance]] (BM25) and
  * [[AnnIndexMaintenance]] (IVFPQ):
  *
  *   - CREATE computes the document-frequency statistic on the source
  *     SNAPSHOT — the index's FROZEN total order — plus every doc's
  *     rarity prefix under it, lands both as manifest tables (prefixes
  *     token-sort-clustered with a token bloom, the q199 layout), and
  *     records the consumed source version;
  *   - REFRESH reads the source's change feed since the last refresh
  *     (append-only enforced) and appends the delta docs' prefixes
  *     under the frozen order (a token the statistic has never seen
  *     ranks maximally rare — df 0 — the same rule probes use, so
  *     index and probe stay in ONE total order). Prefixes of distinct
  *     docs are disjoint rows: maintenance is pure insertion, no merge.
  *   - REFRESH-CDC consumes the row change feed, so merge-on-read
  *     deletes retire the deleted docs' prefix rows as ONE equality
  *     delete keyed by doc_id — the zero-read path: no prefix base
  *     file is ever opened (the spec hides them all to prove it).
  *   - REINDEX rebuilds BOTH tables from the current source snapshot —
  *     the drift repair q199's frozen-df contract calls for (stale df
  *     only costs pruning POWER, never pairs; reindex restores the
  *     power). Each table is rewritten by a single truncate+append
  *     commit pinned to one source version (`versionAsOf`), so a crash
  *     replay recomputes the identical content; history keeps every
  *     prior index version readable.
  *
  * KEYING: unlike the q190 family this index is ROW-keyed — every
  * source doc_id is indexed individually, with NO byte-clone
  * canonicalization — because deletes must retire exactly the deleted
  * doc (a canonical representative would silently take its folded
  * clones' representation with it). Compose with exact dedup (q40)
  * upstream when clone folding is wanted; that is the same contract as
  * the postings and ANN indexes, which key on vec_id/doc_id verbatim.
  *
  * Exactly-once by [[PendingWindow]]: `refresh` by the single-commit
  * pivot, `refreshCdc` by commit counting (append, then delete), and
  * `reindex` by idempotent overwrite. Scale shape: refresh I/O is
  * proportional to the delta (only window files are read — the spec
  * deletes consumed files to prove it); deletes are metadata-sized;
  * reindex is the only corpus-proportional operation and is an explicit
  * scheduled repair, exactly like ANN codebook re-creates. */
object SsimIndexMaintenance {
  private val Append = PendingWindow.Protocol("ssim", "ssim.pending",
    PendingWindow.SinglePivot)
  private val Cdc = PendingWindow.Protocol("ssim", "ssim.pending-cdc",
    PendingWindow.CommitCount)
  private val Reindex = PendingWindow.Protocol("ssim", "ssim.pending-reindex",
    PendingWindow.Overwrite)

  def lastSourceVersion(s: SparkSession, catalog: String, preIdent: String): Long =
    PendingWindow.sourceVersion(s, catalog, preIdent, Append.kind)

  /** Non-canonicalizing doc → distinct-shingle tokens (see KEYING). */
  private[graft] def docTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.plans.ShinglesExpr.shinglesNative(col("text"),
        DedupOps.SetSimShingleN)).as("token"))

  /** Prefixes of `docs` under the FROZEN stored order (absent → df 0).
    * The df lookup is DELTA-BOUNDED via [[DedupOps.dfLookupFrozen]]:
    * for a bounded window the df table is probed through a broadcast
    * of the window's own distinct tokens (bloom-pruned file reads)
    * instead of shuffling the corpus-sized df table under a left join
    * — MaintBench caught the old shape scaling with the CORPUS
    * (sf10/sf3 refresh ratio 2.6× for an identical 500-doc window). */
  private def frozenOrderPrefixes(s: SparkSession, catalog: String,
      dfIdent: String, docs: DataFrame): DataFrame =
    DedupOps.prefixTokens(
      DedupOps.dfLookupFrozen(s, docTokens(docs), s"$catalog.$dfIdent"),
      DedupOps.SsimIndexBuildTBp)
      .select(col("token"), col("doc_id"), col("m"))

  /** Per-token df of a snapshot — one corpus pass, nothing cached. */
  private def dfStats(docs: DataFrame): DataFrame =
    docTokens(docs).groupBy("token").agg(count(lit(1)).as("df"))

  // Build shape (createIndex / applyReindex): the df statistic is
  // WRITTEN to its table first and READ BACK for the prefix join —
  // never cached. The (doc, shingle) token table is corpus×~50 rows
  // and the distinct-shingle df table is nearly as large; the old
  // localCheckpoint of both filled the block manager with deserialized
  // corpus-sized intermediates and OOM'd the create at sf10 (first
  // caught by MaintBench — the q-fixture builders had only ever run
  // the create at ≤sf3). Tokens are a narrow projection off the source
  // scan, so each of the two passes re-derives them; the only
  // materialization is to the index's own storage, which is where a
  // 100 TB build has to put it anyway.

  /** Build the index on the source's CURRENT snapshot, record the
    * consumed version. Returns it. */
  def createIndex(s: SparkSession, catalog: String, srcIdent: String,
      dfIdent: String, preIdent: String): Long =
    PendingWindow.create(s, catalog, srcIdent, preIdent, Append.kind) {
      s.sql(s"CREATE TABLE $catalog.$dfIdent (token STRING, df BIGINT) " +
        "TBLPROPERTIES ('bloom.columns' = 'token')")
      s.sql(s"CREATE TABLE $catalog.$preIdent " +
        "(token STRING, doc_id BIGINT, m BIGINT) " +
        "TBLPROPERTIES ('write.sort-by' = 'token', 'bloom.columns' = 'token')")
      val snap = s.table(s"$catalog.$srcIdent")
      dfStats(snap).select(col("token"), col("df"))
        .writeTo(s"$catalog.$dfIdent").append()
      DedupOps.prefixTokens(
          docTokens(snap).join(s.table(s"$catalog.$dfIdent"), "token"),
          DedupOps.SsimIndexBuildTBp)
        .select(col("token"), col("doc_id"), col("m"))
        .writeTo(s"$catalog.$preIdent").append()
    }

  private[sources] def applyWindow(s: SparkSession, catalog: String,
      srcRoot: Path, dfIdent: String, preIdent: String,
      from: Long, to: Long): Unit =
    frozenOrderPrefixes(s, catalog, dfIdent,
        PendingWindow.changes(s, srcRoot, from, to, cdc = false)
          .select(col("doc_id"), col("text")))
      .writeTo(s"$catalog.$preIdent").append()

  private def appendApply(s: SparkSession, catalog: String, dfIdent: String,
      preIdent: String)(w: PendingWindow.Window): Unit =
    applyWindow(s, catalog, w.src, dfIdent, preIdent, w.from, w.to)

  /** Refresh from the docs appended since the last refresh. Returns the
    * source version the index now reflects. */
  def refresh(s: SparkSession, catalog: String, srcIdent: String,
      dfIdent: String, preIdent: String): Long =
    PendingWindow.refresh(s, catalog, srcIdent, preIdent, Append)(
      appendApply(s, catalog, dfIdent, preIdent))

  // ---- CDC-aware refresh: deletes propagate without reading anything ----

  /** Deterministic two-commit apply: append the window's inserted docs'
    * prefixes (first commit), then retire its deletes as ONE EQUALITY
    * DELETE on the prefix table keyed by doc_id (second commit) — the
    * zero-read delete path: O(delete keys), no prefix base file is ever
    * opened. `skipInsert` (recovery) applies only the delete half. */
  private[sources] def applyWindowCdc(s: SparkSession, catalog: String,
      srcRoot: Path, preRoot: Path, dfIdent: String, preIdent: String,
      from: Long, to: Long, skipInsert: Boolean = false): Unit = {
    val (ins, dels) =
      PendingWindow.split(s, srcRoot, from, to, "doc_id", Seq("text"))()
    if (!ins.isEmpty && !skipInsert)
      frozenOrderPrefixes(s, catalog, dfIdent, ins)
        .writeTo(s"$catalog.$preIdent").append()
    PendingWindow.chunkedEqDelete(dels.select("doc_id"), "doc_id", Seq(preRoot))
  }

  private def cdcApply(s: SparkSession, catalog: String, dfIdent: String,
      preIdent: String)(w: PendingWindow.Window): Unit =
    applyWindowCdc(s, catalog, w.src, w.state, dfIdent, preIdent, w.from,
      w.to, w.skipInsert)

  /** [[refresh]] for sources that DELETE: consumes the row change feed,
    * so merge-on-read deletes in the window retire prefix rows through
    * the equality-delete path instead of failing the refresh. */
  def refreshCdc(s: SparkSession, catalog: String, srcIdent: String,
      dfIdent: String, preIdent: String): Long =
    PendingWindow.refresh(s, catalog, srcIdent, preIdent, Cdc)(
      cdcApply(s, catalog, dfIdent, preIdent))

  // ---- REINDEX: the drift repair ------------------------------------------

  /** Rewrite both index tables from the source snapshot at `to`
    * (idempotent: a replay recomputes identical content from the pinned
    * version, and each overwrite is one truncate+append commit). */
  private def applyReindex(s: SparkSession, catalog: String,
      dfIdent: String, preIdent: String)(w: PendingWindow.Window): Unit = {
    val snap = s.read.format("graft.sources.ManifestSink")
      .option("path", w.src.toString)
      .option("versionAsOf", w.to.toString)
      .load()
      .select(col("doc_id"), col("text"))
    // write-then-read-back, same as createIndex (see the build-shape
    // note there); both overwrites stay idempotent against the pinned
    // snapshot, so the recovery contract is unchanged
    dfStats(snap).select(col("token"), col("df"))
      .writeTo(s"$catalog.$dfIdent").overwrite(lit(true))
    DedupOps.prefixTokens(
        docTokens(snap).join(s.table(s"$catalog.$dfIdent"), "token"),
        DedupOps.SsimIndexBuildTBp)
      .select(col("token"), col("doc_id"), col("m"))
      .writeTo(s"$catalog.$preIdent").overwrite(lit(true))
  }

  /** Rebuild the frozen-df order and every prefix from the source's
    * CURRENT snapshot — the scheduled repair for df drift. Probe
    * RESULTS are invariant (the order only steers candidate pruning;
    * verification is exact either way — the spec pins it); what the
    * rebuild restores is PRUNING POWER: prefixes are again the truly
    * rarest tokens, and the prefix table consolidates back into
    * token-clustered files a probe's runtime filter can skip. Runs
    * under the single-refresher contract: probes racing the two-commit
    * cutover should read pinned versions (history keeps the prior
    * index readable). Returns the source version reindexed to. */
  def reindex(s: SparkSession, catalog: String, srcIdent: String,
      dfIdent: String, preIdent: String): Long = {
    val src = PendingWindow.tableRoot(s, catalog, srcIdent)
    val pre = PendingWindow.tableRoot(s, catalog, preIdent)
    val rebuild = applyReindex(s, catalog, dfIdent, preIdent) _
    PendingWindow.recover(s, src, pre, Reindex)(rebuild)
    // fold in any un-refreshed appends first so the rebuild consumes
    // the same windows a refresh would (keeps the version pointer
    // monotone and the pending protocols disjoint)
    PendingWindow.recover(s, src, pre, Append)(appendApply(s, catalog, dfIdent, preIdent))
    PendingWindow.recover(s, src, pre, Cdc)(cdcApply(s, catalog, dfIdent, preIdent))
    PendingWindow.fold(src, pre, Reindex, 0L, ManifestSink.currentVersion(src))(rebuild)
  }
}
