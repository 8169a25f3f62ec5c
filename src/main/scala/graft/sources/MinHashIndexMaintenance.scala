package graft.sources

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.DedupOps

/** Incremental maintenance of the MinHash/LSH NEAR-DUP index AT REST —
  * the last open cell of the dedup family matrix: set-sim has q199
  * (at rest) + q201 (maintained) via [[SsimIndexMaintenance]], while the
  * MinHash family (q41/q119) recomputed corpus band tables per session.
  * This object persists TWO manifest tables and maintains them through
  * the source's row change feed:
  *
  *   - `digest` (h, doc_id): md5 of every source doc — the EXACT-match
  *     arm of the q119 verdict, sort-clustered + bloomed on `h` so an
  *     exact probe prunes files by digest;
  *   - `bands`  (band, doc_id): the LSH band keys (band = bandIndex ':'
  *     joined signature slice, q41's banding collapsed to ONE string
  *     key so sort/bloom/runtime-filter all act on a single column),
  *     sort-clustered + bloomed on `band` so a near probe prunes files
  *     by band key.
  *
  * Unlike the set-sim prefix index there is NO frozen corpus statistic:
  * a doc's digest and band rows depend on its own text alone, so
  * maintenance needs no total-order freeze and no reindex-for-drift —
  * appends are pure insertion, deletes are equality deletes keyed by
  * doc_id, and an index rebuilt from scratch is bit-identical to one
  * maintained through any append/delete history (q209's oracle proof).
  *
  * Exactly-once by [[PendingWindow]]'s scrub-and-re-apply rule, with the
  * marker on the bands table. Scrubbing is exact here because a doc's
  * digest and band rows are keyed by its own doc_id and derived from its
  * own text alone: equality-deleting the window's inserted doc_ids
  * erases exactly the rows a partial apply could have appended, and the
  * re-apply recomputes them bit-identically.
  *
  * Scale shape: refresh I/O is delta-only (the change feed opens only
  * window files — MinHashMaintenanceSpec deletes consumed files to
  * prove it); deletes are metadata-sized (zero base-file reads, proved
  * by hiding every data file during the delete refresh); the only
  * corpus-proportional operation is the initial create. At 100 TB the
  * band table is ~4 short strings per doc and the digest one — both
  * orders of magnitude smaller than the corpus, probed with
  * broadcast-driven runtime file pruning (the q199 pattern). */
object MinHashIndexMaintenance {
  private val Cdc = PendingWindow.Protocol("mh", "mh.pending-cdc",
    PendingWindow.ScrubReapply)

  def lastSourceVersion(s: SparkSession, catalog: String, bandIdent: String): Long =
    PendingWindow.sourceVersion(s, catalog, bandIdent, Cdc.kind)

  /** One digest row per doc — the exact-match arm (q119's md5 join). */
  private[graft] def digestRows(docs: DataFrame): DataFrame =
    docs.select(md5(col("text")).as("h"), col("doc_id"))

  /** LSH band rows: q41's (j, bkey) banding folded into one `band`
    * string key. Docs too short for a signature emit no rows (they can
    * never be near-candidates), mirroring q119's `sig.isNotNull`. */
  private[graft] def bandRows(docs: DataFrame): DataFrame =
    DedupOps.bands(docs.select(col("doc_id"),
        graft.plans.MinHashFromTextExpr.sigFromText(col("text"),
          DedupOps.ShingleN, DedupOps.NumHashes).as("sig"))
      .filter(col("sig").isNotNull))
      .select(concat(col("j").cast("string"), lit(":"), col("bkey")).as("band"),
        col("doc_id"))

  /** Build both index tables on the source's CURRENT snapshot, record
    * the consumed version. Returns it. */
  def createIndex(s: SparkSession, catalog: String, srcIdent: String,
      digIdent: String, bandIdent: String): Long =
    PendingWindow.create(s, catalog, srcIdent, bandIdent, Cdc.kind) {
      s.sql(s"CREATE TABLE $catalog.$digIdent (h STRING, doc_id BIGINT) " +
        "TBLPROPERTIES ('write.sort-by' = 'h', 'bloom.columns' = 'h')")
      s.sql(s"CREATE TABLE $catalog.$bandIdent (band STRING, doc_id BIGINT) " +
        "TBLPROPERTIES ('write.sort-by' = 'band', 'bloom.columns' = 'band')")
      val snap = s.table(s"$catalog.$srcIdent")
        .select(col("doc_id"), col("text")).localCheckpoint()
      digestRows(snap).writeTo(s"$catalog.$digIdent").append()
      bandRows(snap).writeTo(s"$catalog.$bandIdent").append()
    }

  /** Apply one window: append the inserted docs' digest + band rows,
    * then retire its deletes as equality deletes keyed by doc_id —
    * zero base-file reads, driver-bounded via
    * [[PendingWindow.chunkedEqDelete]]. `scrub = true` (recovery) first
    * equality-deletes the window's INSERT keys from both tables so a
    * partially-landed prior attempt is erased before the re-apply. */
  private[sources] def applyWindowCdc(s: SparkSession, catalog: String,
      srcRoot: Path, digIdent: String, bandIdent: String,
      from: Long, to: Long, scrub: Boolean = false): Unit = {
    val roots = Seq(digIdent, bandIdent).map(PendingWindow.tableRoot(s, catalog, _))
    val (ins, dels) = PendingWindow.split(s, srcRoot, from, to, "doc_id",
      Seq("text"))((i, d) => (i.localCheckpoint(), d))
    if (scrub) PendingWindow.chunkedEqDelete(ins.select("doc_id"), "doc_id", roots)
    if (!ins.isEmpty) {
      digestRows(ins).writeTo(s"$catalog.$digIdent").append()
      bandRows(ins).writeTo(s"$catalog.$bandIdent").append()
    }
    PendingWindow.chunkedEqDelete(dels.select("doc_id"), "doc_id", roots)
  }

  /** Refresh both tables from the rows changed since the last refresh
    * (inserts appended, merge-on-read deletes retired as equality
    * deletes). Returns the source version the index now reflects. */
  def refreshCdc(s: SparkSession, catalog: String, srcIdent: String,
      digIdent: String, bandIdent: String): Long =
    PendingWindow.refresh(s, catalog, srcIdent, bandIdent, Cdc)(w =>
      applyWindowCdc(s, catalog, w.src, digIdent, bandIdent, w.from, w.to,
        w.scrub))
}
