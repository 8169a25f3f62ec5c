package graft.sources

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.MultimodalOps

/** Incremental maintenance of the PERCEPTUAL-HASH media near-dup index
  * AT REST — media joins the index family (MinHash q208/q209, set-sim
  * q199/q201, postings, ANN, line table): the aHash bands of every
  * stored media grid live as two manifest tables maintained through the
  * media source's change feed:
  *
  *   - `hash`  (doc_id, bands): the 4 × 16-bit aHash bands per doc —
  *     the Hamming-verification arm, doc_id-sorted so candidate
  *     fetches prune by id range;
  *   - `bands` (band, doc_id): one row per (band index, band value),
  *     folded to ONE string key `j ':' value` (the q208 banding shape),
  *     sort-clustered + bloomed on `band` — the LSH candidate arm.
  *
  * Like the MinHash index (and unlike set-sim's frozen-df prefixes)
  * there is NO corpus statistic: a doc's hash and band rows depend on
  * its own pixels alone, so appends are pure insertion, deletes are
  * equality deletes keyed by doc_id, and a rebuilt index is
  * bit-identical to a maintained one. Exactly-once by
  * [[PendingWindow]]'s scrub-and-re-apply rule with the marker on the
  * bands table: both tables key their rows by the doc's own doc_id, so
  * scrubbing the window's insert keys erases exactly what a partial
  * apply appended. Key lists stream through
  * [[PendingWindow.chunkedEqDelete]].
  *
  * Scale shape: refresh I/O is delta-only; the index is 4 longs + 4
  * short strings per doc — orders of magnitude smaller than the media
  * it indexes; probes are band-key equi-joins against bloomed,
  * sort-clustered files. */
object PhashIndexMaintenance {
  private val Cdc = PendingWindow.Protocol("ph", "ph.pending-cdc",
    PendingWindow.ScrubReapply)

  def lastSourceVersion(s: SparkSession, catalog: String, bandIdent: String): Long =
    PendingWindow.sourceVersion(s, catalog, bandIdent, Cdc.kind)

  /** (doc_id, px) → one hash row per doc. */
  private[graft] def hashRows(media: DataFrame): DataFrame =
    MultimodalOps.bandsFromPx(media)

  /** (doc_id, px) → LSH band rows, one string key per (index, value). */
  private[graft] def bandRows(media: DataFrame): DataFrame =
    hashRows(media)
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("j", "bv")))
      .select(concat(col("j").cast("string"), lit(":"),
        col("bv").cast("string")).as("band"), col("doc_id"))

  /** Build both index tables on the media source's CURRENT snapshot,
    * record the consumed version. Returns it. */
  def createIndex(s: SparkSession, catalog: String, srcIdent: String,
      hashIdent: String, bandIdent: String): Long =
    PendingWindow.create(s, catalog, srcIdent, bandIdent, Cdc.kind) {
      s.sql(s"CREATE TABLE $catalog.$hashIdent (doc_id BIGINT, bands ARRAY<BIGINT>) " +
        "TBLPROPERTIES ('write.sort-by' = 'doc_id')")
      s.sql(s"CREATE TABLE $catalog.$bandIdent (band STRING, doc_id BIGINT) " +
        "TBLPROPERTIES ('write.sort-by' = 'band', 'bloom.columns' = 'band')")
      val snap = s.table(s"$catalog.$srcIdent")
        .select(col("doc_id"), col("px")).localCheckpoint()
      hashRows(snap).writeTo(s"$catalog.$hashIdent").append()
      bandRows(snap).writeTo(s"$catalog.$bandIdent").append()
    }

  /** Apply one window (the q208 protocol: scrub erases the window's
    * partial inserts on recovery, appends land the inserts, equality
    * deletes retire the deletes from both arms — zero base-file
    * reads). */
  private[sources] def applyWindowCdc(s: SparkSession, catalog: String,
      srcRoot: Path, hashIdent: String, bandIdent: String,
      from: Long, to: Long, scrub: Boolean = false): Unit = {
    val roots = Seq(hashIdent, bandIdent).map(PendingWindow.tableRoot(s, catalog, _))
    val (ins, dels) = PendingWindow.split(s, srcRoot, from, to, "doc_id",
      Seq("px"))((i, d) => (i.localCheckpoint(), d))
    if (scrub) PendingWindow.chunkedEqDelete(ins.select("doc_id"), "doc_id", roots)
    if (!ins.isEmpty) {
      hashRows(ins).writeTo(s"$catalog.$hashIdent").append()
      bandRows(ins).writeTo(s"$catalog.$bandIdent").append()
    }
    PendingWindow.chunkedEqDelete(dels.select("doc_id"), "doc_id", roots)
  }

  /** Refresh both tables from the rows changed since the last refresh.
    * Returns the source version the index now reflects. */
  def refreshCdc(s: SparkSession, catalog: String, srcIdent: String,
      hashIdent: String, bandIdent: String): Long =
    PendingWindow.refresh(s, catalog, srcIdent, bandIdent, Cdc)(w =>
      applyWindowCdc(s, catalog, w.src, hashIdent, bandIdent, w.from, w.to,
        w.scrub))
}
