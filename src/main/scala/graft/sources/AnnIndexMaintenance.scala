package graft.sources

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{IvfPqOps, PqOps, SimilarityOps}

/** Incremental maintenance of the IVFPQ index AT REST — the ANN
  * analogue of [[PostingsMaintenance]]'s search-ingest loop:
  *
  *   - CREATE trains the coarse codebook (integer Lloyd) and the
  *     residual-PQ codebooks on the source SNAPSHOT, persists both as
  *     companion manifest tables, fresh-encodes the snapshot into the
  *     cell-clustered codes table (the q183 layout), and records the
  *     consumed source version;
  *   - REFRESH reads the embedding table's change feed for the window
  *     since the last refresh (append-only enforced — an index cannot
  *     un-encode vectors it cannot see), encodes ONLY the delta against
  *     the FROZEN codebooks, and appends. Because the encode is a pure
  *     function of (vector, codebooks), incremental maintenance is
  *     EXACT: the maintained table equals a from-scratch re-encode of
  *     the whole corpus against the same codebooks, bit for bit.
  *   - REFRESH-CDC also retires merge-on-read deletes, as equality
  *     deletes keyed by vec_id.
  *
  * Exactly-once by [[PendingWindow]]: `refresh` appends once (the
  * single-commit pivot), `refreshCdc` appends then deletes (commit
  * counting) — a replayed window can never double-encode.
  *
  * Scale shape: refresh I/O is proportional to the DELTA (only the
  * window's source files are read — the spec deletes consumed files to
  * prove it) and the write appends delta codes only. Codebooks never
  * retrain on refresh — the standard production contract (FAISS/Milvus
  * rebuild schedules vs ingest): drift is handled by an explicit
  * periodic re-create, not silently. Search stays [[IvfPqOps]]'s
  * probed-cell ADC over the maintained table. */
object AnnIndexMaintenance {
  private val Append = PendingWindow.Protocol("ann", "ann.pending",
    PendingWindow.SinglePivot)
  private val Cdc = PendingWindow.Protocol("ann", "ann.pending-cdc",
    PendingWindow.CommitCount)

  def lastSourceVersion(s: SparkSession, catalog: String, idxIdent: String): Long =
    PendingWindow.sourceVersion(s, catalog, idxIdent, Append.kind)

  private def coarseIdent(idxIdent: String) = s"${idxIdent}_coarse"
  private def pqcIdent(idxIdent: String) = s"${idxIdent}_pqc"

  /** Train on the CURRENT source snapshot, persist codebooks + snapshot
    * codes, record the consumed version. Returns it. */
  def createIndex(s: SparkSession, catalog: String, srcIdent: String,
      idxIdent: String): Long =
    PendingWindow.create(s, catalog, srcIdent, idxIdent, Append.kind) {
      s.sql(s"CREATE TABLE $catalog.$idxIdent " +
        "(vec_id BIGINT, cell BIGINT, codes ARRAY<BIGINT>) " +
        "TBLPROPERTIES ('write.sort-by' = 'cell')")
      s.sql(s"CREATE TABLE $catalog.${coarseIdent(idxIdent)} " +
        "(cluster BIGINT, cvec ARRAY<BIGINT>)")
      s.sql(s"CREATE TABLE $catalog.${pqcIdent(idxIdent)} " +
        "(sub BIGINT, code BIGINT, cv ARRAY<BIGINT>)")
      val snap = s.table(s"$catalog.$srcIdent")
      val (coarse, _) = SimilarityOps.kmeansFit(snap,
        SimilarityOps.NumCentroids, SimilarityOps.KmIters)
      coarse.writeTo(s"$catalog.${coarseIdent(idxIdent)}").append()
      val coarseT = s.table(s"$catalog.${coarseIdent(idxIdent)}")
      val res = IvfPqOps.residuals(SimilarityOps.quantized(snap), coarseT)
      val (pqc, _) = PqOps.pqFitQ(
        res.select(col("vec_id"), col("rvec").as("qvec")),
        PqOps.M, PqOps.SubDim, PqOps.Ksub, PqOps.PqIters, "annm:")
      pqc.writeTo(s"$catalog.${pqcIdent(idxIdent)}").append()
      val pqcT = s.table(s"$catalog.${pqcIdent(idxIdent)}")
      IvfPqOps.freshEncode(snap, coarseT, pqcT, PqOps.M, PqOps.SubDim)
        .writeTo(s"$catalog.$idxIdent").append()
    }

  /** Append `vecs`' codes under the index's frozen codebooks. */
  private def appendCodes(s: SparkSession, catalog: String, idxIdent: String,
      vecs: DataFrame): Unit =
    IvfPqOps.freshEncode(vecs,
        s.table(s"$catalog.${coarseIdent(idxIdent)}"),
        s.table(s"$catalog.${pqcIdent(idxIdent)}"),
        PqOps.M, PqOps.SubDim)
      .writeTo(s"$catalog.$idxIdent").append()

  private[sources] def applyWindow(s: SparkSession, catalog: String,
      srcRoot: Path, idxIdent: String, from: Long, to: Long): Unit =
    appendCodes(s, catalog, idxIdent,
      PendingWindow.changes(s, srcRoot, from, to, cdc = false)
        .select(col("vec_id"), col("embedding")))

  /** Refresh the maintained index from the vectors appended since the
    * last refresh. Returns the source version the index now reflects. */
  def refresh(s: SparkSession, catalog: String, srcIdent: String,
      idxIdent: String): Long =
    PendingWindow.refresh(s, catalog, srcIdent, idxIdent, Append)(w =>
      applyWindow(s, catalog, w.src, idxIdent, w.from, w.to))

  /** Deterministic two-commit apply: encode-append the window's inserts
    * (first commit), then retire its deletes as ONE EQUALITY DELETE on
    * the index keyed by vec_id (second commit) — the q156 zero-read
    * delete path: O(delete keys), no index base file is ever opened.
    * `skipInsert` (recovery) applies only the delete half. */
  private[sources] def applyWindowCdc(s: SparkSession, catalog: String,
      srcRoot: Path, idxRoot: Path, idxIdent: String, from: Long,
      to: Long, skipInsert: Boolean = false): Unit = {
    val (ins, dels) =
      PendingWindow.split(s, srcRoot, from, to, "vec_id", Seq("embedding"))()
    if (!ins.isEmpty && !skipInsert) appendCodes(s, catalog, idxIdent, ins)
    PendingWindow.chunkedEqDelete(dels.select("vec_id"), "vec_id", Seq(idxRoot))
  }

  /** [[refresh]] for sources that DELETE: consumes the row change feed,
    * so merge-on-read deletes in the window retire index rows through
    * the equality-delete path instead of failing the refresh. */
  def refreshCdc(s: SparkSession, catalog: String, srcIdent: String,
      idxIdent: String): Long =
    PendingWindow.refresh(s, catalog, srcIdent, idxIdent, Cdc)(w =>
      applyWindowCdc(s, catalog, w.src, w.state, idxIdent, w.from, w.to,
        w.skipInsert))
}
