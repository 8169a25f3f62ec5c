package graft.sources

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.TableChange
import org.apache.spark.sql.functions._

/** Incremental maintenance of the BM25 inverted index AT REST — the
  * production search-ingest loop:
  *
  *   - the DOCUMENT table's change feed yields exactly the docs appended
  *     since the last refresh (append-only enforced; a CoW rewrite or
  *     equality delete in the window fails LOUDLY — a lexical index
  *     cannot un-post terms it cannot see);
  *   - the delta tokenizes into postings rows ((term, doc_id, tf, dl),
  *     the q148 layout: term-range-clustered with a term bloom) and
  *     APPENDS — postings of distinct docs are disjoint, so maintenance
  *     is pure insertion, no merge;
  *   - the scorer's corpus constants (`bm25.n-docs`, `bm25.sum-dl`) fold
  *     additively in the same finalize commit that advances the
  *     consumed-version pointer and clears the in-flight marker.
  *
  * Exactly-once by [[PendingWindow]]'s single-commit pivot on the
  * postings table (`postings.pending`); the window's constants
  * re-derive deterministically from the still-readable change feed, so
  * no partial fold is ever applied twice.
  *
  * Scale shape: refresh I/O is proportional to the DELTA — only the
  * docs appended in the window are read (the spec proves it by deleting
  * consumed files first) and only delta postings are written. Query
  * cost keeps following |query terms| (per-delta term clustering; an
  * occasional OPTIMIZE re-clusters across deltas). */
object PostingsMaintenance {
  private val Refresh = PendingWindow.Protocol("postings", "postings.pending",
    PendingWindow.SinglePivot)
  private val NDocsProp = "bm25.n-docs"
  private val SumDlProp = "bm25.sum-dl"

  def lastSourceVersion(s: SparkSession, catalog: String, postingsIdent: String): Long =
    PendingWindow.sourceVersion(s, catalog, postingsIdent, Refresh.kind)

  /** Create the postings table in the q148 at-rest layout. */
  def createPostingsTable(s: SparkSession, catalog: String, ident: String): Unit =
    s.sql(s"CREATE TABLE $catalog.$ident " +
      "(term STRING, doc_id BIGINT, tf BIGINT, dl BIGINT) " +
      "TBLPROPERTIES ('write.sort-by' = 'term', 'bloom.columns' = 'term')")

  /** The window's docs as postings rows + (docs, Σdl) — derived from the
    * CHANGE FEED, so only delta files are ever opened. */
  private def windowDelta(s: SparkSession, srcRoot: Path,
      from: Long, to: Long): DataFrame =
    PendingWindow.changes(s, srcRoot, from, to, cdc = false)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), t -> t != '')").as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"), col("toks"))

  private[sources] def stagePending(postRoot: Path, from: Long, to: Long): Unit =
    PendingWindow.stage(postRoot, Refresh.pending, from, to): Unit

  /** Returns the window's (docs, Σdl) observed in the SAME pass that
    * wrote the postings — the happy path pays one delta read, not two;
    * a recovery that finds the append landed re-derives them from the
    * feed instead. */
  private[sources] def applyWindow(s: SparkSession, catalog: String,
      srcRoot: Path, postingsIdent: String, from: Long,
      to: Long): Option[(Long, Long)] = {
    // Observation (listener-backed) rides the WRITE's own execution —
    // a plain .observe + df.queryExecution would inspect a never-run
    // sibling execution and read zeros
    val ob = org.apache.spark.sql.Observation(s"pm_window_${System.nanoTime()}")
    val toks = windowDelta(s, srcRoot, from, to)
      .observe(ob, count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("sdl"))
    toks
      .select(col("doc_id"), col("dl"), explode_outer(col("toks")).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select("term", "doc_id", "tf", "dl")
      .writeTo(s"$catalog.$postingsIdent").append()
    // bounded wait: the metrics arrive with the (already-completed)
    // write's listener callback; if this write's plan shape ever stops
    // carrying the observation, fall back to the recovery-path
    // recompute instead of wedging or mis-folding
    try {
      import scala.concurrent.Await
      import scala.concurrent.duration._
      val r = Await.result(ob.future, 30.seconds)
      Some((r.getAs[Long]("n"), r.getAs[Long]("sdl")))
    } catch { case _: Exception => None }
  }

  /** The finalize commit's constants: the totals folded with the
    * window's (docs, Σdl) — handed over from applyWindow's observation,
    * or re-derived from the feed when there is none (recovery). */
  private def constants(s: SparkSession, w: PendingWindow.Window,
      observed: Option[(Long, Long)]): Seq[TableChange] = {
    val (dn, dsum) = observed.getOrElse(windowDelta(s, w.src, w.from, w.to)
      .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head)
    val props = ManifestSink.readHeader(w.state).props
    val n0 = props.getOrElse(NDocsProp, "0").toLong
    val s0 = props.getOrElse(SumDlProp, "0").toLong
    Seq(TableChange.setProperty(NDocsProp, (n0 + dn).toString),
      TableChange.setProperty(SumDlProp, (s0 + dsum).toString))
  }

  /** Refresh the postings table from the docs appended since the last
    * refresh. Returns the source version the index now reflects. */
  def refresh(s: SparkSession, catalog: String, srcIdent: String,
      postingsIdent: String): Long = {
    var observed: Option[(Long, Long)] = None
    PendingWindow.refresh(s, catalog, srcIdent, postingsIdent, Refresh,
      finish = w => constants(s, w, observed))(w =>
      observed = applyWindow(s, catalog, w.src, postingsIdent, w.from, w.to))
  }
}
