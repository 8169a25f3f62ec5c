package graft.sources

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.DedupOps

/** Incremental maintenance of the standing LINE table (q206's corpus
  * statistic), with one structural difference from the other maintained
  * indexes: line membership is REFERENCE-COUNTED. A line row is not
  * owned by one doc (the prefix index's equality-delete path does not
  * apply) — `df` counts the surviving source docs containing the line,
  * so maintenance is a MERGE with count arithmetic, exactly the
  * [[IncrementalMv]] retraction shape:
  *
  *   - CREATE counts each distinct line's containing docs on the source
  *     SNAPSHOT and records the consumed version;
  *   - REFRESH-CDC folds a change-feed window as ±1 per (doc, line)
  *     membership into ONE MERGE commit: matched rows update
  *     `df = df + delta`, rows reaching df <= 0 DELETE (a vanished
  *     line stops cleaning future batches), unseen lines with positive
  *     delta INSERT. Merge-on-read source deletes arrive as delete
  *     images in the feed — the window's I/O is delta-only.
  *
  * Exactly-once by [[PendingWindow]]'s single-commit pivot: the MERGE is
  * one deterministic commit recomputed from the pinned (from, to]
  * window on crash replay. Scale shape: refresh cost follows the
  * window's docs; the only corpus-proportional pass is CREATE. */
object LineTableMaintenance {
  private val Cdc = PendingWindow.Protocol("linem", "linem.pending",
    PendingWindow.SinglePivot)

  def lastSourceVersion(s: SparkSession, catalog: String, linesIdent: String): Long =
    PendingWindow.sourceVersion(s, catalog, linesIdent, Cdc.kind)

  /** One membership row per (doc, distinct line) — a line repeated
    * WITHIN a doc counts once, matching q206's membership semantics. */
  private[graft] def docLines(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(DedupOps.lineChunksOf(col("text"))).as("line"))
      .distinct()

  /** Build the line table on the source's CURRENT snapshot, record the
    * consumed version. Returns it. */
  def create(s: SparkSession, catalog: String, srcIdent: String,
      linesIdent: String): Long =
    PendingWindow.create(s, catalog, srcIdent, linesIdent, Cdc.kind) {
      s.sql(s"CREATE TABLE $catalog.$linesIdent (line STRING, df BIGINT) " +
        "TBLPROPERTIES ('bloom.columns' = 'line')")
      docLines(s.table(s"$catalog.$srcIdent"))
        .groupBy("line").agg(count(lit(1)).as("df"))
        .writeTo(s"$catalog.$linesIdent").append()
    }

  /** ONE deterministic MERGE commit folds the window's ±1 memberships. */
  private[sources] def applyWindow(s: SparkSession, catalog: String,
      srcRoot: Path, linesIdent: String, from: Long, to: Long): Unit = {
    val (ins, del) =
      PendingWindow.split(s, srcRoot, from, to, "doc_id", Seq("text"))()
    // memberships fully cancelling within the window (delta 0) must not
    // INSERT a zero row nor UPDATE — drop them before the merge
    val deltas = docLines(ins).withColumn("d", lit(1L))
      .unionAll(docLines(del).withColumn("d", lit(-1L)))
      .groupBy("line").agg(sum(col("d")).as("df"))
      .filter(col("df") =!= 0L)
    if (!deltas.isEmpty) {
      val view = "linem_deltas"
      deltas.createOrReplaceTempView(view)
      try s.sql(
        s"""MERGE INTO $catalog.$linesIdent t USING $view s ON t.line = s.line
           |WHEN MATCHED AND t.df + s.df <= 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET df = t.df + s.df
           |WHEN NOT MATCHED AND s.df > 0 THEN INSERT *""".stripMargin)
      finally s.catalog.dropTempView(view)
    }
  }

  /** Fold every source change since the last refresh (appends AND
    * merge-on-read deletes) into the line table. Returns the source
    * version the table now reflects. */
  def refreshCdc(s: SparkSession, catalog: String, srcIdent: String,
      linesIdent: String): Long =
    PendingWindow.refresh(s, catalog, srcIdent, linesIdent, Cdc)(w =>
      applyWindow(s, catalog, w.src, linesIdent, w.from, w.to))
}
