package graft.sources

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Incrementally-maintained materialized views over manifest tables,
  * composed entirely from the engine's own public surfaces:
  *
  *   - the ROW CHANGE FEED ([[PendingWindow.changes]]) yields exactly the
  *     rows changed between two versions, `#rewrite` (OPTIMIZE) versions
  *     contributing nothing — see [[ManifestSink.addedEntries]];
  *   - MERGE INTO folds the delta aggregate into the view (count and
  *     per-column sums are the classic self-maintainable aggregates:
  *     new_state = old_state + delta, no access to history needed);
  *   - the free-form TBLPROPERTIES bag records the view's refresh state
  *     (`mv.source-version`, and `mv.pending-refresh` while a window is
  *     in flight).
  *
  * Scale shape: a refresh reads ONLY the delta files (the spec proves it
  * physically by deleting the already-consumed files first) and touches
  * MV rows only for keys present in the delta (MERGE's runtime group
  * filter rewrites only matched files). At 100 TB with daily appends of
  * 0.1%, refresh cost is proportional to the DAY, not the decade.
  *
  * Exactly-once by [[PendingWindow]]'s single-commit pivot: the MERGE is
  * the window's one commit, so the signed fold is never applied twice —
  * the failure mode the old two-publish design (at-least-once, silent
  * double-count) allowed.
  *
  * Retractions: merge-on-read deletes in the source fold into the view
  * as sign −1 row images and a key whose live count hits zero leaves the
  * view. Copy-on-write rewrites in the window still fail LOUDLY inside
  * the feed — their row diff is not reconstructible, and silently
  * skipping it would corrupt every downstream fold. */
object IncrementalMv {
  private val Refresh = PendingWindow.Protocol("mv", "mv.pending-refresh",
    PendingWindow.SinglePivot)

  /** The view's last-consumed source version (0 = never refreshed). */
  def lastSourceVersion(s: SparkSession, catalog: String, mvIdent: String): Long =
    PendingWindow.sourceVersion(s, catalog, mvIdent, Refresh.kind)

  private[sources] def stagePending(mvRoot: Path, from: Long, to: Long): Unit =
    PendingWindow.stage(mvRoot, Refresh.pending, from, to): Unit

  /** Fold the (from, to] window's signed row change feed into the view.
    * Pure function of durable state — safe to re-run ONLY when the
    * previous attempt provably never committed. */
  private[sources] def applyWindow(s: SparkSession, catalog: String,
      srcRoot: Path, mvIdent: String, keyCols: Seq[String],
      sumCols: Seq[String], from: Long, to: Long): Unit = {
    // the delta: inserted rows fold in with sign +1, merge-on-read
    // DELETED row images with sign -1 (count and sum are
    // self-maintainable under retraction: state' = state + Σ sign·x).
    // Only the delta files (and the delete positions' base files) are
    // ever read.
    val delta = PendingWindow.changes(s, srcRoot, from, to, cdc = true)
      .withColumn("_sign",
        when(col("_change_type") === "delete", lit(-1L)).otherwise(lit(1L)))
    val aggs = sum(col("_sign")).as("n") +:
      sumCols.map(c => sum(col("_sign") * col(c)).as(s"sum_$c"))
    val view = s"mv_delta_${System.nanoTime()}"
    delta.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .createOrReplaceTempView(view)

    // NULL-SAFE key match (<=>): a NULL group key is a real group (SQL
    // GROUP BY treats NULLs as one group), and plain equality would
    // never match it — each refresh would INSERT a fresh NULL-key row
    // and retractions could never find it, diverging from the full
    // recompute on any nullable key column.
    val on = keyCols.map(k => s"t.$k <=> s.$k").mkString(" AND ")
    val updates = ("n = t.n + s.n" +:
      sumCols.map(c => s"sum_$c = t.sum_$c + s.sum_$c")).mkString(", ")
    // a key whose live count reaches zero leaves (or never enters) the
    // view — retractions must not strand n=0 tombstones, and a key
    // whose inserts and deletes fully cancel WITHIN one window must not
    // be inserted as one (the full recompute would not produce it)
    try s.sql(
      s"""MERGE INTO $catalog.$mvIdent t USING $view s ON $on
         |WHEN MATCHED AND t.n + s.n = 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET $updates
         |WHEN NOT MATCHED AND s.n != 0 THEN INSERT *""".stripMargin)
    finally s.catalog.dropTempView(view)
  }

  /** Refresh `mvIdent` (schema: keyCols, n BIGINT, sum_<c> per sumCol)
    * from the rows `srcIdent` changed since the last refresh. Returns
    * the source version the view now reflects; a no-op (source
    * unchanged) returns it without committing anything. */
  def refresh(s: SparkSession, catalog: String, srcIdent: String,
      mvIdent: String, keyCols: Seq[String], sumCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "an aggregate view needs at least one key column")
    PendingWindow.refresh(s, catalog, srcIdent, mvIdent, Refresh)(w =>
      applyWindow(s, catalog, w.src, mvIdent, keyCols, sumCols, w.from, w.to))
  }
}
