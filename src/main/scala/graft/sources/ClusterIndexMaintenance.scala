package graft.sources

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.DedupOps

/** Dedup CLUSTER LABELS at rest, maintained through the source's change
  * feed INCLUDING DELETES — the family matrix's last asymmetry: q210
  * folds arriving batches into standing labels, but its standing state
  * is a session memo and min-propagation structurally cannot UNDO a
  * merge when a CDC delete retires a bridge document (a split cluster
  * needs its touched components recomputed from surviving edges). This
  * object persists THREE manifest tables and maintains them exactly:
  *
  *   - `bands`  (band, doc_id): the corpus LSH band keys (the
  *     [[MinHashIndexMaintenance.bandRows]] layout — one string key,
  *     sort-clustered + bloomed), candidate generation for appends;
  *   - `edges`  (doc_a, doc_b): the VERIFIED near-dup pairs (exact
  *     Jaccard ≥ 0.5 over 3-shingles) — the ground truth a delete-time
  *     recompute reads; sort-clustered on doc_a (per-file int min/max
  *     stats prune both endpoint probes);
  *   - `labels` (doc_id, rep): one row per source doc, rep = the
  *     connected component's minimum doc_id (q150's labeling), rep for
  *     a singleton = itself; sort-clustered on rep so the touched-
  *     component member scan — the refresh path's largest read — prunes
  *     to the touched files (doc_id point lookups prune via the same
  *     files' doc_id min/max stats: components cluster near their rep).
  *
  * REFRESH is touched-components-only, for appends AND deletes:
  *
  *   1. new edges: the window's inserts band-join themselves and probe
  *      the band table (batch×batch + batch×standing — NEVER
  *      corpus×corpus, q210's decomposition), verification fetches only
  *      candidate-touched docs;
  *   2. touched reps R = the standing endpoints of new edges plus the
  *      deleted docs' labels (point lookups against the PINNED
  *      pre-window labels snapshot);
  *   3. members M = labels rows with rep ∈ R, plus the window's
  *      inserts, minus its deletes;
  *   4. the touched components' labels are RECOMPUTED from the
  *      surviving edge rows restricted to M (min-propagation from
  *      scratch on that subgraph) — recompute-from-edges is the only
  *      fold that is exact under BOTH merge and split; untouched
  *      components never enter the computation (structurally: the
  *      rewrite's key set is M, derived from R);
  *   5. the labels table is rewritten for exactly M ∪ deletes: one
  *      equality delete keyed by doc_id (zero base-file reads), then
  *      one append of the recomputed rows.
  *
  * Exactly-once by [[PendingWindow]]'s scrub-and-re-apply rule, with the
  * marker on the labels table. The marker's own commit version vA
  * doubles as the PIN: a marker commit is metadata-only, so labels@vA IS
  * the pre-window snapshot, and every derived set (R, M, the rewrite's
  * delete keys) is a pure function of that immutable snapshot plus the
  * window — recovery recomputes them bit-identically. The scrub
  * equality-deletes the window's INSERT keys from bands and both edge
  * endpoints (erasing whatever partial append landed); the labels
  * rewrite needs no special scrub because its delete-keys-then-append
  * is already deterministic-destructive — the recomputed delete key set
  * covers every row a partial prior attempt could have appended
  * (appended rows all have doc_id ∈ M ∪ inserts), and Iceberg v2
  * sequencing keeps the delete off the append that follows it.
  *
  * Scale shape: refresh I/O is delta + touched-components only; the
  * only corpus-proportional work is the initial create (one LSH pass,
  * the price of any index build). Key lists stream through
  * [[PendingWindow.chunkedEqDelete]] — the Spark driver never holds
  * more than one sorted partition of keys. The documented bound: a
  * single refresh window's touched-member set M is assumed to fit one
  * equality-delete sidecar family (~1e8 keys); a churn event touching
  * more than that should be split into narrower windows. */
object ClusterIndexMaintenance {
  private val Cdc = PendingWindow.Protocol("cl", "cl.pending-cdc",
    PendingWindow.ScrubReapply)

  def lastSourceVersion(s: SparkSession, catalog: String, labIdent: String): Long =
    PendingWindow.sourceVersion(s, catalog, labIdent, Cdc.kind)

  /** Verified near-dup edges (exact Jaccard ≥ 0.5) between `probe` docs
    * and band-table docs, texts for the standing side fetched
    * candidate-bounded from `standingDocs`. Pairs are oriented
    * (doc_a < doc_b) and distinct.
    *
    * CONTRACT: the probe's own band rows must already be IN the band
    * table (applyWindowCdc appends them in step 1 — and the scrub path
    * re-appends before re-entering). The probe×table join then yields
    * the probe×probe candidates too (both endpoints are table rows, the
    * least/greatest orientation folds the two occurrences), so the
    * probe×probe self-join the earlier shape unioned in produced ONLY
    * duplicates for its one caller — a second join plus double the
    * distinct's input for nothing. */
  private def newEdgesOf(s: SparkSession, probe: DataFrame,
      standingDocs: DataFrame, bandIdent: String): DataFrame = {
    val pBands = MinHashIndexMaintenance.bandRows(probe).localCheckpoint()
    val cand = pBands.as("a")
      .join(s.table(bandIdent).as("b"), col("a.band") === col("b.band"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct().localCheckpoint()
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // the source snapshot already contains the window's inserted rows
    // (their append committed before the refresh), so the standing side
    // must exclude the probe's ids — otherwise every probe-touching edge
    // verifies against two copies of the text and lands twice
    val texts = DedupOps.joinIds(
      probe.select(col("doc_id"), col("text"))
        .unionByName(standingDocs.select(col("doc_id"), col("text"))
          .join(broadcast(probe.select("doc_id")), Seq("doc_id"), "left_anti")),
      candIds, "doc_id")
      .select(col("doc_id"),
        graft.plans.ShinglesExpr.shinglesNative(col("text"), DedupOps.ShingleN)
          .as("sh"))
      .localCheckpoint()
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val uni = size(col("sh_a")) + size(col("sh_b")) - inter
    cand
      .join(texts.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(texts.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .filter(inter * lit(2) >= uni)
      .select("doc_a", "doc_b")
  }

  /** Build all three index tables on the source's CURRENT snapshot,
    * record the consumed version. Returns it.
    *
    * `knownEdges`: the snapshot's verified near-dup pair set, when the
    * caller already holds it at rest or staged (pairs over a doc SET
    * restrict exactly: band keys are doc-local and verification is
    * pairwise, so pairs(S) = pairs(corpus) ∩ S×S). The default
    * recomputes the LSH+verify pass from the snapshot — the price of a
    * cold create. */
  def createIndex(s: SparkSession, catalog: String, srcIdent: String,
      labIdent: String, edgeIdent: String, bandIdent: String,
      knownEdges: Option[DataFrame] = None): Long =
    PendingWindow.create(s, catalog, srcIdent, labIdent, Cdc.kind) {
      s.sql(s"CREATE TABLE $catalog.$bandIdent (band STRING, doc_id BIGINT) " +
        "TBLPROPERTIES ('write.sort-by' = 'band', 'bloom.columns' = 'band')")
      s.sql(s"CREATE TABLE $catalog.$edgeIdent (doc_a BIGINT, doc_b BIGINT) " +
        "TBLPROPERTIES ('write.sort-by' = 'doc_a')")
      s.sql(s"CREATE TABLE $catalog.$labIdent (doc_id BIGINT, rep BIGINT) " +
        "TBLPROPERTIES ('write.sort-by' = 'rep')")
      val snap = s.table(s"$catalog.$srcIdent")
        .select(col("doc_id"), col("text")).localCheckpoint()
      MinHashIndexMaintenance.bandRows(snap).writeTo(s"$catalog.$bandIdent").append()
      val edges = knownEdges.getOrElse(DedupOps.nearDupPairsOf(snap)._1)
        .select("doc_a", "doc_b").localCheckpoint()
      edges.writeTo(s"$catalog.$edgeIdent").append()
      DedupOps.labelsFor(snap.select("doc_id"), edges)
        .writeTo(s"$catalog.$labIdent").append()
    }

  /** Labels pinned to the marker's own commit version — metadata-only,
    * so this IS the pre-window snapshot every derived key set must be a
    * pure function of (see the object doc's exactly-once argument). */
  private def labelsAt(s: SparkSession, labRoot: Path, v: Long): DataFrame =
    s.read.format("graft.sources.ManifestSink")
      .option("path", labRoot.toString)
      .option("versionAsOf", v.toString)
      .load()

  /** Apply one window (see the object doc's five steps). `vPin` is the
    * pending marker's commit version on the labels table. */
  private[sources] def applyWindowCdc(s: SparkSession, catalog: String,
      srcRoot: Path, labIdent: String, edgeIdent: String, bandIdent: String,
      from: Long, to: Long, vPin: Long, scrub: Boolean = false): Unit = {
    val Seq(labRoot, edgeRoot, bandRoot) = Seq(labIdent, edgeIdent, bandIdent)
      .map(PendingWindow.tableRoot(s, catalog, _))
    val (ins, dels) = PendingWindow.split(s, srcRoot, from, to, "doc_id",
        Seq("text")) { (i, d) =>
      val keys = d.select("doc_id").distinct().localCheckpoint()
      (i.localCheckpoint(), keys)
    }
    if (scrub) {
      // erase whatever partial prior attempt landed: the window's edge
      // appends all touch an inserted doc, its band appends are keyed by
      // inserted doc_id (labels need no scrub — the rewrite below is
      // deterministic-destructive over its recomputed key set)
      val insKeys = ins.select("doc_id")
      PendingWindow.chunkedEqDelete(insKeys, "doc_id", Seq(bandRoot))
      PendingWindow.chunkedEqDelete(
        insKeys.toDF("doc_a"), "doc_a", Seq(edgeRoot))
      PendingWindow.chunkedEqDelete(
        insKeys.toDF("doc_b"), "doc_b", Seq(edgeRoot))
    }
    // 1. bands: append inserts, retire deletes
    if (!ins.isEmpty) {
      MinHashIndexMaintenance.bandRows(ins).writeTo(s"$catalog.$bandIdent").append()
    }
    PendingWindow.chunkedEqDelete(dels, "doc_id", Seq(bandRoot))
    // 2. new edges (batch×batch + batch×standing), deletes excluded
    val newEdges =
      if (ins.isEmpty)
        // delete-only window: checkpoint the empty frame too, so the
        // touchedIds union below does not re-run the CDC window read
        ins.select(col("doc_id").as("doc_a"), col("doc_id").as("doc_b"))
          .localCheckpoint()
      else newEdgesOf(s, ins,
          s.read.format("graft.sources.ManifestSink")
            .option("path", srcRoot.toString).load()
            .select(col("doc_id"), col("text")),
          s"$catalog.$bandIdent")
        .join(dels.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti")
        .join(dels.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_anti")
        .select("doc_a", "doc_b").localCheckpoint()
    if (!newEdges.isEmpty) {
      newEdges.writeTo(s"$catalog.$edgeIdent").append()
    }
    PendingWindow.chunkedEqDelete(
      dels.toDF("doc_a"), "doc_a", Seq(edgeRoot))
    PendingWindow.chunkedEqDelete(
      dels.toDF("doc_b"), "doc_b", Seq(edgeRoot))
    // 3. touched reps: standing endpoints of new edges + deleted docs,
    //    looked up against the PINNED pre-window labels
    val lab0 = labelsAt(s, labRoot, vPin)
    val insIds = ins.select("doc_id")
    val touchedIds = newEdges.select(col("doc_a").as("doc_id"))
      .union(newEdges.select(col("doc_b").as("doc_id")))
      .join(insIds, Seq("doc_id"), "left_anti") // batch docs have no standing rep
      .union(dels)
      .distinct()
    val touchedReps = DedupOps.joinIds(lab0, touchedIds, "doc_id")
      .select("rep").distinct().localCheckpoint()
    // 4. members of touched components (pre-window), minus deletes,
    //    plus the window's inserts
    val members0 = DedupOps.joinIds(lab0, touchedReps, "rep")
      .select("doc_id").localCheckpoint()
    val members = members0.join(dels, Seq("doc_id"), "left_anti")
      .union(insIds).distinct().localCheckpoint()
    // 5. recompute the touched components from surviving edges; rewrite
    //    labels for exactly (pre-window members ∪ inserts ∪ deletes)
    val touchedEdges = DedupOps.joinIds(DedupOps.joinIds(
        s.table(s"$catalog.$edgeIdent"), members.toDF("doc_a"), "doc_a"),
      members.toDF("doc_b"), "doc_b")
      .select("doc_a", "doc_b")
    val newLabels = DedupOps.labelsFor(members, touchedEdges).localCheckpoint()
    PendingWindow.chunkedEqDelete(
      members0.union(insIds).union(dels), "doc_id", Seq(labRoot))
    if (!newLabels.isEmpty) {
      newLabels.writeTo(s"$catalog.$labIdent").append()
    }
  }

  /** Refresh the cluster index from the rows changed since the last
    * refresh. Returns the source version the index now reflects. */
  def refreshCdc(s: SparkSession, catalog: String, srcIdent: String,
      labIdent: String, edgeIdent: String, bandIdent: String): Long =
    PendingWindow.refresh(s, catalog, srcIdent, labIdent, Cdc)(w =>
      applyWindowCdc(s, catalog, w.src, labIdent, edgeIdent, bandIdent,
        w.from, w.to, w.vA, w.scrub))
}
