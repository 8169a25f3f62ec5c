package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.{DedupOps, MultimodalOps}

/** Index-MAINTENANCE cost-shape benchmark (round-15 verdict item 7):
  * one create + refresh + delete cycle per maintained index family
  * (set-sim q201, MinHash q209, clusters q213, phash q215) with a
  * FIXED-SIZE refresh window, so the sf10/sf3 ratio separates
  * delta-tracking from corpus-tracking:
  *
  *   - CREATE consumes the corpus minus a fixed 500-doc arrival —
  *     corpus-proportional by design, its ratio should ≈ the data
  *     ratio;
  *   - REFRESH folds exactly those 500 docs at EVERY sf — a protocol
  *     whose refresh reads only the change window should stay ≈ FLAT
  *     across sf (ratio ≈ 1, the window ratio), while one that
  *     re-reads the corpus would scale ≈ the data ratio;
  *   - DELETE retires 2 docs and refreshes — the zero-read equality-
  *     delete path (plus, for clusters, the touched-component
  *     recompute), likewise ≈ flat.
  *
  * Emits one JSON line. Run at sf3 and sf10 and compare — the
  * committed table lives in PERF.md ("Round 16 session").
  *
  * Fixture note: the q-fixture builders interleave arrival strata
  * (%10), plant bridge chains, and pick oracle-visible delete victims —
  * correctness theater this tool deliberately drops. Here the split is
  * doc_id < 500 (fixed absolute arrival) and the delete victims are 2
  * corpus docs; the PROTOCOL calls are the same public maintenance
  * entry points the q-fixtures drive. */
object MaintBench {

  private def timeIt(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local()
    val ns = DedupOps.graftNs(spark, sfDir)

    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val media = MultimodalOps.phashPixelsOf(
      Tables.documents(spark, sfDir).select("doc_id")).localCheckpoint()
    val nDocs = docs.count()

    /** One cycle: create on docs ≥ 500, refresh the fixed 500-doc
      * arrival, delete 2 + refresh. `refreshAfterAppend` lets set-sim
      * use its append-path refresh (the q201 shape). */
    def cycle(fam: String, src: DataFrame,
        schema: String,
        create: (String) => Unit,
        refresh: (String) => Unit): (Double, Double, Double) = {
      val srcT = s"$ns.mb_${fam}_src"
      spark.sql(s"CREATE TABLE graft.$srcT ($schema) " +
        "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
      src.filter(col("doc_id") >= 500).writeTo(s"graft.$srcT").append()
      val cSec = timeIt(create(srcT))
      src.filter(col("doc_id") < 500).writeTo(s"graft.$srcT").append()
      val rSec = timeIt(refresh(srcT))
      spark.sql(s"DELETE FROM graft.$srcT WHERE doc_id IN (600, 601)")
      val dSec = timeIt(refresh(srcT))
      (cSec, rSec, dSec)
    }

    def run(fam: String)(body: => (Double, Double, Double)): (String, (Double, Double, Double)) =
      (fam, try body catch { case e: Throwable =>
        System.err.println(s"MAINT FAIL $fam: ${e.getMessage}"); (-1.0, -1.0, -1.0) })

    val results = Seq(
      run("mh") {
        cycle("mh", docs, "doc_id BIGINT, text STRING",
          srcT => graft.sources.MinHashIndexMaintenance.createIndex(
            spark, "graft", srcT, s"$ns.mb_mh_dig", s"$ns.mb_mh_band"),
          srcT => graft.sources.MinHashIndexMaintenance.refreshCdc(
            spark, "graft", srcT, s"$ns.mb_mh_dig", s"$ns.mb_mh_band"))
      },
      run("ssim") {
        cycle("ssim", docs, "doc_id BIGINT, text STRING",
          srcT => graft.sources.SsimIndexMaintenance.createIndex(
            spark, "graft", srcT, s"$ns.mb_ss_df", s"$ns.mb_ss_pre"),
          srcT => graft.sources.SsimIndexMaintenance.refreshCdc(
            spark, "graft", srcT, s"$ns.mb_ss_df", s"$ns.mb_ss_pre"))
      },
      run("cluster") {
        cycle("cluster", docs, "doc_id BIGINT, text STRING",
          srcT => graft.sources.ClusterIndexMaintenance.createIndex(
            spark, "graft", srcT, s"$ns.mb_cl_lab", s"$ns.mb_cl_edg", s"$ns.mb_cl_bnd"),
          srcT => graft.sources.ClusterIndexMaintenance.refreshCdc(
            spark, "graft", srcT, s"$ns.mb_cl_lab", s"$ns.mb_cl_edg", s"$ns.mb_cl_bnd"))
      },
      run("phash") {
        cycle("phash", media, "doc_id BIGINT, px ARRAY<BIGINT>",
          srcT => { graft.sources.PhashIndexMaintenance.createIndex(
            spark, "graft", srcT, s"$ns.mb_ph_hash", s"$ns.mb_ph_band"); () },
          srcT => { graft.sources.PhashIndexMaintenance.refreshCdc(
            spark, "graft", srcT, s"$ns.mb_ph_hash", s"$ns.mb_ph_band"); () })
      })

    val fams = results.map { case (f, (c, r, d)) =>
      f""""$f":{"create_sec":$c%.2f,"refresh_sec":$r%.2f,"delete_sec":$d%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""MAINT_JSON {"metric":"maintenance","n_docs":$nDocs,"arrival_docs":500,"families":$fams,"sf":"$sfDir"}""")
    spark.stop()
  }
}
