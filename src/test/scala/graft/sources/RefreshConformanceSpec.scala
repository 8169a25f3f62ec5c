package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupOps, IvfPqOps, PqOps}

/** Crash-recovery conformance of the refresh-window protocol
  * ([[PendingWindow]]) for every maintained kind and every entry point.
  *
  * Each case builds its tables over a base snapshot, changes the source
  * by one window (the CDC entry points see inserts AND deletes), and then
  * leaves the state a refresh killed at one point of the protocol leaves:
  *
  *   - `stage`: the pending marker is durable, nothing is applied;
  *   - `apply`: the whole apply landed, finalize did not;
  *   - `first-commit` (applies that commit more than once): only the
  *     apply's first commit landed, built by hand from the kind's own row
  *     functions.
  *
  * The next call of the entry point must roll the window forward exactly
  * once: the marker is gone, the source-version pointer names the
  * window's end, a replay commits nothing, and the tables equal a cold
  * build over the same source snapshot. Kinds whose create freezes a
  * statistic (Ann's codebooks, Ssim's df order) are compared with a cold
  * build under that frozen statistic; a cold `createIndex` would retrain
  * it. */
class RefreshConformanceSpec extends AnyFunSuite {
  import graft.TestSpark.spark
  import spark.implicits._

  private val Cat = "rccat"
  private val wh: Path = {
    val p = Files.createTempDirectory("graft-rconf")
    p.toFile.deleteOnExit()
    spark.conf.set("spark.sql.catalog.rccat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.rccat.warehouse", p.toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.db")
    p
  }
  private def root(t: String): Path = wh.resolve("db").resolve(t)
  private def id(t: String) = s"db.$t"
  private def fq(t: String) = s"$Cat.db.$t"

  /** A table's rows as a sorted multiset: a window applied twice shows
    * as duplicate rows, which a set would hide. */
  private def rows(df: DataFrame, label: String = ""): Seq[String] =
    df.collect().map(r => label + r.toSeq.map {
      case s: Seq[_] => s.mkString(",")
      case x => String.valueOf(x)
    }.mkString("|")).toSeq.sorted
  private def table(t: String, label: String = ""): Seq[String] =
    rows(spark.table(fq(t)), label)

  private def words(p: String, n: Int) =
    (1 to n).map(i => f"$p$i%02d").mkString(" ")
  private def docs(ds: (Long, String)*): DataFrame = ds.toDF("doc_id", "text")
  private def createDocs(t: String, mor: Boolean): Unit =
    spark.sql(s"CREATE TABLE ${fq(t)} (doc_id BIGINT, text STRING)" +
      (if (mor) " TBLPROPERTIES ('delete.mode' = 'merge-on-read')" else ""))
  private def snapshot(src: String, v: Long): DataFrame =
    spark.read.format("graft.sources.ManifestSink")
      .option("path", root(src).toString)
      .option("versionAsOf", v.toString)
      .load()

  /** One refresh entry point. Every table of a scenario carries the
    * scenario's tag; the source is always `src_<tag>`. `full`/`first`
    * receive (tag, from, to, vA) of the staged window. */
  private case class Case(
      name: String,
      kind: String,
      marker: String,
      pending: String,
      build: String => Unit,
      change: String => Unit,
      refresh: String => Unit,
      full: (String, Long, Long, Long) => Unit,
      first: Option[(String, Long, Long, Long) => Unit],
      state: String => Seq[String],
      cold: String => Seq[String],
      reindex: Boolean = false)

  // ---- IncrementalMv.refresh: single-commit pivot --------------------------

  private val mv = {
    def create(t: String, src: String): Unit = {
      spark.sql(s"CREATE TABLE ${fq(t)} (k BIGINT, n BIGINT, sum_v BIGINT)")
      IncrementalMv.refresh(spark, Cat, id(src), id(t), Seq("k"), Seq("v"))
    }
    Case("IncrementalMv.refresh", "mv", "mv", "mv.pending-refresh",
      build = tag => {
        spark.sql(s"CREATE TABLE ${fq(s"src_$tag")} (k BIGINT, v BIGINT) " +
          "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
        (0L until 10L).map(i => (i % 3, i)).toDF("k", "v")
          .writeTo(fq(s"src_$tag")).append()
        create(s"mv_$tag", s"src_$tag")
      },
      change = tag => {
        (10L until 15L).map(i => (i % 4, i)).toDF("k", "v")
          .writeTo(fq(s"src_$tag")).append()
        spark.sql(s"DELETE FROM ${fq(s"src_$tag")} WHERE v IN (2, 5)")
      },
      refresh = tag => IncrementalMv.refresh(spark, Cat, id(s"src_$tag"),
        id(s"mv_$tag"), Seq("k"), Seq("v")),
      full = (tag, from, to, _) => IncrementalMv.applyWindow(spark, Cat,
        root(s"src_$tag"), id(s"mv_$tag"), Seq("k"), Seq("v"), from, to),
      first = None,
      state = tag => table(s"mv_$tag"),
      cold = tag => { create(s"ref_$tag", s"src_$tag"); table(s"ref_$tag") })
  }

  // ---- PostingsMaintenance.refresh: single-commit pivot + constants --------

  private val postings = {
    def stateOf(t: String): Seq[String] = {
      val p = ManifestSink.readHeader(root(t)).props
      table(t) :+ s"n-docs=${p.get("bm25.n-docs")}" :+
        s"sum-dl=${p.get("bm25.sum-dl")}"
    }
    def create(t: String, src: String): Unit = {
      PostingsMaintenance.createPostingsTable(spark, Cat, id(t))
      PostingsMaintenance.refresh(spark, Cat, id(src), id(t))
    }
    Case("PostingsMaintenance.refresh", "postings", "post", "postings.pending",
      build = tag => {
        createDocs(s"src_$tag", mor = false)
        docs(1L -> "a b c a", 2L -> "b d", 3L -> "e f g")
          .writeTo(fq(s"src_$tag")).append()
        create(s"post_$tag", s"src_$tag")
      },
      change = tag => docs(4L -> "a e h", 5L -> "h h i")
        .writeTo(fq(s"src_$tag")).append(),
      refresh = tag => PostingsMaintenance.refresh(spark, Cat,
        id(s"src_$tag"), id(s"post_$tag")),
      full = (tag, from, to, _) => PostingsMaintenance.applyWindow(spark, Cat,
        root(s"src_$tag"), id(s"post_$tag"), from, to): Unit,
      first = None,
      state = tag => stateOf(s"post_$tag"),
      cold = tag => { create(s"ref_$tag", s"src_$tag"); stateOf(s"ref_$tag") })
  }

  // ---- AnnIndexMaintenance: refresh (pivot) and refreshCdc (counting) ------

  private def vecs(ids: Range): DataFrame =
    ids.map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, List.fill(64)((r.nextFloat() - 0.5f) * 1.6f))
    }.toDF("vec_id", "embedding")

  /** Codes of `emb` under the index's frozen codebooks. */
  private def annEncode(idx: String, emb: DataFrame): DataFrame =
    IvfPqOps.freshEncode(emb, spark.table(fq(s"${idx}_coarse")),
      spark.table(fq(s"${idx}_pqc")), PqOps.M, PqOps.SubDim)

  private def annCase(cdc: Boolean): Case = {
    val arriving = 20 until 26
    Case(s"AnnIndexMaintenance.${if (cdc) "refreshCdc" else "refresh"}", "ann",
      "idx", if (cdc) "ann.pending-cdc" else "ann.pending",
      build = tag => {
        spark.sql(s"CREATE TABLE ${fq(s"src_$tag")} " +
          "(vec_id BIGINT, embedding ARRAY<FLOAT>)" +
          (if (cdc) " TBLPROPERTIES ('delete.mode' = 'merge-on-read')" else ""))
        vecs(0 until 20).writeTo(fq(s"src_$tag")).append()
        AnnIndexMaintenance.createIndex(spark, Cat, id(s"src_$tag"), id(s"idx_$tag"))
      },
      change = tag => {
        vecs(arriving).writeTo(fq(s"src_$tag")).append()
        if (cdc) spark.sql(s"DELETE FROM ${fq(s"src_$tag")} WHERE vec_id IN (3, 7)")
      },
      refresh = tag =>
        if (cdc) AnnIndexMaintenance.refreshCdc(spark, Cat, id(s"src_$tag"), id(s"idx_$tag"))
        else AnnIndexMaintenance.refresh(spark, Cat, id(s"src_$tag"), id(s"idx_$tag")),
      full = (tag, from, to, _) =>
        if (cdc) AnnIndexMaintenance.applyWindowCdc(spark, Cat, root(s"src_$tag"),
          root(s"idx_$tag"), id(s"idx_$tag"), from, to): Unit
        else AnnIndexMaintenance.applyWindow(spark, Cat, root(s"src_$tag"),
          id(s"idx_$tag"), from, to),
      // the counting apply's first commit: the inserts' codes
      first = if (!cdc) None else Some((tag, _, _, _) =>
        annEncode(s"idx_$tag", vecs(arriving)).writeTo(fq(s"idx_$tag")).append()),
      state = tag => table(s"idx_$tag"),
      cold = tag => rows(annEncode(s"idx_$tag", spark.table(fq(s"src_$tag")))))
  }

  // ---- SsimIndexMaintenance: refresh, refreshCdc and reindex ---------------

  private val ssimBase = Seq(1L -> words("g", 20), 2L -> words("h", 12),
    3L -> words("k", 15))
  private val ssimArriving = docs(4L -> (words("g", 19) + " gz99"),
    5L -> words("m", 15))

  private def dfStats(snap: DataFrame): DataFrame =
    SsimIndexMaintenance.docTokens(snap).groupBy("token")
      .agg(count(lit(1)).as("df"))
  /** Prefixes of `snap` under the df order stored in `df`. */
  private def frozenPrefixes(df: String, snap: DataFrame): DataFrame =
    DedupOps.prefixTokens(DedupOps.dfLookupFrozen(spark,
        SsimIndexMaintenance.docTokens(snap), fq(df)),
      DedupOps.SsimIndexBuildTBp)
      .select(col("token"), col("doc_id"), col("m"))
  private def rebuiltPrefixes(df: String, snap: DataFrame): DataFrame =
    DedupOps.prefixTokens(
        SsimIndexMaintenance.docTokens(snap).join(spark.table(fq(df)), "token"),
        DedupOps.SsimIndexBuildTBp)
      .select(col("token"), col("doc_id"), col("m"))

  private def ssimCase(mode: String): Case = {
    val cdc = mode != "refresh"
    val pending = mode match {
      case "refresh" => "ssim.pending"
      case "refreshCdc" => "ssim.pending-cdc"
      case _ => "ssim.pending-reindex"
    }
    def refresh(tag: String): Unit = {
      val (src, df, pre) = (id(s"src_$tag"), id(s"df_$tag"), id(s"pre_$tag"))
      mode match {
        case "refresh" => SsimIndexMaintenance.refresh(spark, Cat, src, df, pre)
        case "refreshCdc" => SsimIndexMaintenance.refreshCdc(spark, Cat, src, df, pre)
        case _ => SsimIndexMaintenance.reindex(spark, Cat, src, df, pre)
      }
    }
    def stateOf(df: String, pre: String) = table(df, "df|") ++ table(pre, "pre|")
    Case(s"SsimIndexMaintenance.$mode", "ssim", "pre", pending,
      build = tag => {
        createDocs(s"src_$tag", mor = cdc)
        docs(ssimBase: _*).writeTo(fq(s"src_$tag")).append()
        SsimIndexMaintenance.createIndex(spark, Cat, id(s"src_$tag"),
          id(s"df_$tag"), id(s"pre_$tag"))
      },
      change = tag => {
        ssimArriving.writeTo(fq(s"src_$tag")).append()
        if (cdc) spark.sql(s"DELETE FROM ${fq(s"src_$tag")} WHERE doc_id = 2")
      },
      refresh = refresh,
      full = (tag, from, to, _) => mode match {
        case "refresh" => SsimIndexMaintenance.applyWindow(spark, Cat,
          root(s"src_$tag"), id(s"df_$tag"), id(s"pre_$tag"), from, to)
        case "refreshCdc" => SsimIndexMaintenance.applyWindowCdc(spark, Cat,
          root(s"src_$tag"), root(s"pre_$tag"), id(s"df_$tag"), id(s"pre_$tag"),
          from, to): Unit
        case _ =>
          val snap = snapshot(s"src_$tag", to).select("doc_id", "text")
          dfStats(snap).writeTo(fq(s"df_$tag")).overwrite(lit(true))
          rebuiltPrefixes(s"df_$tag", snap).writeTo(fq(s"pre_$tag")).overwrite(lit(true))
      },
      first = mode match {
        case "refresh" => None
        // the counting apply's first commit: the inserts' prefixes
        case "refreshCdc" => Some((tag, _, _, _) =>
          frozenPrefixes(s"df_$tag", ssimArriving).writeTo(fq(s"pre_$tag")).append())
        // the reindex's first overwrite: the df statistic
        case _ => Some((tag, _, to, _) =>
          dfStats(snapshot(s"src_$tag", to).select("doc_id", "text"))
            .writeTo(fq(s"df_$tag")).overwrite(lit(true)))
      },
      state = tag => stateOf(s"df_$tag", s"pre_$tag"),
      cold = tag =>
        if (mode == "reindex") {
          SsimIndexMaintenance.createIndex(spark, Cat, id(s"src_$tag"),
            id(s"rdf_$tag"), id(s"rpre_$tag"))
          stateOf(s"rdf_$tag", s"rpre_$tag")
        } else
          rows(dfStats(docs(ssimBase: _*)), "df|") ++
            rows(frozenPrefixes(s"df_$tag", spark.table(fq(s"src_$tag"))), "pre|"),
      reindex = mode == "reindex")
  }

  // ---- LineTableMaintenance.refreshCdc: single-commit pivot ----------------

  private val lineTable = {
    val (lx, ly, lz, lw) =
      (words("x", 10), words("y", 10), words("z", 10), words("w", 10))
    Case("LineTableMaintenance.refreshCdc", "linem", "lines", "linem.pending",
      build = tag => {
        createDocs(s"src_$tag", mor = true)
        docs(1L -> s"$lx $ly", 2L -> s"$lx $lz").writeTo(fq(s"src_$tag")).append()
        LineTableMaintenance.create(spark, Cat, id(s"src_$tag"), id(s"lines_$tag"))
      },
      change = tag => {
        docs(3L -> s"$lx $lw", 4L -> s"$ly $lw").writeTo(fq(s"src_$tag")).append()
        spark.sql(s"DELETE FROM ${fq(s"src_$tag")} WHERE doc_id = 2")
      },
      refresh = tag => LineTableMaintenance.refreshCdc(spark, Cat,
        id(s"src_$tag"), id(s"lines_$tag")),
      full = (tag, from, to, _) => LineTableMaintenance.applyWindow(spark, Cat,
        root(s"src_$tag"), id(s"lines_$tag"), from, to),
      first = None,
      state = tag => table(s"lines_$tag"),
      cold = tag => {
        LineTableMaintenance.create(spark, Cat, id(s"src_$tag"), id(s"ref_$tag"))
        table(s"ref_$tag")
      })
  }

  // ---- MinHash / Phash / Cluster refreshCdc: scrub and re-apply ------------

  private val minHash = {
    val arriving = docs(4L -> (words("d", 19) + " dz99"), 5L -> words("e", 14))
    def stateOf(dig: String, band: String) = table(dig, "dig|") ++ table(band, "band|")
    Case("MinHashIndexMaintenance.refreshCdc", "mh", "band", "mh.pending-cdc",
      build = tag => {
        createDocs(s"src_$tag", mor = true)
        docs(1L -> words("c", 20), 2L -> (words("c", 19) + " cz99"),
          3L -> words("d", 20)).writeTo(fq(s"src_$tag")).append()
        MinHashIndexMaintenance.createIndex(spark, Cat, id(s"src_$tag"),
          id(s"dig_$tag"), id(s"band_$tag"))
      },
      change = tag => {
        arriving.writeTo(fq(s"src_$tag")).append()
        spark.sql(s"DELETE FROM ${fq(s"src_$tag")} WHERE doc_id = 2")
      },
      refresh = tag => MinHashIndexMaintenance.refreshCdc(spark, Cat,
        id(s"src_$tag"), id(s"dig_$tag"), id(s"band_$tag")),
      full = (tag, from, to, _) => MinHashIndexMaintenance.applyWindowCdc(spark,
        Cat, root(s"src_$tag"), id(s"dig_$tag"), id(s"band_$tag"), from, to),
      // the apply's first commit: the inserts' digest rows
      first = Some((tag, _, _, _) => MinHashIndexMaintenance.digestRows(arriving)
        .writeTo(fq(s"dig_$tag")).append()),
      state = tag => stateOf(s"dig_$tag", s"band_$tag"),
      cold = tag => {
        MinHashIndexMaintenance.createIndex(spark, Cat, id(s"src_$tag"),
          id(s"rdig_$tag"), id(s"rband_$tag"))
        stateOf(s"rdig_$tag", s"rband_$tag")
      })
  }

  private val phash = {
    def scene(k: Long, tweak: Int = 0): Seq[Long] =
      (0 until 64).map(i =>
        ((k * 131 + i * 17) % 89) * 3 + (if (i == 5) tweak else 0): Long)
    val arriving = Seq(2L -> scene(1, tweak = 2), 30L -> scene(30))
      .toDF("doc_id", "px")
    def stateOf(hash: String, band: String) = table(hash, "hash|") ++ table(band, "band|")
    Case("PhashIndexMaintenance.refreshCdc", "ph", "band", "ph.pending-cdc",
      build = tag => {
        spark.sql(s"CREATE TABLE ${fq(s"src_$tag")} (doc_id BIGINT, px ARRAY<BIGINT>) " +
          "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
        Seq(1L -> scene(1), 4L -> scene(4), 7L -> scene(7)).toDF("doc_id", "px")
          .writeTo(fq(s"src_$tag")).append()
        PhashIndexMaintenance.createIndex(spark, Cat, id(s"src_$tag"),
          id(s"hash_$tag"), id(s"band_$tag"))
      },
      change = tag => {
        arriving.writeTo(fq(s"src_$tag")).append()
        spark.sql(s"DELETE FROM ${fq(s"src_$tag")} WHERE doc_id = 4")
      },
      refresh = tag => PhashIndexMaintenance.refreshCdc(spark, Cat,
        id(s"src_$tag"), id(s"hash_$tag"), id(s"band_$tag")),
      full = (tag, from, to, _) => PhashIndexMaintenance.applyWindowCdc(spark,
        Cat, root(s"src_$tag"), id(s"hash_$tag"), id(s"band_$tag"), from, to),
      // the apply's first commit: the inserts' hash rows
      first = Some((tag, _, _, _) => PhashIndexMaintenance.hashRows(arriving)
        .writeTo(fq(s"hash_$tag")).append()),
      state = tag => stateOf(s"hash_$tag", s"band_$tag"),
      cold = tag => {
        PhashIndexMaintenance.createIndex(spark, Cat, id(s"src_$tag"),
          id(s"rhash_$tag"), id(s"rband_$tag"))
        stateOf(s"rhash_$tag", s"rband_$tag")
      })
  }

  private val cluster = {
    // a near-dup joining the c-component, a fresh singleton; the window
    // also deletes one member of the d-component (a split)
    val arriving = docs(3L -> (words("c", 19) + " cy88"), 10L -> words("k", 15))
    def stateOf(lab: String, edg: String, bnd: String) =
      table(lab, "lab|") ++ table(edg, "edg|") ++ table(bnd, "bnd|")
    Case("ClusterIndexMaintenance.refreshCdc", "cl", "lab", "cl.pending-cdc",
      build = tag => {
        createDocs(s"src_$tag", mor = true)
        docs(1L -> words("c", 20), 2L -> (words("c", 19) + " cz99"),
          5L -> words("d", 20), 6L -> (words("d", 19) + " dz99"),
          9L -> words("z", 12)).writeTo(fq(s"src_$tag")).append()
        ClusterIndexMaintenance.createIndex(spark, Cat, id(s"src_$tag"),
          id(s"lab_$tag"), id(s"edg_$tag"), id(s"bnd_$tag"))
      },
      change = tag => {
        arriving.writeTo(fq(s"src_$tag")).append()
        spark.sql(s"DELETE FROM ${fq(s"src_$tag")} WHERE doc_id = 5")
      },
      refresh = tag => ClusterIndexMaintenance.refreshCdc(spark, Cat,
        id(s"src_$tag"), id(s"lab_$tag"), id(s"edg_$tag"), id(s"bnd_$tag")),
      full = (tag, from, to, vA) => ClusterIndexMaintenance.applyWindowCdc(spark,
        Cat, root(s"src_$tag"), id(s"lab_$tag"), id(s"edg_$tag"),
        id(s"bnd_$tag"), from, to, vA),
      // the apply's first commit: the inserts' band rows
      first = Some((tag, _, _, _) => MinHashIndexMaintenance.bandRows(arriving)
        .writeTo(fq(s"bnd_$tag")).append()),
      state = tag => stateOf(s"lab_$tag", s"edg_$tag", s"bnd_$tag"),
      cold = tag => {
        ClusterIndexMaintenance.createIndex(spark, Cat, id(s"src_$tag"),
          id(s"rlab_$tag"), id(s"redg_$tag"), id(s"rbnd_$tag"))
        stateOf(s"rlab_$tag", s"redg_$tag", s"rbnd_$tag")
      })
  }

  private val cases = Seq(mv, postings, annCase(cdc = false), annCase(cdc = true),
    ssimCase("refresh"), ssimCase("refreshCdc"), ssimCase("reindex"),
    lineTable, minHash, phash, cluster)

  private var scenario = 0
  for (c <- cases; crash <- Seq("stage", "apply", "first-commit")
       if crash != "first-commit" || c.first.isDefined) {
    scenario += 1
    val tag = s"s$scenario"
    test(s"${c.name}: a crash after $crash rolls forward to the cold build") {
      c.build(tag)
      c.change(tag)
      val stateRoot = root(s"${c.marker}_$tag")
      val to = ManifestSink.currentVersion(root(s"src_$tag"))
      val from = if (c.reindex) 0L
        else ManifestSink.readHeader(stateRoot).props(s"${c.kind}.source-version").toLong
      assert(to > from, "the window must carry source changes")
      val vA = PendingWindow.stage(stateRoot, c.pending, from, to)
      crash match {
        case "stage" => ()
        case "apply" => c.full(tag, from, to, vA)
        case _ => c.first.get(tag, from, to, vA)
      }
      c.refresh(tag)
      val props = ManifestSink.readHeader(stateRoot).props
      assert(!props.contains(c.pending), "recovery must clear the marker")
      assert(props.get(s"${c.kind}.source-version").contains(to.toString))
      val got = c.state(tag).sorted
      val want = c.cold(tag).sorted
      assert(got == want,
        s"recovered tables differ from the cold build: extra ${got.diff(want)}, " +
          s"missing ${want.diff(got)}")
      if (!c.reindex) {
        val v = ManifestSink.currentVersion(stateRoot)
        c.refresh(tag)
        assert(ManifestSink.currentVersion(stateRoot) == v, "a replay must commit nothing")
      }
    }
  }
}
