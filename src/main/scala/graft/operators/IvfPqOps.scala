package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Staging, Tables}
import graft.functions.HashFunctions.md5Code60Sql

/** IVFADC — the inverted-file + product-quantization index (Jégou et al.
  * 2011, "Product Quantization for Nearest Neighbor Search", §IV; the
  * FAISS `IVFx,PQy` default) — composed from two operators this engine
  * already trains:
  *
  *   - the COARSE quantizer is q139's integer-Lloyd k-means codebook,
  *     read from the persisted codebook manifest table
  *     ([[SimilarityOps.codebookTable]] — train once, every consumer
  *     reads the same table by name);
  *   - the FINE quantizer is q174's per-subspace integer PQ
  *     ([[PqOps.pqFitQ]]) trained on coarse-cell RESIDUALS, the paper's
  *     key refinement: residuals concentrate near zero, so the same
  *     [[PqOps.Ksub]] codes quantize them far better than raw vectors.
  *
  *   - q181 IVFPQ TRAINING — per (sub, code) population / inertia /
  *     centroid checksums of the residual codebooks.
  *   - q182 IVFPQ SEARCH — each probe visits only its [[NProbeCells]]
  *     nearest coarse cells (the inverted lists), builds one per-cell
  *     residual distance table, and scores candidates by M table
  *     lookups — never touching a float and never leaving the probed
  *     cells.
  *
  * Scale design: the corpus-side state is (vec_id, cell, M codes) — the
  * compressed representation that fits 100 TB of raw vectors in a
  * fraction of the space — and candidate generation is an equi-join on
  * (cell, sub, code) against a BROADCAST distance table of
  * |probes| × [[NProbeCells]] × M × [[PqOps.Ksub]] rows, so search work
  * follows the probed lists, not the corpus. Everything is exact integer
  * arithmetic on milli-unit cells (residuals re-offset by [[ROff]] to
  * stay nonnegative, keeping truncated-mean division engine-portable),
  * so DuckDB replays training and search bit-for-bit.
  *
  * Reference behavior: the reference engine's retrieval path over
  * enriched records (rws_data_ingester); IVFADC is the standard
  * memory-bounded at-scale index for that capability.
  */
object IvfPqOps {
  type Q = (SparkSession, String) => DataFrame

  /** Coarse cells visited per probe (w in the paper). */
  val NProbeCells = 2
  /** Probe set: vec_id < IvfProbes (deterministic, broadcast). */
  val IvfProbes = 4
  val IvfTopK = 5
  /** Residual re-offset: quantized cells sit in [0, 2000], so a residual
    * sits in [-2000, 2000]; +2000 keeps every PQ training cell >= 0 and
    * `sum div n` truncation identical across engines. Distances are
    * offset-invariant (both sides of every difference carry it). */
  val ROff = 2000L

  /** Nearest-coarse-cell assignment + re-offset residuals against an
    * integer codebook (cluster, cvec): (vec_id, cluster, qvec, rvec).
    * One broadcast of the k-row codebook; ties break toward the lower
    * cluster id, exactly the oracle's `ORDER BY d2, cluster`. */
  private[graft] def residuals(qemb: DataFrame, cents: DataFrame): DataFrame = {
    val wA = Window.partitionBy("vec_id").orderBy(col("d2"), col("cluster"))
    qemb.join(broadcast(cents))
      .withColumn("d2", graft.plans.L2SqExpr.l2sqNative(col("qvec"), col("cvec")))
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cluster"),
        zip_with(col("qvec"), col("cvec"), (x, c) => x - c + lit(ROff)).as("rvec"))
  }

  /** Residual-PQ training against a given coarse codebook. Returns
    * (pq codebook (sub, code, cv), codes (vec_id, cluster, sub, code),
    * final residual assignment with d2). */
  private[graft] def ivfpqFit(emb: DataFrame, cents: DataFrame,
      m: Int = PqOps.M, subDim: Int = PqOps.SubDim, ksub: Int = PqOps.Ksub,
      iters: Int = PqOps.PqIters): (DataFrame, DataFrame, DataFrame) = {
    val res = residuals(SimilarityOps.quantized(emb), cents).localCheckpoint()
    val (pqc, assigned) = PqOps.pqFitQ(
      res.select(col("vec_id"), col("rvec").as("qvec")),
      m, subDim, ksub, iters, "ivfpq:")
    val codes = assigned.select("vec_id", "sub", "code")
      .join(res.select("vec_id", "cluster"), Seq("vec_id"))
    (pqc, codes, assigned)
  }

  /** Fresh PQ-code assignment of pre-split subvectors against a FROZEN
    * codebook: (vec_id, sub, code). The index-maintenance encode — a
    * pure function of (vector, codebook), which is what makes
    * incremental maintenance EXACT (delta encodes equal a full
    * re-encode). */
  private[graft] def encodeAgainst(sv: DataFrame, pqc: DataFrame): DataFrame = {
    val wA = Window.partitionBy("vec_id", "sub").orderBy(col("d2"), col("code"))
    sv.join(broadcast(pqc), Seq("sub"))
      .withColumn("d2", graft.plans.L2SqExpr.l2sqNative(col("sv"), col("cv")))
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("code"))
  }

  /** Fresh full encode of an embeddings frame against frozen coarse +
    * residual codebooks: (vec_id, cell, codes ARRAY). Used by the
    * maintained index for BOTH the create-time snapshot and every
    * refresh delta — one contract, so incremental == rebuild. */
  private[graft] def freshEncode(emb: DataFrame, coarse: DataFrame,
      pqc: DataFrame, m: Int, subDim: Int): DataFrame = {
    val res = residuals(SimilarityOps.quantized(emb), coarse)
    val sv = PqOps.subvecsQ(res.select(col("vec_id"), col("rvec").as("qvec")), m, subDim)
    encodeAgainst(sv, pqc)
      .join(res.select("vec_id", "cluster"), Seq("vec_id"))
      .groupBy(col("vec_id"), col("cluster").as("cell"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        e => e.getField("code")).as("codes"))
  }

  /** Probe-side cell selection + per-probed-cell re-offset residuals:
    * (qid, cluster, qrvec). One broadcast of the coarse codebook. */
  private[graft] def probedResiduals(probes: DataFrame, cents: DataFrame,
      nProbeCells: Int): DataFrame = {
    val wCell = Window.partitionBy("qid").orderBy(col("d2c"), col("cluster"))
    SimilarityOps.quantized(probes)
      .select(col("vec_id").as("qid"), col("qvec"))
      .join(broadcast(cents))
      .withColumn("d2c", graft.plans.L2SqExpr.l2sqNative(col("qvec"), col("cvec")))
      .withColumn("rn", row_number().over(wCell))
      .filter(col("rn") <= nProbeCells)
      .select(col("qid"), col("cluster"),
        zip_with(col("qvec"), col("cvec"), (x, c) => x - c + lit(ROff)).as("qrvec"))
  }

  /** ADC distance table from probed residuals x residual codebooks: one
    * row per (qid, cluster, sub, code) — |probes| * nProbeCells * M *
    * Ksub rows, metadata-sized at any corpus size, broadcast onto the
    * codes. */
  private[graft] def distTable(probed: DataFrame, pqc: DataFrame,
      m: Int, subDim: Int): DataFrame = {
    val qsub = probed.select(col("qid"), col("cluster"),
        explode(transform(sequence(lit(0), lit(m - 1)),
          s => struct(s.cast("long").as("sub"),
            slice(col("qrvec"), s * subDim + 1, lit(subDim)).as("sv")))).as("e"))
      .select(col("qid"), col("cluster"), col("e.sub").as("sub"), col("e.sv").as("sv"))
    qsub.join(pqc, Seq("sub"))
      .withColumn("d", graft.plans.L2SqExpr.l2sqNative(col("sv"), col("cv")))
      .select(col("qid"), col("cluster"), col("sub"), col("code"), col("d"))
  }

  /** ADC search: probes pick their [[NProbeCells]] nearest coarse cells,
    * residualize against EACH probed cell, build the per-(probe, cell)
    * distance table, and sum M lookups per candidate inside the probed
    * cells only. Output (qid, rank, vec_id, cell, adist). */
  private[graft] def ivfpqSearch(emb: DataFrame, cents: DataFrame,
      probes: DataFrame, nProbeCells: Int, topK: Int,
      m: Int = PqOps.M, subDim: Int = PqOps.SubDim, ksub: Int = PqOps.Ksub,
      iters: Int = PqOps.PqIters): DataFrame = {
    val (pqc, codes, _) = ivfpqFit(emb, cents, m, subDim, ksub, iters)
    val probed = probedResiduals(probes, cents, nProbeCells)
    val dtab = distTable(probed, pqc, m, subDim)
    val wTop = Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))
    codes.join(broadcast(dtab), Seq("cluster", "sub", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"), col("cluster").as("cell"))
      .agg(sum(col("d")).as("adist"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("rank"), col("vec_id"), col("cell"), col("adist"))
  }

  /** ADC over an AT-REST codes table: the probed cells collapse to a
    * driver-sized IN list (<= |probes| * nProbeCells values — the q140
    * probe-bucket pattern), so the scan opens only files whose cell
    * range intersects the probed lists; candidates decompress by
    * posexplode of their M-code array. Same answer as [[ivfpqSearch]] —
    * the layout changes I/O, never the result. */
  private[graft] def adcFromCodes(s: SparkSession, codesTbl: String,
      pqc: DataFrame, cents: DataFrame, probes: DataFrame,
      nProbeCells: Int, topK: Int, m: Int, subDim: Int): DataFrame = {
    val probed = probedResiduals(probes, cents, nProbeCells)
    val cells = probed.select(col("cluster")).distinct()
      .collect().map(_.getLong(0)).toSeq // bounded: probed lists only
    val dtab = distTable(probed, pqc, m, subDim)
      .withColumnRenamed("cluster", "cell")
    val cand = s.table(codesTbl).filter(col("cell").isin(cells: _*))
      .select(col("vec_id"), col("cell"), posexplode(col("codes")))
      .select(col("vec_id"), col("cell"),
        col("pos").cast("long").as("sub"), col("col").as("code"))
    val wTop = Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))
    cand.join(broadcast(dtab), Seq("cell", "sub", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"), col("cell"))
      .agg(sum(col("d")).as("adist"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("rank"), col("vec_id"), col("cell"), col("adist"))
  }

  /** Once-per-(application, sf-dir) IVFPQ INDEX AT REST: the codes
    * persisted as a manifest table CLUSTERED BY COARSE CELL
    * (write.sort-by), so probing a cell is file pruning on ordinary
    * integer stats — the q140 composition, but over the compressed
    * representation (one M-long code array per vector instead of the
    * raw floats). The residual codebooks land in a second, k-row table:
    * index and codebooks both at rest, no side-channel between build
    * and query. */
  private val atRestBuilt = new Object
  private[graft] def codesTables(s: SparkSession, dir: String): (String, String) = {
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
      s.sparkContext.applicationId
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val ns = s"db${Integer.toHexString(dir.hashCode)}"
    Staging.once[Unit](atRestBuilt, (s.sparkContext.applicationId, dir)) {
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
      s.sql(s"CREATE TABLE graft.$ns.ivfpq_codes " +
        "(vec_id BIGINT, cell BIGINT, codes ARRAY<BIGINT>) " +
        "TBLPROPERTIES ('write.sort-by' = 'cell')")
      s.sql(s"CREATE TABLE graft.$ns.ivfpq_pqc " +
        "(sub BIGINT, code BIGINT, cv ARRAY<BIGINT>)")
      val (pqc, codes, _) = fitFixture(s, dir)
      codes.groupBy(col("vec_id"), col("cluster").as("cell"))
        .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
          e => e.getField("code")).as("codes"))
        .writeTo(s"graft.$ns.ivfpq_codes").append()
      pqc.writeTo(s"graft.$ns.ivfpq_pqc").append()
    }
    (s"graft.$ns.ivfpq_codes", s"graft.$ns.ivfpq_pqc")
  }

  /** Once-per-(application, sf-dir) INCREMENTALLY-MAINTAINED IVFPQ
    * index: the embeddings land in a manifest table in TWO batches
    * (even vec_ids, then odd) with an
    * [[graft.sources.AnnIndexMaintenance.refresh]] after each — the
    * production ANN-ingest loop exercised inside the correctness gate.
    * Codebooks train on batch 1 ONLY (create-time snapshot) and stay
    * frozen; the oracle replays that training and a from-scratch
    * re-encode of the full corpus, so a double-applied window, missed
    * vector, or silently retrained codebook all hash-fail. */
  private val annmBuilt = new Object
  private[graft] def maintainedAnnIndex(s: SparkSession, dir: String): String = {
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
      s.sparkContext.applicationId
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val ns = s"db${Integer.toHexString(dir.hashCode)}"
    Staging.once[Unit](annmBuilt, (s.sparkContext.applicationId, dir)) {
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
      s.sql(s"CREATE TABLE graft.$ns.emb_m (vec_id BIGINT, embedding ARRAY<FLOAT>)")
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      emb.filter(col("vec_id") % 2 === 0)
        .writeTo(s"graft.$ns.emb_m").append()
      graft.sources.AnnIndexMaintenance.createIndex(
        s, "graft", s"$ns.emb_m", s"$ns.annidx_m")
      emb.filter(col("vec_id") % 2 === 1)
        .writeTo(s"graft.$ns.emb_m").append()
      graft.sources.AnnIndexMaintenance.refresh(
        s, "graft", s"$ns.emb_m", s"$ns.annidx_m")
    }
    s"graft.$ns.annidx_m"
  }

  /** Integer coarse codebook for the fixture corpus: the q139-trained
    * codebook manifest table — the SAME table q106/q48/q134 consume. */
  private def fixtureCents(s: SparkSession, dir: String): DataFrame =
    s.table(SimilarityOps.codebookTable(s, dir))

  /** The fixture residual-PQ fit, trained once per (application, dir)
    * and shared by q181, q182 and [[codesTables]]'s build. */
  private def fitFixture(s: SparkSession, dir: String):
      (DataFrame, DataFrame, DataFrame) =
    SimilarityOps.memoFit(s, dir, "ivfpqfit")(
      ivfpqFit(Tables.embeddings(s, dir), fixtureCents(s, dir)))

  def queries: Map[String, Q] = Map(
    // IVFPQ TRAINING: residual-PQ codebook health per (sub, code) — a
    // mismatch pinpoints whether the coarse assignment, the residual,
    // or a Lloyd round diverged.
    "q181_ivfpq_train" -> ((s, dir) => {
      val (pqc, _, assigned) = fitFixture(s, dir)
      val stats = assigned.groupBy("sub", "code").agg(
        count(lit(1)).as("n"),
        sum(col("d2")).as("inertia_q"))
      val sums = pqc.select(col("sub"), col("code"),
        aggregate(col("cv"), lit(0L), (a, v) => a + v).as("csum"),
        aggregate(col("cv"), lit(0L), (a, v) => a + v * v).as("cnorm2"))
      stats.join(broadcast(sums), Seq("sub", "code")).orderBy("sub", "code")
    }),
    // IVFPQ SEARCH: probes vec_id < IvfProbes, NProbeCells nearest
    // inverted lists each, top-5 by summed residual table lookups
    // (ties by vec_id; the probe itself excluded).
    "q182_ivfpq_search" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = fixtureCents(s, dir)
      val (pqc, codes, _) = fitFixture(s, dir)
      val probed = probedResiduals(emb.filter(col("vec_id") < IvfProbes),
        cents, NProbeCells)
      val dtab = distTable(probed, pqc, PqOps.M, PqOps.SubDim)
      val wTop = Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))
      codes.join(broadcast(dtab), Seq("cluster", "sub", "code"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy(col("qid"), col("vec_id"), col("cluster").as("cell"))
        .agg(sum(col("d")).as("adist"))
        .withColumn("rank", row_number().over(wTop))
        .filter(col("rank") <= IvfTopK)
        .select(col("qid"), col("rank"), col("vec_id"), col("cell"), col("adist"))
        .orderBy("qid", "rank")
    }),
    // IVFPQ INDEX AT REST: the same search answered from the persisted
    // cell-clustered codes table — probed cells push down as an IN
    // filter, so candidate I/O follows the probed lists, not the corpus.
    "q183_ivfpq_at_rest" -> ((s, dir) => {
      val (ct, pt) = codesTables(s, dir)
      val emb = Tables.embeddings(s, dir)
      adcFromCodes(s, ct, s.table(pt), fixtureCents(s, dir),
        emb.filter(col("vec_id") < IvfProbes), NProbeCells, IvfTopK,
        PqOps.M, PqOps.SubDim)
        .orderBy("qid", "rank")
    }),
    // INCREMENTALLY-MAINTAINED ANN INDEX: two arrival batches, one
    // refresh each against FROZEN batch-1 codebooks; output is the
    // maintained codes table in long form, hash-matched against the
    // oracle's from-scratch training + full re-encode.
    "q185_ann_maintained" -> ((s, dir) => {
      val t = maintainedAnnIndex(s, dir)
      s.table(t)
        .select(col("vec_id"), col("cell"), posexplode(col("codes")))
        .select(col("vec_id"), col("cell"),
          col("pos").cast("long").as("sub"), col("col").as("code"))
        .orderBy("vec_id", "sub")
    }))

  // ---- DuckDB oracle ------------------------------------------------------

  /** The composed replay: q139's Lloyd rounds (shared verbatim via
    * [[SimilarityOps.kmeansCtesSql]]) -> fresh assignment against the
    * FINAL centroids (what a codebook-table consumer computes) ->
    * re-offset residuals -> [[PqOps.PqIters]] residual-PQ rounds
    * (pd/pa/pu/pc naming to stay clear of the coarse rounds). Every
    * multi-referenced CTE is MATERIALIZED (DuckDB inlines plain CTEs at
    * every reference — exponential over chained rounds, the round-10
    * lesson). Ends with cT (coarse), aF (cell map), pa$PqIters (codes),
    * pc$PqIters (residual codebooks). */
  private def ivfCtesSql: String = {
    val t = SimilarityOps.KmIters
    val hk = md5Code60Sql("'ivfpq:' || CAST(vec_id AS VARCHAR)")
    def round(i: Int): String = {
      val prev = s"pc${i - 1}"
      s"""pd$i AS MATERIALIZED (
         |  SELECT s.vec_id, s.sub, c.code, sum((s.x - c.c) * (s.x - c.c)) AS d2
         |  FROM rsv s JOIN $prev c ON s.sub = c.sub AND s.sdim = c.sdim
         |  GROUP BY 1, 2, 3),
         |pa$i AS MATERIALIZED (
         |  SELECT vec_id, sub, code, d2 FROM (
         |    SELECT vec_id, sub, code, d2, row_number()
         |      OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
         |    FROM pd$i) WHERE rn = 1),
         |pu$i AS (
         |  SELECT sub, code, sdim, sx // n AS c FROM (
         |    SELECT a.sub, a.code, s.sdim, sum(s.x) AS sx, count(*) AS n
         |    FROM pa$i a JOIN rsv s ON a.vec_id = s.vec_id AND a.sub = s.sub
         |    GROUP BY 1, 2, 3)),
         |pc$i AS MATERIALIZED (
         |  SELECT p.sub, p.code, p.sdim, coalesce(u.c, p.c) AS c
         |  FROM $prev p LEFT JOIN pu$i u
         |    ON p.sub = u.sub AND p.code = u.code AND p.sdim = u.sdim)""".stripMargin
    }
    s"""${SimilarityOps.kmeansCtesSql},
       |cT AS MATERIALIZED (SELECT cluster, dim, c FROM c$t),
       |dF AS (
       |  SELECT q.vec_id, c.cluster, sum((q.x - c.c) * (q.x - c.c)) AS d2
       |  FROM qv q JOIN cT c USING (dim) GROUP BY 1, 2),
       |aF AS MATERIALIZED (
       |  SELECT vec_id, cluster FROM (
       |    SELECT vec_id, cluster, row_number()
       |      OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
       |    FROM dF) WHERE rn = 1),
       |rsv AS MATERIALIZED (
       |  SELECT q.vec_id, (q.dim - 1) // ${PqOps.SubDim} AS sub,
       |    (q.dim - 1) % ${PqOps.SubDim} + 1 AS sdim,
       |    q.x - c.c + $ROff AS x
       |  FROM qv q JOIN aF a USING (vec_id)
       |  JOIN cT c ON a.cluster = c.cluster AND q.dim = c.dim),
       |pseeds AS MATERIALIZED (
       |  SELECT vec_id, row_number() OVER (ORDER BY h, vec_id) - 1 AS code
       |  FROM (SELECT vec_id, $hk AS h FROM embeddings)
       |  ORDER BY h, vec_id LIMIT ${PqOps.Ksub}),
       |pc0 AS MATERIALIZED (
       |  SELECT s.sub, se.code, s.sdim, s.x AS c
       |  FROM pseeds se JOIN rsv s USING (vec_id)),
       |${(1 to PqOps.PqIters).map(round).mkString(",\n")}""".stripMargin
  }

  def oracle: Map[String, String] = {
    val t = PqOps.PqIters
    val m = Map(
      "q181_ivfpq_train" ->
        s"""WITH $ivfCtesSql
           |SELECT s1.sub, s1.code, s1.n, s1.inertia_q, s2.csum, s2.cnorm2
           |FROM (
           |  SELECT sub, code, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(d2) AS BIGINT) AS inertia_q
           |  FROM pa$t GROUP BY 1, 2) s1
           |JOIN (
           |  SELECT sub, code, CAST(sum(c) AS BIGINT) AS csum,
           |    CAST(sum(c * c) AS BIGINT) AS cnorm2
           |  FROM pc$t GROUP BY 1, 2) s2 ON s1.sub = s2.sub AND s1.code = s2.code
           |ORDER BY 1, 2""".stripMargin,
      "q182_ivfpq_search" ->
        s"""WITH $ivfCtesSql,
           |qprobe AS MATERIALIZED (
           |  SELECT vec_id AS qid, dim, x FROM qv WHERE vec_id < $IvfProbes),
           |qcd AS (
           |  SELECT q.qid, c.cluster, sum((q.x - c.c) * (q.x - c.c)) AS d2
           |  FROM qprobe q JOIN cT c ON q.dim = c.dim GROUP BY 1, 2),
           |qcell AS MATERIALIZED (
           |  SELECT qid, cluster FROM (
           |    SELECT qid, cluster, row_number()
           |      OVER (PARTITION BY qid ORDER BY d2, cluster) AS rn
           |    FROM qcd) WHERE rn <= $NProbeCells),
           |qres AS MATERIALIZED (
           |  SELECT q.qid, pc.cluster, (q.dim - 1) // ${PqOps.SubDim} AS sub,
           |    (q.dim - 1) % ${PqOps.SubDim} + 1 AS sdim, q.x - c.c + $ROff AS x
           |  FROM qprobe q JOIN qcell pc ON q.qid = pc.qid
           |  JOIN cT c ON pc.cluster = c.cluster AND q.dim = c.dim),
           |dtab AS MATERIALIZED (
           |  SELECT r.qid, r.cluster, p.sub, p.code,
           |    sum((r.x - p.c) * (r.x - p.c)) AS d
           |  FROM qres r JOIN pc$t p ON r.sub = p.sub AND r.sdim = p.sdim
           |  GROUP BY 1, 2, 3, 4),
           |ad AS (
           |  SELECT d.qid, a.vec_id, af.cluster AS cell,
           |    CAST(sum(d.d) AS BIGINT) AS adist
           |  FROM pa$t a JOIN aF af USING (vec_id)
           |  JOIN dtab d ON af.cluster = d.cluster
           |    AND a.sub = d.sub AND a.code = d.code
           |  WHERE a.vec_id <> d.qid GROUP BY 1, 2, 3)
           |SELECT qid, rank, vec_id, cell, adist FROM (
           |  SELECT qid, vec_id, cell, adist, row_number()
           |    OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rank
           |  FROM ad) WHERE rank <= $IvfTopK
           |ORDER BY qid, rank""".stripMargin)
    // the at-rest layout is an I/O statement, not a semantic one: q183's
    // oracle IS q182's — any drift between the two plans is a bug
    m + ("q183_ivfpq_at_rest" -> m("q182_ivfpq_search")) +
      ("q185_ann_maintained" -> annMaintainedSql)
  }

  /** q185's from-scratch replay: coarse Lloyd rounds trained on the
    * EVEN-vec_id batch only (the create-time snapshot —
    * [[SimilarityOps.kmeansCtesSqlFrom]] parameterizes the training
    * source), residual-PQ rounds over the even residuals with the
    * 'annm:' seed stream, then a fresh encode of the FULL corpus against
    * both frozen codebooks. The maintained table must match bit for bit:
    * incremental == rebuild is the whole maintenance contract. */
  private def annMaintainedSql: String = {
    import graft.functions.HashFunctions.md5Code60Sql
    val km = SimilarityOps.KmIters
    val t = PqOps.PqIters
    val hk = md5Code60Sql("'annm:' || CAST(vec_id AS VARCHAR)")
    def round(i: Int): String = {
      val prev = s"pc${i - 1}"
      s"""pd$i AS MATERIALIZED (
         |  SELECT s.vec_id, s.sub, c.code, sum((s.x - c.c) * (s.x - c.c)) AS d2
         |  FROM rsvT s JOIN $prev c ON s.sub = c.sub AND s.sdim = c.sdim
         |  GROUP BY 1, 2, 3),
         |pa$i AS MATERIALIZED (
         |  SELECT vec_id, sub, code, d2 FROM (
         |    SELECT vec_id, sub, code, d2, row_number()
         |      OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
         |    FROM pd$i) WHERE rn = 1),
         |pu$i AS (
         |  SELECT sub, code, sdim, sx // n AS c FROM (
         |    SELECT a.sub, a.code, s.sdim, sum(s.x) AS sx, count(*) AS n
         |    FROM pa$i a JOIN rsvT s ON a.vec_id = s.vec_id AND a.sub = s.sub
         |    GROUP BY 1, 2, 3)),
         |pc$i AS MATERIALIZED (
         |  SELECT p.sub, p.code, p.sdim, coalesce(u.c, p.c) AS c
         |  FROM $prev p LEFT JOIN pu$i u
         |    ON p.sub = u.sub AND p.code = u.code AND p.sdim = u.sdim)""".stripMargin
    }
    val trainSrc = "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0)"
    s"""WITH ${SimilarityOps.kmeansCtesSqlFrom(trainSrc)},
       |cT AS MATERIALIZED (SELECT cluster, dim, c FROM c$km),
       |qvAll AS MATERIALIZED (
       |  SELECT vec_id, d.d AS dim,
       |    CAST(round(CAST(embedding[d.d] AS DOUBLE) * 1000) AS BIGINT) + 1000 AS x
       |  FROM embeddings, (SELECT unnest(generate_series(1, ${SimilarityOps.Dim})) AS d) d),
       |dA AS (
       |  SELECT q.vec_id, c.cluster, sum((q.x - c.c) * (q.x - c.c)) AS d2
       |  FROM qvAll q JOIN cT c USING (dim) GROUP BY 1, 2),
       |aA AS MATERIALIZED (
       |  SELECT vec_id, cluster FROM (
       |    SELECT vec_id, cluster, row_number()
       |      OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
       |    FROM dA) WHERE rn = 1),
       |rsvA AS MATERIALIZED (
       |  SELECT q.vec_id, (q.dim - 1) // ${PqOps.SubDim} AS sub,
       |    (q.dim - 1) % ${PqOps.SubDim} + 1 AS sdim, q.x - c.c + $ROff AS x
       |  FROM qvAll q JOIN aA a USING (vec_id)
       |  JOIN cT c ON a.cluster = c.cluster AND q.dim = c.dim),
       |rsvT AS MATERIALIZED (SELECT * FROM rsvA WHERE vec_id % 2 = 0),
       |pseeds AS MATERIALIZED (
       |  SELECT vec_id, row_number() OVER (ORDER BY h, vec_id) - 1 AS code
       |  FROM (SELECT vec_id, $hk AS h FROM embeddings WHERE vec_id % 2 = 0)
       |  ORDER BY h, vec_id LIMIT ${PqOps.Ksub}),
       |pc0 AS MATERIALIZED (
       |  SELECT s.sub, se.code, s.sdim, s.x AS c
       |  FROM pseeds se JOIN rsvT s USING (vec_id)),
       |${(1 to t).map(round).mkString(",\n")},
       |pdA AS (
       |  SELECT r.vec_id, r.sub, p.code, sum((r.x - p.c) * (r.x - p.c)) AS d2
       |  FROM rsvA r JOIN pc$t p ON r.sub = p.sub AND r.sdim = p.sdim
       |  GROUP BY 1, 2, 3),
       |paA AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT vec_id, sub, code, row_number()
       |      OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
       |    FROM pdA) WHERE rn = 1)
       |SELECT p.vec_id, a.cluster AS cell, p.sub, p.code
       |FROM paA p JOIN aA a USING (vec_id)
       |ORDER BY p.vec_id, p.sub""".stripMargin
  }
}
