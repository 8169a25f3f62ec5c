package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.functions.VectorFunctions.{norm, normSq}
import graft.plans.FloatVectorDot.cosineNative

/** Similarity search over `embeddings.embedding` (64-dim float vectors):
  *
  *   - q44 brute-force cosine top-k — the correctness baseline: probe set
  *     broadcast against all candidates, windowed top-k per probe
  *   - q45 LSH-bucketed ANN — the scale path: 8 sign-random-projection
  *     bits bucket the space (~1/256 of candidates per probe), then exact
  *     cosine re-ranking inside the bucket only
  *   - q46 per-vector stats — norms via sequential HOF folds
  *
  * Scale design: q44 is O(probes × corpus) and only acceptable for small
  * probe sets (it broadcasts the probes, streaming the corpus exactly
  * once); q45's bucketing turns the same search near-linear — buckets are
  * an equi-join key, so the corpus shuffles once by bucket and each probe
  * compares against its bucket only. Hyperplanes are derived from integer
  * arithmetic (no RNG state), so any engine reproduces identical buckets
  * and the DuckDB oracle checks both queries exactly: every float op is a
  * sequential left fold in both engines -> bit-identical doubles.
  */
object SimilarityOps {
  type Q = (SparkSession, String) => DataFrame

  val Dim = 64

  /** Default hyperplane count for sign-random-projection bucketing.
    *
    * Occupancy math: the bucket space is 2^planes, so expected bucket
    * occupancy is N/2^planes and q47's within-bucket all-pairs work is
    * Θ(N²/2^planes). Occupancy — and with it the all-pairs cost per
    * bucket — grows LINEARLY in corpus size at fixed planes, so planes
    * must track ~log₂(N) to hold per-bucket work constant: 8 planes suit
    * ~10⁵ vectors (~400/bucket); a 10⁹-vector corpus wants ~21–22 planes.
    * Override per session with `spark.conf.set("graft.lsh.planes", p)`
    * (see [[planesFor]]); the DuckDB oracle SQL mirrors the DEFAULT, so
    * overrides are for non-oracle runs. ScaleGenSpec pins the 2×-per-plane
    * occupancy scaling empirically on the tiled corpus. */
  val Planes = 8
  /** q173 neighborhood size for the margin denominator. */
  val MarginK = 4
  val TopK = 10
  val NumProbes = 10
  val NumCentroids = 8

  /** q134 semantic-dedup cosine threshold: pairs at or above it within a
    * cluster are duplicates in MEANING; 0.3 is where this corpus's
    * planted near-dups sit (q47 uses the same line). */
  val SemDedupTau = 0.3

  /** q204 semantic-contamination threshold in basis points — the same
    * 0.3 near-duplicate operating point as [[SemDedupTau]]/q47, scored
    * as exact integer bp (floor) so the witness ranking is
    * engine-stable. */
  val SemContamBp = 3000L

  /** Session-scoped override of [[Planes]] — recall/occupancy tuning is a
    * deployment decision, not a code edit. */
  def planesFor(s: SparkSession): Int =
    s.conf.get("graft.lsh.planes", Planes.toString).toInt

  /** Session-scoped override of [[NumCentroids]] for semantic dedup —
    * SemDeDup's cost bound needs k ∝ N (the paper uses k ~ N/1000), so a
    * compile-time k is a latent quadratic; deployments set
    * `graft.semdedup.centroids` alongside a real codebook (q139 trains
    * one). The DuckDB oracle mirrors the DEFAULT. */
  def centroidsFor(s: SparkSession): Int =
    s.conf.get("graft.semdedup.centroids", NumCentroids.toString).toInt
  // NOTE: q48/q106/q134 train (and read) the codebook at this k, while
  // their DuckDB oracles replay training at the DEFAULT — like
  // graft.lsh.planes, session overrides are for non-oracle runs.

  /** Hard per-cluster population cap for semantic dedup's within-cluster
    * all-pairs stage. A natural-skew hot cluster makes Σ|cᵢ|² degrade no
    * matter how k was chosen; clusters over the cap are deterministically
    * sub-split into ⌈size/cap⌉ hash-ranked shards and pairs generated
    * within a shard only — bounding any shard's fan-out at cap² at a
    * documented recall cost on the split cluster (mirrors SubstrDfCap,
    * which bounds the identical blow-up in substring-dedup buckets). The
    * default is far above every test corpus's cluster sizes, so capped
    * and uncapped paths coincide wherever the oracle checks. */
  val ClusterCap = 100000
  def clusterCapFor(s: SparkSession): Int =
    s.conf.get("graft.semdedup.clusterCap", ClusterCap.toString).toInt

  /** Lloyd iteration count for q139 — fixed (not convergence-tested) so
    * the oracle replays the exact same number of rounds. */
  val KmIters = 3

  /** Signed-random-projection bucket id: bit j = sign(v · plane_j), with
    * plane_j[c] = ((j*64+c-1)*2654435761 mod 1000003)/1000003 - 0.5.
    * Engine-portable HOF formulation — the one the DuckDB oracle mirrors
    * and the bit-equality reference for the native expression
    * (ExtensionsSpec asserts bucketHof == bucket on every fixture vector).
    * The hot path below uses the codegen'd twin: 8 planes × 64 dims =
    * 512 interpreted lambda steps per vector collapse into one fused
    * loop over a precomputed weight table (graft.plans.LshBucketExpr). */
  private[graft] def bucketHof(vec: Column): Column = {
    val bits = transform(sequence(lit(0), lit(Planes - 1)), j => {
      val proj = aggregate(sequence(lit(1), lit(Dim)), lit(0.0d),
        (acc, c) => acc + element_at(vec, c).cast("double") *
          (((j * lit(64) + c - lit(1)) * lit(2654435761L) % lit(1000003L)).cast("double")
            / lit(1000003.0) - lit(0.5)))
      when(proj > 0, lit(1L)).otherwise(lit(0L))
    })
    aggregate(reverse(bits), lit(0L), (acc, b) => acc * 2 + b)
  }

  private def bucket(s: SparkSession, vec: Column): Column =
    graft.plans.LshBucketExpr.bucketNative(vec, planesFor(s), Dim)

  /** q204's engine over an arbitrary (vec_id, embedding) frame: `isEval`
    * marks the benchmark stratum (broadcast side); flags every OTHER
    * vector whose LSH-bucket cosine to some eval vector reaches `tauBp`,
    * with hit count and the worst (eval, score) witness. */
  private[graft] def semanticContam(s: SparkSession, emb: DataFrame,
      isEval: Column, tauBp: Long): DataFrame = {
    val b = emb.select(col("vec_id"), col("embedding"),
      bucket(s, col("embedding")).as("bucket"), isEval.as("is_eval"))
    val evalSide = b.filter(col("is_eval"))
      .select(col("vec_id").as("eval_id"), col("embedding").as("ee"), col("bucket"))
    val train = b.filter(!col("is_eval"))
      .select(col("vec_id").as("train_id"), col("embedding").as("te"), col("bucket"))
    val wWitness = Window.partitionBy("train_id")
      .orderBy(col("score_bp").desc, col("eval_id"))
    train.join(broadcast(evalSide), Seq("bucket"))
      .withColumn("score_bp",
        floor(cosineNative(col("te"), col("ee")) * 10000).cast("long"))
      .filter(col("score_bp") >= tauBp)
      .withColumn("n_hits", count(lit(1)).over(Window.partitionBy("train_id")))
      .withColumn("rn", row_number().over(wWitness))
      .filter(col("rn") === 1)
      .select(col("train_id"), col("eval_id"), col("score_bp"), col("n_hits"))
  }

  private def topkPerProbe(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy("probe_id").orderBy(col("score").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK)
      .select("probe_id", "cand_id", "rn", "score")
      .orderBy("probe_id", "rn")
  }

  val queries: Map[String, Q] = Map(
    // ANN QUALITY ACCOUNTING — recall@k of the IVF index against exact
    // brute force, per probe: |topK(IVF) ∩ topK(exact)| / k, THE
    // published ANN evaluation metric (the recall axis of every
    // ann-benchmarks curve). Both sides are this engine's own
    // deterministic operators (q44 exact, q48 IVF over the TRAINED
    // codebook), so the metric is oracle-checkable end to end — the
    // DuckDB replay recomputes both pipelines and must agree on every
    // per-probe hit count. An index change that silently degrades
    // recall now FAILS CORRECTNESS instead of shipping. Scale shape:
    // both sides are probe-bounded (≤ NumProbes·k rows each); the
    // intersection is an equi-join on (probe, cand) — metric cost is
    // O(probes·k), independent of corpus size.
    "q194_ann_recall" -> ((s, dir) => {
      val exact = queries("q44_cosine_topk")(s, dir).select("probe_id", "cand_id")
      val ann = queries("q48_ivf_ann")(s, dir)
        .select(col("probe_id"), col("cand_id"), lit(1).as("hit"))
      exact.join(ann, Seq("probe_id", "cand_id"), "left")
        .groupBy("probe_id")
        .agg(count(col("hit")).as("hits"))
        .select(col("probe_id"), lit(TopK).as("k"), col("hits"),
          expr(s"hits * 10000 div $TopK").as("recall_bp"))
        .orderBy("probe_id")
    }),

    "q44_cosine_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val probes = emb.filter(col("vec_id") < NumProbes)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      val cands = emb.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
      topkPerProbe(broadcast(probes)
        .join(cands, col("probe_id") =!= col("cand_id"))
        .withColumn("score", cosineNative(col("pe"), col("ce"))))
    }),

    "q45_ann_lsh" -> ((s, dir) => {
      val b = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"), bucket(s, col("embedding")).as("bucket"))
      val probes = b.filter(col("vec_id") < NumProbes)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"), col("bucket"))
      val cands = b.select(col("vec_id").as("cand_id"), col("embedding").as("ce"), col("bucket"))
      topkPerProbe(broadcast(probes)
        .join(cands, Seq("bucket"))
        .filter(col("probe_id") =!= col("cand_id"))
        .withColumn("score", cosineNative(col("pe"), col("ce"))))
    }),

    // Embedding-cosine near-duplicate detection (the vector analog of q41):
    // LSH buckets bound the candidate set, exact cosine inside the bucket,
    // threshold filter. Near-linear: pairs only form within a bucket.
    "q47_embedding_neardup" -> ((s, dir) => {
      val b = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"), bucket(s, col("embedding")).as("bucket"))
      val a = b.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("bucket"))
      val c = b.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("bucket"))
      a.join(c, Seq("bucket"))
        .filter(col("vec_a") < col("vec_b"))
        .withColumn("score", cosineNative(col("ea"), col("eb")))
        .filter(col("score") >= 0.3)
        .select(col("vec_a"), col("vec_b"),
          round(col("score") * 10000).cast("long").as("score_bp"))
        .orderBy("vec_a", "vec_b")
    }),

    // Margin-based bitext mining (Artetxe & Schwenk 2019): the parallel-
    // corpus construction step — for each "source" vector (even ids, a
    // stand-in for language A) find the "target" vector (odd ids) whose
    // cosine stands out most from both vectors' NEIGHBORHOODS:
    // margin(a,b) = cos(a,b) / ((meanNNk(a) + meanNNk(b)) / 2). A raw
    // top-1 cosine mines hubs (vectors near everything); the margin
    // ratio cancels hubness — the published retrieval fix. Scale shape:
    // candidates form only inside LSH buckets (the q45/q47 contract,
    // never all-pairs); neighborhood means are integer micro-unit sums
    // over top-k windows (order-independent — double summation would
    // hash-drift); probes broadcast. Pairs with non-positive cosine are
    // not mineable and leave before any division, keeping both engines'
    // integer division on positive ground.
    "q173_margin_mining" -> ((s, dir) => {
      val b = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"), bucket(s, col("embedding")).as("bucket"))
      val probes = b.filter(col("vec_id") % 2 === 0 && col("vec_id") < NumProbes * 2)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"), col("bucket"))
      val cands = b.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("cand_id"), col("embedding").as("ce"), col("bucket"))
      val pairs = broadcast(probes).join(cands, Seq("bucket"))
        .withColumn("cos_u",
          floor(cosineNative(col("pe"), col("ce")) * 1000000).cast("long"))
        .filter(col("cos_u") > 0)
        .select("probe_id", "cand_id", "cos_u")
        .localCheckpoint()
      val wa = Window.partitionBy("probe_id").orderBy(col("cos_u").desc, col("cand_id"))
      val wb = Window.partitionBy("cand_id").orderBy(col("cos_u").desc, col("probe_id"))
      val na = pairs.withColumn("rn", row_number().over(wa))
        .filter(col("rn") <= MarginK)
        .groupBy("probe_id").agg(expr("sum(cos_u) div count(1)").as("na_u"))
      val nb = pairs.withColumn("rn", row_number().over(wb))
        .filter(col("rn") <= MarginK)
        .groupBy("cand_id").agg(expr("sum(cos_u) div count(1)").as("nb_u"))
      val wbest = Window.partitionBy("probe_id")
        .orderBy(col("margin_ppm").desc, col("cand_id"))
      pairs.join(broadcast(na), "probe_id").join(broadcast(nb), "cand_id")
        .withColumn("den", expr("(na_u + nb_u) div 2"))
        .filter(col("den") > 0)
        .withColumn("margin_ppm", expr("cos_u * 1000000 div den"))
        .withColumn("rn", row_number().over(wbest)).filter(col("rn") === 1)
        .select("probe_id", "cand_id", "cos_u", "margin_ppm")
        .orderBy("probe_id")
    }),

    // IVF-style ANN: the coarse quantizer is the TRAINED k-means
    // codebook (q139's Lloyd output read from the codebook manifest
    // table) — real inverted lists, not the historical "first k
    // vectors" stand-in. Each vector joins the broadcast codebook and
    // lands in its argmax-cosine list; each probe searches only the
    // lists of its 2 nearest centroids (nprobe=2), then exact cosine
    // re-ranks. At 100 TB the inverted lists are the partition key: one
    // shuffle by centroid, probes broadcast, per-list scans stay local.
    "q48_ivf_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = trainedCents(s, dir)
        .select(col("cluster").as("cent_id"), col("centroid"))
      // assign every vector to its nearest centroid by max cosine
      // (deterministic tie-break on cent_id)
      val wAssign = Window.partitionBy("vec_id")
        .orderBy(col("csim").desc, col("cent_id"))
      val assigned = emb.join(broadcast(cents))
        .withColumn("csim", cosineNative(col("embedding"), col("centroid")))
        .withColumn("crn", row_number().over(wAssign))
      val lists = assigned.filter(col("crn") === 1)
        .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
          col("cent_id").as("list_id"))
      // each probe targets its top-2 centroid lists
      val probes = assigned.filter(col("vec_id") < NumProbes && col("crn") <= 2)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
          col("cent_id").as("list_id"))
      topkPerProbe(broadcast(probes)
        .join(lists, Seq("list_id"))
        .filter(col("probe_id") =!= col("cand_id"))
        .withColumn("score", cosineNative(col("pe"), col("ce"))))
    }),

    "q46_embedding_stats" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      emb.select(col("vec_id"), col("label"),
        size(col("embedding")).as("dim"),
        normSq(col("embedding")).as("norm_sq"),
        norm(col("embedding")).as("l2_norm"))
        .orderBy("vec_id")
    }),

    // k-means assignment step against the TRAINED codebook (q139's
    // Lloyd output, read from the codebook manifest table): every
    // vector joins the broadcast centroids, argmax cosine assigns it,
    // then a per-cluster rollup. The update step's float mean is
    // deliberately NOT emitted (float sums are order-dependent across
    // engines); cluster cohesion is reported as the order-independent
    // integer sum of per-vector similarity basis points instead. One
    // broadcast join + one keyed aggregate: linear at any corpus size.
    "q106_kmeans_assign" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = trainedCents(s, dir)
        .select(col("cluster"), col("centroid"))
      val wAssign = Window.partitionBy("vec_id")
        .orderBy(col("csim").desc, col("cluster"))
      emb.join(broadcast(cents))
        .withColumn("csim", cosineNative(col("embedding"), col("centroid")))
        .withColumn("crn", row_number().over(wAssign))
        .filter(col("crn") === 1)
        .withColumn("csim_bp", round(col("csim") * 10000).cast("long"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("label")).as("n_labels"),
          min(col("vec_id")).as("min_vec"),
          max(col("vec_id")).as("max_vec"),
          sum(col("csim_bp")).as("sum_sim_bp"))
        .withColumn("avg_sim_bp", expr("sum_sim_bp div n"))
        .orderBy("cluster")
    }),

    // Semantic dedup (public method: Abbas et al. 2023, "SemDeDup:
    // Data-efficient learning at web-scale through semantic
    // deduplication"): duplicates in MEANING, not bytes. Cluster the
    // embeddings against the broadcast codebook (q106's assignment),
    // compare pairs WITHIN a cluster only — the paper's trick: with
    // k ~ N/1000 clusters the per-cluster quadratic term stays bounded
    // while cross-cluster pairs are far by construction — and drop the
    // higher id of any pair at cosine >= SemDedupTau, keeping the
    // earliest member as the representative. At 100 TB the cluster id
    // is the shuffle key (one exchange), the codebook broadcasts, and
    // per-cluster pair generation is an equi-join, never corpus
    // all-pairs. */
    "q134_semantic_dedup" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // the codebook is the TRAINED one (q139 via codebookTable);
      // centroidsFor still sizes it — SemDeDup wants k ∝ N
      semanticDedup(emb, trainedCents(s, dir), SemDedupTau, clusterCapFor(s))
    }),

    // Cross-corpus SEMANTIC decontamination — the embedding-space
    // counterpart of q104's n-gram gate and q136's verbatim-window gate:
    // a training item whose embedding sits at near-duplicate cosine to
    // an eval item is a PARAPHRASE leak no lexical detector sees
    // (the published extension of the GPT-3/Llama n-gram contamination
    // audits; same similarity space as SemDeDup, pointed across corpora).
    // Scale shape: candidates form inside LSH buckets only (the q45/q47
    // contract — recall bounded by the bucketing, stated not hidden),
    // and the JOIN IS ASYMMETRIC like q136's: the eval stratum is a
    // benchmark suite — small by construction — so it BROADCASTS and
    // the train corpus never shuffles; exact cosine verifies candidates
    // only. Output per flagged train item: hit count and the worst
    // (eval, score) witness, so a quarantine pass can act on it.
    "q204_semantic_decontaminate" -> ((s, dir) =>
      semanticContam(s, Tables.embeddings(s, dir),
        col("vec_id") % 10 === 0, SemContamBp).orderBy("train_id")),

    // k-means TRAINING (Lloyd iterations) — builds the codebook q106/q48/
    // q134 consume instead of the "first k vectors" stand-in. Every step
    // is integer arithmetic so any engine replays it bit-exactly:
    // embeddings quantize to nonnegative milli-units (offset +1000 makes
    // truncating integer division unambiguous across engines), seeds are
    // the k hash-ranked vectors (md5 code, no RNG state), assignment is
    // argmin integer squared-Euclidean distance with cluster-id
    // tie-break, and the update is a per-dimension truncated-mean. Per
    // iteration: one broadcast join (k-row codebook onto the corpus) +
    // one keyed aggregate over N×dim quantized cells — the PageRank loop
    // shape, linear at any corpus size, centroids checkpointed per round
    // to keep lineage flat. Output: per-cluster population, id range,
    // inertia under the final assignment, and exact centroid checksums.
    "q139_kmeans_train" -> ((s, dir) => {
      val (cents, assigned) = kmeansFitMemo(s, dir, centroidsFor(s))
      kmeansStats(cents, assigned)
    }),

    // ANN index AT REST: the LSH bucket becomes the table's physical
    // layout, composing two proven features — q45's bucketing and the
    // manifest table's write-time sort clustering. Build once: the
    // corpus lands in a manifest table with a MATERIALIZED bucket
    // column and write.sort-by=bucket, so the range-distributed write
    // leaves each data file holding a narrow bucket range and the
    // per-file integer min/max stats make bucket predicates
    // file-pruning (AnnAtRestSpec proves it by deleting the other
    // files). Probe: the probe set's distinct buckets — a
    // metadata-sized driver list, the "client query vectors" of a real
    // ANN service — push down as an IN filter, so the scan opens only
    // intersecting files; exact cosine re-ranks within the bucket.
    // Same result as q45 (the oracle is the identical bucket join) but
    // candidate I/O is proportional to the probed buckets, not the
    // corpus: at 100 TB the index IS the layout — no sidecar to sync.
    "q140_ann_at_rest" -> ((s, dir) => {
      val t = annAtRestTable(s, dir)
      val probes = Tables.embeddings(s, dir).filter(col("vec_id") < NumProbes)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
          bucket(s, col("embedding")).as("bucket"))
      val probeBuckets = probes.select("bucket").distinct()
        .collect().map(_.getLong(0)).sorted // <= NumProbes longs
      val cands = s.table(t)
        .filter(col("bucket").isin(probeBuckets.toIndexedSeq: _*))
        .select(col("vec_id").as("cand_id"), col("embedding").as("ce"), col("bucket"))
      topkPerProbe(broadcast(probes)
        .join(cands, Seq("bucket"))
        .filter(col("probe_id") =!= col("cand_id"))
        .withColumn("score", cosineNative(col("pe"), col("ce"))))
    }),

    // BM25 lexical retrieval — the sparse half of a retrieval stack
    // (Robertson & Zaragoza 2009, the BM25+ always-positive idf
    // variant). The plan is the inverted-index shape: tokenize once,
    // explode to postings, keep only the query's terms (the posting
    // lists actually consulted), aggregate tf per (doc, term), broadcast
    // the 4-row df table and 1-row corpus stats, score, global top-k via
    // rank-limit pushdown. At 100 TB the explode-filter is the crux:
    // a real deployment materializes the postings table once
    // (term-bucketed, like q140's at-rest layout) and each query touches
    // |query| posting lists, never the corpus — this query IS that read
    // path with the index built inline. Scores quantized to millibits
    // before ranking so the order is stable across engines.
    "q144_bm25" -> ((s, dir) => {
      val w = Window.orderBy(col("score_mb").desc, col("doc_id"))
      bm25Scored(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= Bm25TopK)
        .orderBy("rn")
    }),

    // BM25 over an inverted index AT REST: the postings (term, doc_id,
    // tf, dl) live in a manifest table clustered by term
    // (write.sort-by) with a term bloom, and the corpus constants the
    // scorer needs (N, Σdl) ride the table's free-form TBLPROPERTIES —
    // recorded once at build, read back without touching the corpus. A
    // query then reads ONLY its terms' posting files: the term IN
    // predicate prunes by bloom + truncated string bounds at the
    // manifest (PostingsAtRestSpec deletes every other file and the
    // query still answers). Same scores as q144 — the index changes
    // I/O, never the answer. At 100 TB this is the search-engine
    // contract: query cost follows |query| posting lists, not corpus
    // size.
    "q148_bm25_at_rest" -> ((s, dir) => {
      val t = postingsTable(s, dir)
      val props = s.sql(s"SHOW TBLPROPERTIES $t").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      val nDocs = props("bm25.n-docs").toLong
      val avgdl = props("bm25.sum-dl").toLong.toDouble / nDocs
      val posts = s.table(t).filter(col("term").isin(Bm25Terms: _*))
      val dfs = posts.groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.orderBy(col("score_mb").desc, col("doc_id"))
      posts.join(broadcast(dfs), "term")
        .withColumn("idf",
          log(lit(1.0) + (lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
        .withColumn("contrib",
          col("idf") * col("tf") * lit(Bm25K1 + 1.0) /
            (col("tf") + lit(Bm25K1) *
              (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / lit(avgdl))))
        .groupBy("doc_id").agg(sum(col("contrib")).as("score"))
        .withColumn("score_mb", round(col("score") * 1000).cast("long"))
        .select("doc_id", "score_mb")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= Bm25TopK)
        .orderBy("rn")
    }),

    // Hybrid retrieval: reciprocal-rank fusion (Cormack et al. 2009) of
    // the BM25 list (q144's scorer) with a dense cosine list against one
    // probe embedding — the standard two-tower + lexical production
    // stack, fused WITHOUT score calibration: RRF consumes only the
    // RANKS (1/(k + r), k=60), so the two retrievers' incomparable score
    // scales never meet. Ranks are integers, so the fused scores are
    // exact in both engines — the hash compare is bit-stable by
    // construction. FULL OUTER join of the two lists: a doc ranked by
    // only one retriever still fuses (the other contribution is 0).
    // The INCREMENTALLY-MAINTAINED index inside the correctness gate:
    // documents arrive in two batches, PostingsMaintenance.refresh
    // consumes each batch's change feed (delta-only I/O, exactly-once
    // pending-window protocol), and the query reports the maintained
    // index's per-term statistics PLUS the corpus constants read back
    // from the index's own TBLPROPERTIES — the oracle recomputes all of
    // it from the raw documents, so any drift (double-applied window,
    // missed doc, constant mis-fold) hash-fails. At 100 TB this is the
    // search-ingest loop: refresh cost follows the day's appends, never
    // the corpus.
    "q158_postings_maintained" -> ((s, dir) => {
      val (t, nDocs, sumDl) = maintainedPostingsTable(s, dir)
      s.table(t).groupBy("term")
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_sum"),
          sum(col("dl")).as("dl_sum"))
        .withColumn("n_docs", lit(nDocs))
        .withColumn("sum_dl", lit(sumDl))
        .orderBy("term")
    }),

    "q145_rrf_fusion" -> ((s, dir) => {
      val wb = Window.orderBy(col("score_mb").desc, col("doc_id"))
      val lex = bm25Scored(s, dir)
        .withColumn("r_lex", row_number().over(wb))
        .filter(col("r_lex") <= RetrievalK).select("doc_id", "r_lex")
      val emb = Tables.embeddings(s, dir)
      val probe = emb.filter(col("vec_id") === RrfProbeId)
        .select(col("embedding").as("pe"))
      val wc = Window.orderBy(col("score").desc, col("doc_id"))
      val sem = emb.filter(col("vec_id") =!= RrfProbeId)
        .select(col("vec_id").as("doc_id"), col("embedding").as("ce"))
        .crossJoin(broadcast(probe)) // 1-row build side
        .withColumn("score", cosineNative(col("pe"), col("ce")))
        .withColumn("r_sem", row_number().over(wc))
        .filter(col("r_sem") <= RetrievalK).select("doc_id", "r_sem")
      val wf = Window.orderBy(col("fused_ppm").desc, col("doc_id"))
      lex.join(sem, Seq("doc_id"), "full_outer")
        .withColumn("fused",
          coalesce(lit(1.0) / (lit(RrfC) + col("r_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfC) + col("r_sem")), lit(0.0)))
        .withColumn("fused_ppm", round(col("fused") * 1e6).cast("long"))
        .withColumn("rn", row_number().over(wf))
        .filter(col("rn") <= TopK)
        .select("doc_id", "r_lex", "r_sem", "fused_ppm", "rn")
        .orderBy("rn")
    }))

  /** BM25 parameters — the textbook defaults; terms chosen for idf
    * spread on the fixture vocabulary ('dup' is rare, the others near-
    * ubiquitous, so the rare term dominates exactly as BM25 intends). */
  private[graft] val Bm25Terms = Seq("dup", "key", "vector", "join")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25TopK = 20
  /** RRF: list depth per retriever, the standard k=60 damping constant,
    * and the probe embedding the dense list ranks against. */
  private val RetrievalK = 50
  private val RrfC = 60
  private val RrfProbeId = 0L

  /** Per-document BM25 score over [[Bm25Terms]], quantized to millibits
    * (`score_mb`). Shared by q144 (ranked list) and q145 (fusion input).
    * Double math everywhere, but the only cross-engine hazard is a
    * score landing within one ulp of a 0.0005 quantization boundary —
    * the same accepted exposure as q47's basis-point rounding. */
  private def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), t -> t != '')").as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"), col("toks"))
    val stats = toks.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    // explode_outer: the OUTER variant keeps Catalyst from inferring a
    // `size(toks) > 0` pre-filter on the scan — a lambda predicate that
    // can never push to parquet and would re-evaluate the tokenizer per
    // row; the term IN filter drops the null rows it emits anyway
    // tf is REFERENCED TWICE (df derives from it): left un-materialized,
    // Catalyst prunes tf's count from the df branch, the two exchanges
    // stop being reuse-identical, and the WHOLE corpus tokenize+explode
    // runs a second time just to count distinct (doc, term) rows —
    // guide §7.2's duplicated-subtree smell, visible as two Generate
    // chains over `documents` in the before plan. The checkpoint is
    // term-bounded (docs containing a query term × |query|), freed at
    // the harness's action end (transient scope).
    val tf = graft.engine.Staging.trackCp(toks
      .select(col("doc_id"), col("dl"), explode_outer(col("toks")).as("term"))
      .filter(col("term").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val dfs = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfs), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("contrib",
        col("idf") * col("tf") * lit(Bm25K1 + 1.0) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
      .groupBy("doc_id").agg(sum(col("contrib")).as("score"))
      .withColumn("score_mb", round(col("score") * 1000).cast("long"))
      .select("doc_id", "score_mb")
  }

  /** Once-per-(application, sf-dir) build of the bucket-clustered
    * embeddings manifest table behind q140 — the memo keeps plan-only
    * inspection (PlanAudit) from re-running the write. Returns the
    * table's three-part name. */

  /** Session-scoped memo for deterministic TRAINING artifacts: the
    * Lloyd/PQ fits are pure functions of (fixture dir, hyperparams), so
    * queries sharing one (q139 + the codebook consumers, q174/q175,
    * q181/q182/q183's build) pay the training ONCE per application —
    * the same "session-staged" contract as q90's LSH pairs. The fits
    * localCheckpoint their outputs, so reuse reads materialized blocks. */
  private val fitMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), java.util.concurrent.CompletableFuture[AnyRef]]()
  /** Claim-future memo (the [[graft.engine.Staging.once]] pattern): the
    * build runs OUTSIDE any map lock. The earlier computeIfAbsent form
    * held the ConcurrentHashMap bin lock for the whole build, so the
    * ivfpq fit — whose build nests memoFit("kmfit:k") on this same map —
    * threw "Recursive update" whenever the two keys landed in one bin
    * (appId-dependent, a per-run lottery once Bench built the index
    * fixtures concurrently). A failed build removes its claim so later
    * callers retry instead of consuming a poisoned future. A build that
    * returns null fails loudly: waiters treat a null result as "no
    * result yet", so a null claim would rebuild forever. */
  private[graft] def memoFit[T <: AnyRef](s: SparkSession, dir: String,
      tag: String)(f: => T): T = {
    val k = (s.sparkContext.applicationId, dir, tag)
    var out: AnyRef = null
    while (out == null) {
      val fresh = new java.util.concurrent.CompletableFuture[AnyRef]()
      val existing = fitMemo.putIfAbsent(k, fresh)
      if (existing == null) {
        try {
          out = f
          require(out != null, s"memoFit build '$tag' for $dir returned null")
          fresh.complete(out)
        }
        catch { case t: Throwable =>
          fitMemo.remove(k, fresh); fresh.completeExceptionally(t); throw t }
      } else {
        try out = existing.join()
        catch {
          // claimant failed (and removed its claim) — retry as builder
          case _: java.util.concurrent.CompletionException |
               _: java.util.concurrent.CancellationException => ()
        }
      }
    }
    out.asInstanceOf[T]
  }

  /** Once-per-key staging — BLOCKING and un-poisoning via
    * [[graft.engine.Staging]]: concurrent callers wait for the build,
    * a failed build stores nothing and the next caller retries. */
  private def buildOnce[K](set: java.util.Set[K], key: K)(build: => Unit): Unit =
    graft.engine.Staging.once(set, key)(build)

  private val annBuilt =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
  private[graft] def annAtRestTable(s: SparkSession, dir: String): String = {
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
      s.sparkContext.applicationId
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val ns = s"db${Integer.toHexString(dir.hashCode)}"
    buildOnce(annBuilt, (s.sparkContext.applicationId, dir)) {
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
      s.sql(s"CREATE TABLE graft.$ns.emb_ann " +
        "(vec_id BIGINT, embedding ARRAY<FLOAT>, bucket BIGINT) " +
        "TBLPROPERTIES ('write.sort-by' = 'bucket')")
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"),
          bucket(s, col("embedding")).as("bucket"))
        .writeTo(s"graft.$ns.emb_ann").append()
    }
    s"graft.$ns.emb_ann"
  }

  /** Once-per-(application, sf-dir) build of the postings manifest table
    * behind q148: the FULL vocabulary's (term, doc_id, tf, dl) rows,
    * range-clustered by term (`write.sort-by`) with a term bloom for
    * equality pruning, plus the scorer's corpus constants recorded as
    * free-form TBLPROPERTIES in the same table — the index is
    * self-describing, no side-channel between build and query. */
  private val postingsBuilt =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
  private[graft] def postingsTable(s: SparkSession, dir: String): String = {
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
      s.sparkContext.applicationId
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val ns = s"db${Integer.toHexString(dir.hashCode)}"
    buildOnce(postingsBuilt, (s.sparkContext.applicationId, dir)) {
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
      s.sql(s"CREATE TABLE graft.$ns.postings " +
        "(term STRING, doc_id BIGINT, tf BIGINT, dl BIGINT) " +
        "TBLPROPERTIES ('write.sort-by' = 'term', 'bloom.columns' = 'term')")
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("filter(split(text, ' '), t -> t != '')").as("toks"))
        .select(col("doc_id"), size(col("toks")).as("dl"), col("toks"))
      toks.select(col("doc_id"), col("dl"), explode_outer(col("toks")).as("term"))
        .filter(col("term").isNotNull)
        .groupBy(col("term"), col("doc_id"), col("dl"))
        .agg(count(lit(1)).as("tf"))
        .select("term", "doc_id", "tf", "dl")
        .writeTo(s"graft.$ns.postings").append()
      val (n, sumDl) = toks.agg(count(lit(1)), sum(col("dl")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).head
      s.sql(s"ALTER TABLE graft.$ns.postings SET TBLPROPERTIES " +
        s"('bm25.n-docs' = '$n', 'bm25.sum-dl' = '$sumDl')")
    }
    s"graft.$ns.postings"
  }

  /** Once-per-(application, sf-dir) INCREMENTALLY-MAINTAINED postings
    * table: the documents land in a manifest table in TWO batches with a
    * [[graft.sources.PostingsMaintenance.refresh]] after each — the
    * production search-ingest loop exercised inside the correctness
    * gate, not just in specs. Returns (postings table name, n_docs,
    * sum_dl) with the constants read back from the index's own
    * TBLPROPERTIES. */
  private val maintainedBuilt =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
  private[graft] def maintainedPostingsTable(s: SparkSession,
      dir: String): (String, Long, Long) = {
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
      s.sparkContext.applicationId
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val ns = s"db${Integer.toHexString(dir.hashCode)}"
    buildOnce(maintainedBuilt, (s.sparkContext.applicationId, dir)) {
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
      s.sql(s"CREATE TABLE graft.$ns.docs_m (doc_id BIGINT, text STRING)")
      graft.sources.PostingsMaintenance.createPostingsTable(
        s, "graft", s"$ns.postings_m")
      Tables.documents(s, dir).filter(col("doc_id") % 2 === 0)
        .select("doc_id", "text").writeTo(s"graft.$ns.docs_m").append()
      graft.sources.PostingsMaintenance.refresh(
        s, "graft", s"$ns.docs_m", s"$ns.postings_m")
      Tables.documents(s, dir).filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text").writeTo(s"graft.$ns.docs_m").append()
      graft.sources.PostingsMaintenance.refresh(
        s, "graft", s"$ns.docs_m", s"$ns.postings_m")
    }
    val props = s.sql(s"SHOW TBLPROPERTIES graft.$ns.postings_m").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    (s"graft.$ns.postings_m",
      props("bm25.n-docs").toLong, props("bm25.sum-dl").toLong)
  }

  /** Deterministic sub-split of oversized clusters: rows keep their
    * columns and gain a `sub` shard id in [0, ⌈size/cap⌉) from
    * xxhash64(vec_id) — clusters at or under the cap get the single shard
    * 0. Sizes come from one k-row aggregate broadcast back onto the data,
    * so the split adds no extra full shuffle beyond the cluster-keyed one
    * the caller already pays. */
  private[graft] def shardClusters(assigned: DataFrame, clusterCap: Int): DataFrame = {
    val sizes = assigned.groupBy("cluster").agg(count(lit(1)).as("csz"))
    assigned.join(broadcast(sizes), Seq("cluster"))
      .withColumn("nsub",
        greatest(lit(1L), ceil(col("csz").cast("double") / clusterCap).cast("long")))
      .withColumn("sub", pmod(xxhash64(col("vec_id")), col("nsub")))
      .drop("csz", "nsub")
  }

  /** SemDeDup core, parameterized on codebook and cluster cap: assign each
    * vector to its nearest broadcast centroid, sub-split any cluster whose
    * population exceeds `clusterCap` into ⌈size/cap⌉ hash-ranked shards,
    * generate candidate pairs within a (cluster, shard) equi-join bucket
    * only, and drop the higher id of any pair at cosine >= tau. With every
    * cluster under the cap the shard id is constantly 0 and the result is
    * exactly the uncapped SemDeDup; above it, per-shard work is bounded at
    * cap² rows at a recall cost confined to the split cluster. Cluster
    * sizes are one tiny aggregate (k rows, broadcast back), never a
    * driver collect. */
  private[graft] def semanticDedup(emb: DataFrame, cents: DataFrame,
      tau: Double, clusterCap: Int): DataFrame = {
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("csim").desc, col("cluster"))
    val assigned = emb.join(broadcast(cents))
      .withColumn("csim", cosineNative(col("embedding"), col("centroid")))
      .withColumn("crn", row_number().over(wAssign))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("cluster"), col("embedding"))
    val sharded = shardClusters(assigned, clusterCap)
      .select(col("vec_id"), col("cluster"), col("sub"), col("embedding"))
    val a = sharded.select(col("vec_id").as("va"), col("cluster"), col("sub"),
      col("embedding").as("ea"))
    val b = sharded.select(col("vec_id").as("vb"), col("cluster"), col("sub"),
      col("embedding").as("eb"))
    val dups = a.join(b, Seq("cluster", "sub"))
      .filter(col("va") < col("vb"))
      .withColumn("s", cosineNative(col("ea"), col("eb")))
      .filter(col("s") >= tau)
      .groupBy(col("vb").as("vec_id"))
      .agg(min(col("va")).as("dup_of"), count(lit(1)).as("n_dups"))
    assigned.select("vec_id", "cluster")
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("dup_of").isNull, "keep").otherwise("drop").as("verdict"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"))
      .orderBy("vec_id")
  }

  /** Integer Lloyd's algorithm (see the q139 entry for the determinism
    * contract). Returns one row per non-empty final cluster:
    * (cluster, n, min_vec, max_vec, inertia_q, csum, cnorm2) — the last
    * two are exact integer checksums of the final updated centroids, so
    * an oracle mismatch pinpoints whether assignment or update diverged.
    * Empty clusters keep their previous centroid (left-join + coalesce),
    * never resurrect a driver-side value. */
  /** Milli-unit quantization of the embedding corpus — the integer
    * representation every Lloyd step works in. */
  private[graft] def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      transform(col("embedding"),
        x => (round(x.cast("double") * 1000) + 1000).cast("long")).as("qvec"))

  /** The Lloyd loop itself, factored so TRAINING (q139) and the
    * CODEBOOK CONSUMERS (q106/q48/q134 via [[codebookTable]]) share one
    * definition. Returns (final centroids (cluster, cvec), final
    * assignment (vec_id, cluster, qvec, d2)). */
  private[graft] def kmeansFit(emb: DataFrame, k: Int,
      iters: Int): (DataFrame, DataFrame) = {
    import graft.functions.HashFunctions.md5Code60
    // nonnegative milli-unit quantization: components sit in (-1, 1), so
    // +1000 keeps every cell >= 0 and `sum div n` truncation engine-safe
    val qemb = quantized(emb)
      .localCheckpoint() // the stationary input of every iteration
    val wSeed = Window.orderBy(col("hk"), col("vec_id"))
    var cents = qemb
      .withColumn("hk", md5Code60(concat(lit("km:"), col("vec_id").cast("string"))))
      .orderBy(col("hk"), col("vec_id")).limit(k) // bounded: k rows
      .withColumn("cluster", (row_number().over(wSeed) - 1).cast("long"))
      .select(col("cluster"), col("qvec").as("cvec"))
      .localCheckpoint()
    var assigned: DataFrame = null
    for (_ <- 1 to iters) {
      val wAssign = Window.partitionBy("vec_id").orderBy(col("d2"), col("cluster"))
      assigned = qemb.join(broadcast(cents))
        .withColumn("d2", graft.plans.L2SqExpr.l2sqNative(col("qvec"), col("cvec")))
        .withColumn("rn", row_number().over(wAssign))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cluster"), col("qvec"), col("d2"))
        .localCheckpoint()
      val updated = assigned
        .select(col("cluster"), posexplode(col("qvec")))
        .groupBy(col("cluster"), (col("pos") + 1).as("dim"))
        .agg(sum(col("col")).as("sx"), count(lit(1)).as("n"))
        .withColumn("c", expr("sx div n"))
        .groupBy("cluster")
        .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("cells"))
        .select(col("cluster"), transform(col("cells"), s => s.getField("c")).as("newvec"))
      cents = cents.withColumnRenamed("cvec", "oldvec")
        .join(updated, Seq("cluster"), "left")
        .select(col("cluster"), coalesce(col("newvec"), col("oldvec")).as("cvec"))
        .localCheckpoint()
    }
    (cents, assigned)
  }

  private[graft] def kmeansTrain(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val (cents, assigned) = kmeansFit(emb, k, iters)
    kmeansStats(cents, assigned)
  }

  private def kmeansStats(cents: DataFrame, assigned: DataFrame): DataFrame = {
    val stats = assigned.groupBy("cluster").agg(
      count(lit(1)).as("n"),
      min(col("vec_id")).as("min_vec"),
      max(col("vec_id")).as("max_vec"),
      sum(col("d2")).as("inertia_q"))
    val sums = cents.select(col("cluster"),
      aggregate(col("cvec"), lit(0L), (a, v) => a + v).as("csum"),
      aggregate(col("cvec"), lit(0L), (a, v) => a + v * v).as("cnorm2"))
    stats.join(broadcast(sums), Seq("cluster")).orderBy("cluster")
  }

  /** The fixture corpus Lloyd fit, trained once per (application, dir,
    * k) and shared by q139 and [[codebookTable]]. */
  private[graft] def kmeansFitMemo(s: SparkSession, dir: String,
      k: Int): (DataFrame, DataFrame) =
    memoFit(s, dir, s"kmfit:$k")(kmeansFit(Tables.embeddings(s, dir), k, KmIters))

  /** Once-per-(application, sf-dir) TRAINED CODEBOOK at rest: q139's
    * Lloyd output persisted as a manifest table — (cluster, quantized
    * centroid cells) — so the codebook consumers (q106 assignment, q48
    * IVF coarse quantizer, q134 SemDeDup) read the REAL trained
    * centroids instead of the "first k vectors" stand-in. The table is
    * the composition seam a production pipeline has anyway: train once,
    * publish the codebook, every downstream job reads it by name. */
  private val codebookBuilt =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String, Int)]()
  private[graft] def codebookTable(s: SparkSession, dir: String): String = {
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
      s.sparkContext.applicationId
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val ns = s"db${Integer.toHexString(dir.hashCode)}"
    val k = centroidsFor(s) // k in the memo key AND the name: a session
                            // retune trains a NEW codebook, never reuses
    buildOnce(codebookBuilt, (s.sparkContext.applicationId, dir, k)) {
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
      s.sql(s"CREATE TABLE graft.$ns.codebook_k$k (cluster BIGINT, cvec ARRAY<BIGINT>)")
      val (cents, _) = kmeansFitMemo(s, dir, k)
      cents.writeTo(s"graft.$ns.codebook_k$k").append()
    }
    s"graft.$ns.codebook_k$k"
  }

  /** The trained codebook dequantized for cosine consumers:
    * (cluster, centroid ARRAY<FLOAT>). Every value derives from the
    * stored integers by the same two IEEE ops in any engine
    * ((c−1000)/1000.0 then narrow to float), so the DuckDB oracle
    * reproduces the centroids bit-for-bit from its own replay of the
    * training rounds. */
  private[graft] def trainedCents(s: SparkSession, dir: String): DataFrame =
    s.table(codebookTable(s, dir)).select(col("cluster"),
      transform(col("cvec"),
        c => ((c - lit(1000L)).cast("double") / lit(1000.0)).cast("float"))
        .as("centroid"))

  /** The integer Lloyd loop unrolled to [[KmIters]] CTE rounds in long
    * (cluster, dim, c) form — the representation differs from Spark's
    * wide arrays but every integer is the same. Shared verbatim by the
    * q139 oracle AND (through [[trainedCentsSql]]) the q48/q106/q134
    * oracles, which replay the SAME training the Spark side reads from
    * the codebook table. Ends with a$KmIters (final assignment) and
    * c$KmIters (final centroids). */
  private[operators] def kmeansCtesSql: String = kmeansCtesSqlFrom("embeddings")

  /** [[kmeansCtesSql]] with the TRAINING SOURCE a parameter — q185
    * trains its maintained index's codebooks on the first arrival batch
    * only, so its oracle replays the rounds over that subset. */
  private[operators] def kmeansCtesSqlFrom(src: String): String = {
    import graft.functions.HashFunctions.md5Code60Sql
    val hk = md5Code60Sql("'km:' || CAST(vec_id AS VARCHAR)")
    def round(i: Int): String = {
      val prev = s"c${i - 1}"
      s"""d$i AS (
         |  SELECT q.vec_id, c.cluster, sum((q.x - c.c) * (q.x - c.c)) AS d2
         |  FROM qv q JOIN $prev c USING (dim) GROUP BY 1, 2),
         |a$i AS (
         |  SELECT vec_id, cluster, d2 FROM (
         |    SELECT vec_id, cluster, d2,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
         |    FROM d$i) WHERE rn = 1),
         |u$i AS (
         |  SELECT cluster, dim, sx // n AS c FROM (
         |    SELECT a.cluster, q.dim, sum(q.x) AS sx, count(*) AS n
         |    FROM a$i a JOIN qv q USING (vec_id) GROUP BY 1, 2)),
         |c$i AS (
         |  SELECT p.cluster, p.dim, coalesce(u.c, p.c) AS c
         |  FROM $prev p LEFT JOIN u$i u USING (cluster, dim))""".stripMargin
    }
    s"""qv AS (
       |  SELECT vec_id, d.d AS dim,
       |    CAST(round(CAST(embedding[d.d] AS DOUBLE) * 1000) AS BIGINT) + 1000 AS x
       |  FROM $src src_t, (SELECT unnest(generate_series(1, $Dim)) AS d) d),
       |seeds AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY h, vec_id) - 1 AS cluster
       |  FROM (SELECT vec_id, $hk AS h FROM $src src_s)
       |  ORDER BY h, vec_id LIMIT $NumCentroids),
       |c0 AS (SELECT s.cluster, q.dim, q.x AS c FROM seeds s JOIN qv q USING (vec_id)),
       |${(1 to KmIters).map(round).mkString(",\n")}""".stripMargin
  }

  /** CTE prefix ending in `cents(cluster, centroid)`: the TRAINED
    * dequantized codebook — (c−1000)/1000.0 narrowed to REAL, the same
    * two IEEE ops Spark's [[trainedCents]] applies to the same stored
    * integers, so both engines score against bit-identical floats. */
  private def trainedCentsSql: String =
    s"""$kmeansCtesSql,
       |cents AS (
       |  SELECT cluster,
       |    list(CAST(CAST(c - 1000 AS DOUBLE) / 1000.0 AS REAL) ORDER BY dim)
       |      AS centroid
       |  FROM c$KmIters GROUP BY cluster)""".stripMargin

  /** q139's oracle: the shared Lloyd rounds + final stats. */
  private def kmeansTrainSql: String = {
    val t = KmIters
    s"""WITH $kmeansCtesSql
       |SELECT s1.cluster, s1.n, s1.min_vec, s1.max_vec, s1.inertia_q,
       |  s2.csum, s2.cnorm2
       |FROM (
       |  SELECT cluster, CAST(count(*) AS BIGINT) AS n, min(vec_id) AS min_vec,
       |    max(vec_id) AS max_vec, CAST(sum(d2) AS BIGINT) AS inertia_q
       |  FROM a$t GROUP BY 1) s1
       |JOIN (
       |  SELECT cluster, CAST(sum(c) AS BIGINT) AS csum,
       |    CAST(sum(c * c) AS BIGINT) AS cnorm2
       |  FROM c$t GROUP BY 1) s2 USING (cluster)
       |ORDER BY cluster""".stripMargin
  }

  // ---- DuckDB oracle ------------------------------------------------------

  /** Sequential-fold dot product — same order as Spark's aggregate HOF
    * (list_reduce's implicit first-element init == fold from 0.0). */
  private def dotSql(a: String, b: String): String =
    s"""list_reduce(list_transform(generate_series(1, $Dim),
       | i -> CAST(($a)[i] AS DOUBLE) * CAST(($b)[i] AS DOUBLE)), (x, y) -> x + y)""".stripMargin.replace("\n", " ")

  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  private val bucketSql =
    s"""list_reduce(list_reverse(list_transform(generate_series(0, ${Planes - 1}), j ->
       | CAST(CASE WHEN list_reduce(list_transform(generate_series(1, $Dim),
       |   c -> CAST(embedding[c] AS DOUBLE) *
       |        (CAST((j*64 + c - 1) * 2654435761 % 1000003 AS DOUBLE)/1000003.0 - 0.5)),
       |   (x, y) -> x + y) > 0 THEN 1 ELSE 0 END AS BIGINT))),
       | (acc, b) -> acc*2 + b)""".stripMargin.replace("\n", " ")

  /** Oracle fragment: CTEs `semb` + `$out(doc_id)` — the q204
    * semantically contaminated TRAIN ids (vec_id%10=0 eval stratum,
    * LSH-bucket candidates, cosine >= [[SemContamBp]]), for the
    * composed pipeline's quarantine join (vec ids are doc ids). */
  private[operators] def semContamIdsCteSql(out: String): String =
    s"""semb AS MATERIALIZED (
       |  SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
       |$out AS MATERIALIZED (
       |  SELECT DISTINCT t.vec_id AS doc_id
       |  FROM semb t JOIN semb e ON t.bucket = e.bucket
       |    AND e.vec_id % 10 = 0 AND t.vec_id % 10 <> 0
       |  WHERE CAST(floor((${cosSql("t.embedding", "e.embedding")}) * 10000)
       |    AS BIGINT) >= $SemContamBp)""".stripMargin

  val oracle: Map[String, String] = Map(
    // both pipelines replayed, intersected per probe
    "q194_ann_recall" ->
      s"""WITH $trainedCentsSql,
         |ex AS (SELECT probe_id, cand_id FROM (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${cosSql("p.embedding", "c.embedding")} DESC, c.vec_id) AS rn
         |  FROM embeddings p JOIN embeddings c ON p.vec_id != c.vec_id
         |  WHERE p.vec_id < $NumProbes) WHERE rn <= $TopK),
         |sim AS (SELECT e.vec_id, e.embedding, c.cluster AS cent_id,
         |    ${cosSql("e.embedding", "c.centroid")} AS csim
         |  FROM embeddings e CROSS JOIN cents c),
         |a AS (SELECT vec_id, embedding, cent_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crn
         |  FROM sim),
         |lists AS (SELECT vec_id AS cand_id, embedding AS ce, cent_id AS list_id
         |  FROM a WHERE crn = 1),
         |probes AS (SELECT vec_id AS probe_id, embedding AS pe, cent_id AS list_id
         |  FROM a WHERE vec_id < $NumProbes AND crn <= 2),
         |annk AS (SELECT probe_id, cand_id FROM (
         |  SELECT probe_id, cand_id,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn
         |  FROM (SELECT probe_id, cand_id, ${cosSql("p.pe", "l.ce")} AS score
         |    FROM probes p JOIN lists l USING (list_id)
         |    WHERE probe_id != cand_id)) WHERE rn <= $TopK)
         |SELECT probe_id, $TopK AS k, hits,
         |  CAST(hits * 10000 // $TopK AS BIGINT) AS recall_bp
         |FROM (SELECT e.probe_id, CAST(count(a.cand_id) AS BIGINT) AS hits
         |  FROM ex e LEFT JOIN annk a
         |    ON e.probe_id = a.probe_id AND e.cand_id = a.cand_id
         |  GROUP BY e.probe_id)
         |ORDER BY probe_id""".stripMargin,

    "q44_cosine_topk" ->
      s"""SELECT probe_id, cand_id, rn, score FROM (
         |  SELECT probe_id, cand_id,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn, score
         |  FROM (
         |    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         |      ${cosSql("p.embedding", "c.embedding")} AS score
         |    FROM embeddings p JOIN embeddings c ON p.vec_id != c.vec_id
         |    WHERE p.vec_id < $NumProbes))
         |WHERE rn <= $TopK ORDER BY probe_id, rn""".stripMargin,

    "q173_margin_mining" ->
      s"""WITH meb AS MATERIALIZED (
         |  SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
         |mpr AS MATERIALIZED (
         |  SELECT vec_id AS probe_id, embedding AS pe, bucket FROM meb
         |  WHERE vec_id % 2 = 0 AND vec_id < ${NumProbes * 2}),
         |mcd AS MATERIALIZED (
         |  SELECT vec_id AS cand_id, embedding AS ce, bucket FROM meb
         |  WHERE vec_id % 2 = 1),
         |mpair AS MATERIALIZED (
         |  SELECT probe_id, cand_id, cos_u FROM (
         |    SELECT probe_id, cand_id,
         |      CAST(floor((${cosSql("pe", "ce")}) * 1000000) AS BIGINT) AS cos_u
         |    FROM mpr JOIN mcd USING (bucket))
         |  WHERE cos_u > 0),
         |mna AS MATERIALIZED (
         |  SELECT probe_id, CAST(sum(cos_u) // count(*) AS BIGINT) AS na_u FROM (
         |    SELECT probe_id, cos_u, row_number() OVER (
         |      PARTITION BY probe_id ORDER BY cos_u DESC, cand_id) AS rn
         |    FROM mpair) WHERE rn <= $MarginK GROUP BY probe_id),
         |mnb AS MATERIALIZED (
         |  SELECT cand_id, CAST(sum(cos_u) // count(*) AS BIGINT) AS nb_u FROM (
         |    SELECT cand_id, cos_u, row_number() OVER (
         |      PARTITION BY cand_id ORDER BY cos_u DESC, probe_id) AS rn
         |    FROM mpair) WHERE rn <= $MarginK GROUP BY cand_id)
         |SELECT probe_id, cand_id, cos_u,
         |  CAST(margin_ppm AS BIGINT) AS margin_ppm FROM (
         |  SELECT p.probe_id, p.cand_id, p.cos_u,
         |    p.cos_u * 1000000 // ((na_u + nb_u) // 2) AS margin_ppm,
         |    row_number() OVER (PARTITION BY p.probe_id
         |      ORDER BY p.cos_u * 1000000 // ((na_u + nb_u) // 2) DESC,
         |        p.cand_id) AS rn
         |  FROM mpair p JOIN mna USING (probe_id) JOIN mnb USING (cand_id)
         |  WHERE (na_u + nb_u) // 2 > 0)
         |WHERE rn = 1 ORDER BY probe_id""".stripMargin,

    "q45_ann_lsh" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings)
         |SELECT probe_id, cand_id, rn, score FROM (
         |  SELECT probe_id, cand_id,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn, score
         |  FROM (
         |    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         |      ${cosSql("p.embedding", "c.embedding")} AS score
         |    FROM b p JOIN b c ON p.bucket = c.bucket AND p.vec_id != c.vec_id
         |    WHERE p.vec_id < $NumProbes))
         |WHERE rn <= $TopK ORDER BY probe_id, rn""".stripMargin,

    "q47_embedding_neardup" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings)
         |SELECT vec_a, vec_b, CAST(round(score * 10000) AS BIGINT) AS score_bp FROM (
         |  SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
         |    ${cosSql("a.embedding", "c.embedding")} AS score
         |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
         |WHERE score >= 0.3 ORDER BY vec_a, vec_b""".stripMargin,

    "q204_semantic_decontaminate" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
         |e AS (SELECT vec_id AS eval_id, embedding AS ee, bucket FROM b WHERE vec_id % 10 = 0),
         |t AS (SELECT vec_id AS train_id, embedding AS te, bucket FROM b WHERE vec_id % 10 <> 0),
         |p AS (SELECT train_id, eval_id,
         |    CAST(floor((${cosSql("te", "ee")}) * 10000) AS BIGINT) AS score_bp
         |  FROM t JOIN e USING (bucket))
         |SELECT train_id, eval_id, score_bp, n_hits FROM (
         |  SELECT train_id, eval_id, score_bp,
         |    count(*) OVER (PARTITION BY train_id) AS n_hits,
         |    row_number() OVER (PARTITION BY train_id
         |      ORDER BY score_bp DESC, eval_id) AS rn
         |  FROM p WHERE score_bp >= $SemContamBp)
         |WHERE rn = 1 ORDER BY train_id""".stripMargin,

    "q48_ivf_ann" ->
      s"""WITH $trainedCentsSql,
         |sim AS (SELECT e.vec_id, e.embedding, c.cluster AS cent_id,
         |    ${cosSql("e.embedding", "c.centroid")} AS csim
         |  FROM embeddings e CROSS JOIN cents c),
         |a AS (SELECT vec_id, embedding, cent_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crn
         |  FROM sim),
         |lists AS (SELECT vec_id AS cand_id, embedding AS ce, cent_id AS list_id
         |  FROM a WHERE crn = 1),
         |probes AS (SELECT vec_id AS probe_id, embedding AS pe, cent_id AS list_id
         |  FROM a WHERE vec_id < $NumProbes AND crn <= 2)
         |SELECT probe_id, cand_id, rn, score FROM (
         |  SELECT probe_id, cand_id,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn, score
         |  FROM (
         |    SELECT probe_id, cand_id, ${cosSql("p.pe", "l.ce")} AS score
         |    FROM probes p JOIN lists l USING (list_id)
         |    WHERE probe_id != cand_id))
         |WHERE rn <= $TopK ORDER BY probe_id, rn""".stripMargin,

    "q46_embedding_stats" ->
      s"""SELECT vec_id, label, CAST(len(embedding) AS INTEGER) AS dim,
         |  ${dotSql("embedding", "embedding")} AS norm_sq,
         |  sqrt(${dotSql("embedding", "embedding")}) AS l2_norm
         |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q106_kmeans_assign" ->
      s"""WITH $trainedCentsSql,
         |sim AS (SELECT e.vec_id, e.label, c.cluster,
         |    ${cosSql("e.embedding", "c.centroid")} AS csim
         |  FROM embeddings e CROSS JOIN cents c),
         |a AS (SELECT vec_id, label, cluster,
         |    CAST(round(csim * 10000) AS BIGINT) AS csim_bp,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cluster) AS crn
         |  FROM sim)
         |SELECT cluster, count(*) AS n, count(DISTINCT label) AS n_labels,
         |  min(vec_id) AS min_vec, max(vec_id) AS max_vec,
         |  CAST(sum(csim_bp) AS BIGINT) AS sum_sim_bp,
         |  CAST(sum(csim_bp) AS BIGINT) // count(*) AS avg_sim_bp
         |FROM a WHERE crn = 1 GROUP BY cluster ORDER BY cluster""".stripMargin,

    "q134_semantic_dedup" ->
      s"""WITH $trainedCentsSql,
         |sim AS (SELECT e.vec_id, e.embedding, c.cluster,
         |    ${cosSql("e.embedding", "c.centroid")} AS csim
         |  FROM embeddings e CROSS JOIN cents c),
         |a AS (SELECT vec_id, embedding, cluster,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cluster) AS crn
         |  FROM sim),
         |asg AS (SELECT vec_id, embedding, cluster FROM a WHERE crn = 1),
         |d AS (SELECT y.vec_id, min(x.vec_id) AS dup_of, count(*) AS n_dups
         |  FROM asg x JOIN asg y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
         |  WHERE ${cosSql("x.embedding", "y.embedding")} >= $SemDedupTau
         |  GROUP BY y.vec_id)
         |SELECT v.vec_id, v.cluster,
         |  CASE WHEN d.vec_id IS NULL THEN 'keep' ELSE 'drop' END AS verdict,
         |  coalesce(d.dup_of, CAST(-1 AS BIGINT)) AS dup_of,
         |  CAST(coalesce(d.n_dups, 0) AS BIGINT) AS n_dups
         |FROM asg v LEFT JOIN d ON d.vec_id = v.vec_id ORDER BY v.vec_id""".stripMargin,

    "q139_kmeans_train" -> kmeansTrainSql,

    // identical to q45's relation: the at-rest layout must change I/O,
    // never the answer
    "q140_ann_at_rest" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings)
         |SELECT probe_id, cand_id, rn, score FROM (
         |  SELECT probe_id, cand_id,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn, score
         |  FROM (
         |    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         |      ${cosSql("p.embedding", "c.embedding")} AS score
         |    FROM b p JOIN b c ON p.bucket = c.bucket AND p.vec_id != c.vec_id
         |    WHERE p.vec_id < $NumProbes))
         |WHERE rn <= $TopK ORDER BY probe_id, rn""".stripMargin,

    "q144_bm25" ->
      s"""WITH $bm25ScoredSql
         |SELECT doc_id, score_mb, rn FROM (
         |  SELECT doc_id, score_mb,
         |    row_number() OVER (ORDER BY score_mb DESC, doc_id) AS rn
         |  FROM scored)
         |WHERE rn <= $Bm25TopK ORDER BY rn""".stripMargin,

    // identical to q144's relation: the at-rest index must change I/O,
    // never the answer
    "q148_bm25_at_rest" ->
      s"""WITH $bm25ScoredSql
         |SELECT doc_id, score_mb, rn FROM (
         |  SELECT doc_id, score_mb,
         |    row_number() OVER (ORDER BY score_mb DESC, doc_id) AS rn
         |  FROM scored)
         |WHERE rn <= $Bm25TopK ORDER BY rn""".stripMargin,

    "q158_postings_maintained" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS toks
        |  FROM documents),
        |d AS (SELECT doc_id, len(toks) AS dl, toks FROM toks),
        |p AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
        |pt AS (SELECT term, doc_id, dl, count(*) AS tf FROM p GROUP BY 1, 2, 3),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(dl), 0) AS BIGINT) AS sum_dl FROM d)
        |SELECT term, CAST(count(*) AS BIGINT) AS df,
        |  CAST(sum(tf) AS BIGINT) AS tf_sum, CAST(sum(dl) AS BIGINT) AS dl_sum,
        |  c.n_docs, c.sum_dl
        |FROM pt, c GROUP BY term, c.n_docs, c.sum_dl ORDER BY term""".stripMargin,

    "q145_rrf_fusion" ->
      s"""WITH $bm25ScoredSql,
         |lex AS (
         |  SELECT doc_id, rn AS r_lex FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY score_mb DESC, doc_id) AS rn
         |    FROM scored) WHERE rn <= $RetrievalK),
         |sem0 AS (
         |  SELECT c.vec_id AS doc_id, ${cosSql("p.embedding", "c.embedding")} AS score
         |  FROM embeddings p JOIN embeddings c ON c.vec_id != $RrfProbeId
         |  WHERE p.vec_id = $RrfProbeId),
         |sem AS (
         |  SELECT doc_id, rn AS r_sem FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rn
         |    FROM sem0) WHERE rn <= $RetrievalK),
         |fused AS (
         |  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.r_lex, s.r_sem,
         |    CAST(round((coalesce(1.0 / ($RrfC + l.r_lex), 0.0) +
         |                coalesce(1.0 / ($RrfC + s.r_sem), 0.0)) * 1e6) AS BIGINT)
         |      AS fused_ppm
         |  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id)
         |SELECT doc_id, r_lex, r_sem, fused_ppm, rn FROM (
         |  SELECT doc_id, r_lex, r_sem, fused_ppm,
         |    row_number() OVER (ORDER BY fused_ppm DESC, doc_id) AS rn
         |  FROM fused)
         |WHERE rn <= $TopK ORDER BY rn""".stripMargin)

  /** The BM25 scorer as DuckDB CTEs (ends with `scored(doc_id,
    * score_mb)`) — expression-for-expression the same associativity as
    * [[bm25Scored]] so the doubles agree before quantization. */
  private def bm25ScoredSql: String =
    s"""toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS toks
       |  FROM documents),
       |d AS (SELECT doc_id, len(toks) AS dl, toks FROM toks),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM d),
       |tf AS (
       |  SELECT doc_id, dl, term, count(*) AS tf FROM (
       |    SELECT doc_id, dl, unnest(toks) AS term FROM d)
       |  WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
       |  GROUP BY 1, 2, 3),
       |dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT t.doc_id,
       |    CAST(round(sum(
       |      ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5)) * t.tf * ${Bm25K1 + 1.0} /
       |      (t.tf + $Bm25K1 * (${1.0 - Bm25B} +
       |        $Bm25B * t.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
       |    ) * 1000) AS BIGINT) AS score_mb
       |  FROM tf t JOIN dfs f USING (term) CROSS JOIN stats s
       |  GROUP BY 1)""".stripMargin
}
