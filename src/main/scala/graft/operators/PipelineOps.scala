package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.functions.GraftFunctions._
import graft.functions.HashFunctions._
import graft.plans.BpeApplyExpr

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between ingestion and training — the decision layer on top of the
  * text-analysis (TextOps) and dedup (DedupOps) primitives:
  *
  *   - q78 TF-IDF top-k terms — rarity-weighted term importance per doc
  *   - q79 stratified sampling cap — at most K docs per language, chosen
  *     by deterministic hash order (reproducible downsampling)
  *   - q80 repetition filter — Gopher-style repetition metrics (top-token
  *     fraction, duplicate-bigram fraction) with a keep/drop verdict
  *   - q81 CDC latest-wins upsert — materialize the current state per key
  *     from an event changelog (the bronze→silver merge step)
  *   - q83 token-budget shard packing — assign docs to ~fixed-token
  *     training shards per language (running-sum window per stratum)
  *   - q84 SCD2 interval build — order history → validity intervals
  *     (valid_from / valid_to / is_current) via per-key lead()
  *
  * Scale posture: all scoring is explode → groupBy (map-side combining,
  * shuffle bounded by vocabulary or key cardinality, never by corpus
  * size); sampling and upsert are rank-1 window filters that Spark
  * executes as WindowGroupLimit (only ~K rows per group survive the
  * exchange). All ratios are integer basis points — no float thresholds
  * to drift between engines.
  */
object PipelineOps {
  type Q = (SparkSession, String) => DataFrame

  /** Docs per language kept by the stratified sampler. */
  val SampleCap = 20

  val queries: Map[String, Q] = Map(
    // TF-IDF with an integer-scaled score: tf * 1e6 div df. The constant
    // N (corpus size) factor is dropped — it does not change per-doc
    // ranking — which keeps the score exact integer arithmetic. df comes
    // from the full corpus; the probe set (doc_id < 50) only bounds the
    // emitted rows. The df join is a token-keyed equi-join (vocabulary-
    // bounded shuffle, NOT broadcast: at 100 TB the vocabulary need not
    // fit in one executor).
    "q78_tfidf_topk" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("token"))
      tf.filter(col("doc_id") < 50)
        .join(dfreq, "token")
        .withColumn("score", expr("tf * 1000000 div df"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("doc_id", "rn", "token", "tf", "df", "score")
        .orderBy("doc_id", "rn")
    }),

    // Deterministic stratified downsampling: cap each language at
    // SampleCap docs, selected by md5-hash order — the reproducible
    // analog of `TABLESAMPLE` for per-domain/per-language quota
    // enforcement. The rank filter compiles to WindowGroupLimit, so only
    // ~K rows per stratum survive the shuffle regardless of corpus size.
    "q79_stratified_sample" -> ((s, dir) => {
      val w = Window.partitionBy("lang").orderBy(col("hk"), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          md5Code60(concat(lit("smp:"), col("doc_id").cast("string"))).as("hk"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= SampleCap)
        .select("lang", "rn", "doc_id", "hk")
        .orderBy("lang", "rn")
    }),

    // Temperature-based corpus mixing (public method: the multilingual
    // sampling rule of XLM-R / mBERT — sample language l proportional to
    // N_l^(1/T); T=2 here, i.e. sqrt, which upweights low-resource
    // languages against the head). Quotas are derived from EXACT integer
    // square roots (double sqrt corrected by ±1 so both engines agree at
    // perfect-square boundaries), the budget is half the corpus, and
    // selection within a language is the deterministic md5-hash ranking
    // (q79's reproducible-sample idiom, a WindowGroupLimit plan). Output
    // is the per-language mixing ledger: corpus count, quota, sampled
    // count, and the before/after shares in basis points.
    "q137_temperature_mix" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // exact isqrt: start from the double sqrt, correct the boundary
      def isqrt(n: org.apache.spark.sql.Column) = {
        val s0 = floor(sqrt(n.cast("double"))).cast("long")
        val down = when(s0 * s0 > n, s0 - 1).otherwise(s0)
        when((down + 1) * (down + 1) <= n, down + 1).otherwise(down)
      }
      val stats = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .withColumn("w", isqrt(col("n_docs")))
      val tot = stats.agg(sum(col("n_docs")).as("total"), sum(col("w")).as("wsum"))
      val quotas = stats.crossJoin(broadcast(tot))
        .withColumn("quota", expr("(total div 2) * w div wsum"))
        .select("lang", "n_docs", "quota", "total")
      val rankW = Window.partitionBy("lang").orderBy(col("hk"), col("doc_id"))
      val sampled = docs
        .select(col("doc_id"), col("lang"),
          md5Code60(concat(lit("mix:"), col("doc_id").cast("string"))).as("hk"))
        .withColumn("rn", row_number().over(rankW))
        .join(broadcast(quotas), "lang")
        .filter(col("rn") <= col("quota"))
        .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
      val mixTot = sampled.agg(sum(col("n_sampled")).as("mix_total"))
      quotas.join(sampled, "lang")
        .crossJoin(broadcast(mixTot))
        .select(col("lang"), col("n_docs"), col("quota"), col("n_sampled"),
          expr("n_docs * 10000 div total").as("orig_bp"),
          expr("n_sampled * 10000 div mix_total").as("mix_bp"))
        .orderBy("lang")
    }),

    // Data-constrained epoch allocation (Muennighoff et al. 2023 shape):
    // given a token budget (60% of the corpus) and per-source unique
    // token counts, decide how many EPOCHS of each source to train on.
    // Repeated data decays in value — the e-th epoch of a source is
    // worth decay(e) of a fresh epoch (1000/500/250/125 milli, capped
    // at 4 epochs, the paper's "repeating ~4 times is nearly free"
    // regime) — so the greedy optimum takes (source, epoch) candidates
    // in marginal-utility order until the budget runs out, clipping the
    // last pick. Scale shape: candidates live at SOURCE cardinality
    // (kilobytes at any corpus size — domains, not documents), so the
    // greedy prefix sum runs on a coalesce(1)'d aggregate: no shuffle,
    // no data-sized single-partition funnel, one corpus scan total.
    "q172_epoch_allocation" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"), size(tokens(col("text"))).cast("long").as("n"))
        .groupBy("source").agg(sum(col("n")).as("u"))
        .coalesce(1)
      val total = toks.agg(sum(col("u")).as("t"))
      val w = Window.orderBy(col("mu").desc, col("source"), col("epoch"))
        .rowsBetween(Window.unboundedPreceding, -1)
      toks.crossJoin(broadcast(total))
        .withColumn("budget", expr("(t * 6) div 10"))
        .withColumn("epoch", explode(sequence(lit(1), lit(4))))
        .withColumn("mu", expr(
          "u * (CASE epoch WHEN 1 THEN 1000 WHEN 2 THEN 500 WHEN 3 THEN 250 ELSE 125 END)"))
        .withColumn("cum_before", coalesce(sum(col("u")).over(w), lit(0L)))
        .withColumn("alloc_tokens", least(col("u"), col("budget") - col("cum_before")))
        .filter(col("alloc_tokens") > 0)
        .select("source", "epoch", "mu", "alloc_tokens")
        .orderBy("source", "epoch")
    }),

    // Repetition-based quality gate (the MassiveText/Gopher rule family):
    // top1_bp = fraction of tokens that are the single most frequent
    // token; dup_bg_bp = fraction of bigrams that are repeats. Both in
    // integer basis points; keep = low repetition on both axes. Token
    // counting is explode → two-level groupBy (map-side combined).
    "q80_repetition_filter" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val tokStats = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max(col("c")).as("top1"), sum(col("c")).as("n_tok"))
      val bg = docs
        .select(col("doc_id"), shingles(col("text"), 2).as("bgs"))
        .select(col("doc_id"), size(col("bgs")).cast("long").as("n_bg"),
          size(array_distinct(col("bgs"))).cast("long").as("n_bg_uniq"))
      tokStats.join(bg, "doc_id")
        .withColumn("top1_bp", expr("top1 * 10000 div n_tok"))
        .withColumn("dup_bg_bp",
          when(col("n_bg") > 0, expr("(n_bg - n_bg_uniq) * 10000 div n_bg"))
            .otherwise(lit(0L)))
        .withColumn("keep",
          when(col("top1_bp") <= 2000 && col("dup_bg_bp") <= 3000, 1).otherwise(0))
        .select("doc_id", "n_tok", "top1_bp", "dup_bg_bp", "keep")
        .orderBy("doc_id")
    }),

    // Token-budget shard packing: assign docs to training shards of ~2000
    // tokens each, per language — the sequencing step before tokenized
    // examples are written out. shard = floor(running tokens BEFORE this
    // doc / budget), a per-stratum running-sum window (partitionable by
    // language/domain — never a global single-partition sort).
    "q83_shard_packing" -> ((s, dir) => {
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          size(tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .withColumn("shard", expr("cum_before div 2000"))
        .select("doc_id", "lang", "n_tok", "shard")
        .orderBy("doc_id")
    }),

    // SCD2 interval build: each customer's order history becomes validity
    // intervals (valid_from, valid_to, is_current) — the temporal-
    // dimension construction step of a warehouse load. lead() over a
    // per-key window; the open interval (null valid_to) marks the
    // current row.
    "q84_scd2_intervals" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("valid_from"), col("o_orderkey"))
      Tables.orders(s, dir)
        .filter(col("o_custkey") < 200)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
          col("o_orderdate").as("valid_from"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
        .withColumn("is_current", when(col("valid_to").isNull, 1).otherwise(0))
        .orderBy("o_custkey", "valid_from", "o_orderkey")
    }),

    // Z-order layout key: 16+16-bit Morton interleave of (user, type)
    // — the multi-column clustering key that makes min/max skipping work
    // for BOTH filter columns at once (LayoutSpec shows single-column
    // range clustering; writing sorted by zkey clusters two). Pure
    // integer arithmetic (div/mod by powers of two), so the oracle
    // reproduces it exactly; emitted as per-bucket stats to stay
    // bounded.
    "q98_zorder_key" -> ((s, dir) => {
      val base = Tables.events(s, dir)
        .withColumn("u16", col("user_id") % lit(65536L))
        .withColumn("t16", md5Code60(col("event_type")) % lit(65536L))
      val z = (0 until 16).map { i =>
        (expr(s"(u16 div ${1L << i}) % 2") * lit(1L << (2 * i))) +
          (expr(s"(t16 div ${1L << i}) % 2") * lit(1L << (2 * i + 1)))
      }.reduce(_ + _)
      base.withColumn("zkey", z)
        .withColumn("zbucket", expr("zkey div 16777216"))
        .groupBy("zbucket")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("event_type")).as("n_types"),
          min(col("zkey")).as("min_z"), max(col("zkey")).as("max_z"))
        .orderBy("zbucket")
    }),

    // Data-quality profile: the ingest-gate summary a pipeline computes
    // before accepting a batch — row/null/distinct counts and value
    // ranges in ONE pass (single partial+final aggregate, one row out).
    "q91_profile" -> ((s, dir) => {
      Tables.documents(s, dir).agg(
        count(lit(1)).as("n_rows"),
        count(col("text")).as("n_text_nonnull"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        sum(col("n_chars")).as("sum_chars"))
    }),

    // The flagship END-TO-END corpus pipeline in one DAG — the composed
    // statement of what a modern training-data run actually executes,
    // each stage the exact algebra of its standalone operator:
    //   1. line-level dedup (q202, CCNet): corpus-frequent lines removed
    //      from every doc, survivors rejoined — the cleaned text feeds
    //      EVERY later stage;
    //   2. Gopher full pack: the q186 quality rules AND the q200
    //      repetition rules over the cleaned text. The stopword rule
    //      runs against the corpus's own top-8 tokens — the list is a
    //      language prior (see gopherRulesWith), and the fixture corpus
    //      contains ZERO English stopwords (measured: ok_stop false on
    //      all 500 docs), so the published English list would zero the
    //      pipeline on any non-English corpus; deriving the list from
    //      the corpus is CCNet's per-language localization, stated in
    //      both engines;
    //   3. MinHash/LSH near-dup removal (q41): drop the higher id of
    //      every verified pair among the gated survivors;
    //   4. decontamination: the eval stratum (doc_id%5=0, q136's split)
    //      leaves the training set, and with it every train doc leaking
    //      an eval doc VERBATIM (shared 20-token window, q136) or
    //      SEMANTICALLY (LSH-bucket cosine >= q204's threshold against
    //      the vec_id%10=0 eval embeddings — vec ids are doc ids);
    //   5. BPE sequence packing (q170): tokenize under the q166 merges
    //      (trained once on the raw corpus) and pack per-language
    //      PackSeqLen-token training rows.
    // The q168/q169 distilled probe is deliberately NOT a stage: its
    // features are the n_tok<=20 / n_tok<=40 dummies, identically zero
    // past Gopher's >=50-word floor, so on the gated population the
    // probe is CONSTANT (every survivor scores w0 — measured 56 vs the
    // 500 threshold) BY CONSTRUCTION, as filter or as curriculum order.
    // A provably-inert stage is excluded and documented, not carried.
    // Output is the packing manifest per (lang, seq_id). The oracle
    // recomputes the IDENTICAL composition in SQL — line cleaning, both
    // gate packs, LSH candidates, both leak sets, the GD probe replay
    // and the BPE replay included. Scale shape: every stage is its
    // standalone operator's plan over a monotonically SHRINKING frame;
    // cross-stage reuse is localCheckpoint staging (at 100 TB: staging
    // tables between phases).
    "q117_corpus_pipeline" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // Guide §2.6 (overlap independent jobs): the raw-corpus stop-list
      // collect, the semantic-contamination scan (embeddings only) and
      // the BPE merge training share NO input with the S1→S3 text chain
      // — launched here, their jobs back-fill the chain's stragglers
      // instead of serializing after it. Joined exactly where consumed.
      val stopsF = graft.engine.Staging.fork(s)(
        docs.select(explode(tokens(col("text"))).as("t"))
          .filter(length(col("t")) >= 1)
          .groupBy("t").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("t")).limit(8)
          .collect().map(_.getString(0)).toSeq)
      val sLeaksF = graft.engine.Staging.fork(s)(graft.engine.Staging.trackCp(
        SimilarityOps.semanticContam(s, Tables.embeddings(s, dir),
            col("vec_id") % 10 === 0, SimilarityOps.SemContamBp)
          .select(col("train_id").as("doc_id"))))
      val mergesF = graft.engine.Staging.fork(s)(
        BpeOps.trainedMerges(s, dir).map(m => (m._2, m._3)))
      // S1: line dedup — cleaned text, staged once for its many readers
      val cleaned = graft.engine.Staging.trackCp(DedupOps.cleanedDocs(docs))
      // S2: Gopher pack + repetition rules on cleaned text; the stop
      // list is the raw corpus's top-8 tokens (tiny, deterministic,
      // bounded driver collect — the trainedMerges pattern)
      val stops = stopsF()
      // both gates are per-document verdicts, so the stage is ONE
      // map-side filter over the cleaned checkpoint (guide §2.4): the
      // old shape re-scanned `cleaned` twice to build two keep-id
      // frames and joined them back — two aggregates plus two joins to
      // express row-local predicates. The boolean kernels also push as
      // single nodes (a filter on the STATS structs' fields would leave
      // one stats kernel copy per field reference after pushdown);
      // ExprPropertySpec pins them against the relational keeps.
      val gated = graft.engine.Staging.trackCp(cleaned.filter(
        graft.plans.GopherKeepExpr.gopherKeep(col("text"), stops) &&
          graft.plans.RepKeepExpr.repKeep(col("text"))))
      // S3: near-dup removal among the gated survivors (cleaned text)
      val losers = DedupOps.nearDupPairsOf(gated, transient = true)
        .select(col("doc_b").as("doc_id")).distinct()
      val deduped = gated.join(losers, Seq("doc_id"), "left_anti")
      // S4: decontamination — eval stratum out, verbatim + semantic leaks out
      val train = deduped.filter(col("doc_id") % 5 =!= 0)
      val evalC = cleaned.filter(col("doc_id") % 5 === 0)
      // vLeaks stays LAZY: its one consumer is the surv anti-join, so a
      // checkpoint here only added a blocking job (the candidate frames
      // inside verbatimLeakIds are still staged)
      val vLeaks = DedupOps.verbatimLeakIds(train, evalC)
      val sLeaks = sLeaksF()
      val surv = train.join(vLeaks, Seq("doc_id"), "left_anti")
        .join(sLeaks, Seq("doc_id"), "left_anti")
        // observe(): funnel counters collected DURING the single final
        // pass (checkpointed stages report via their own jobs; these two
        // live in the output plan) — PipelineObservabilitySpec reconciles
        .observe("pipeline_decontam", count(lit(1)).as("docs_surviving"))
      // S5: BPE sequence packing under the raw-corpus merge table
      PipelineOps.packedSpansOf(surv, mergesF())
        .observe("pipeline_pack",
          count(lit(1)).as("span_rows"),
          sum(col("tok")).as("tokens_packed"))
        .groupBy("lang", "seq_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
      // NO final orderBy: the driver compares sorted multisets, and a
      // global sort's range-partitioner SAMPLE re-executes the stage
      // holding the observe() nodes (measured: every pipeline_pack
      // counter exactly doubled) — one exchange above an observe
      // cannot carry a decorative sort
    }),

    // Latest-wins upsert: collapse an event changelog to the current row
    // per key, ordered by (event time, event_id) — the deterministic
    // batch statement of MERGE INTO ... WHEN MATCHED UPDATE. Rank-1
    // window = WindowGroupLimit; the complement of q63's keep-earliest.
    "q81_cdc_upsert" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("ts_us").as("last_ts_us"), col("event_type").as("last_event_type"),
          cents(col("value")).as("last_value_cents"))
        .orderBy("user_id")
    }),

    // BPE sequence packing — the GPT-style "concatenate and chunk" step
    // that turns a tokenized corpus into fixed-length training rows:
    // documents are tokenized under the q166 trained merge table,
    // concatenated in doc_id order within each language stratum, and cut
    // into [[PackSeqLen]]-token sequences; a document may span several
    // sequences (its span count is ⌈ntok/PackSeqLen⌉+1, never unbounded
    // fan-out). Output is the packing manifest — per sequence: how many
    // docs feed it, its fill (== PackSeqLen except each stratum's tail),
    // and the doc range — exactly what a shard writer consumes. Scale
    // shape: per-doc token counts are one explode→sum aggregate (the
    // q167 plan); the running offset is a PER-STRATUM window (the q83
    // contract — never a global single-partition sort); the span explode
    // is sequence() over two integers.
    "q170_sequence_pack" -> ((s, dir) => {
      packedSpans(s, dir)
        .groupBy("lang", "seq_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("lang", "seq_id")
    }),

    // Curriculum scheduling over the packed sequences — the composition
    // of q170's packing manifest with q168's distilled probe: each
    // training sequence is priced as the token-weighted mean probe
    // score of the documents feeding it (exact integer milli-units),
    // and ranked within its language stratum (quality-descending) — the
    // deterministic "order training data easy-to-hard" schedule a
    // curriculum loader consumes. One keyed join (spans × per-doc
    // scores, both doc_id-keyed), one keyed aggregate, one per-stratum
    // rank window — no global sort, nothing corpus-quadratic.
    "q171_curriculum" -> ((s, dir) => {
      val spans = packedSpans(s, dir)
      val scored = spans.join(CurationOps.probeScores(s, dir), "doc_id")
      val w = Window.partitionBy("lang")
        .orderBy(col("q_milli").desc, col("seq_id"))
      scored.groupBy("lang", "seq_id")
        .agg(sum(col("tok")).as("n_tokens"),
          sum(col("tok") * col("sc")).as("wsum"))
        .withColumn("q_milli", expr("(wsum - pmod(wsum, n_tokens)) div n_tokens"))
        .withColumn("rank", row_number().over(w))
        .select("lang", "seq_id", "n_tokens", "q_milli", "rank")
        .orderBy("lang", "rank")
    }))

  /** q170 training-sequence length (tokens per packed row). */
  val PackSeqLen = 128L

  /** Shared q170/q171 stage: one row per (document, sequence it feeds),
    * with the token count it contributes (`tok`). Per-doc BPE token
    * counts are one explode→sum aggregate (the q167 plan); running
    * offsets are a PER-STRATUM window (the q83 contract — never a
    * global single-partition sort); a doc spans ⌈ntok/PackSeqLen⌉+1
    * sequences at most, so the explode is bounded. */
  private[graft] def packedSpans(s: SparkSession, dir: String): DataFrame =
    packedSpansOf(Tables.documents(s, dir),
      BpeOps.trainedMerges(s, dir).map(m => (m._2, m._3)))

  /** [[packedSpans]] over an arbitrary (doc_id, lang, text) frame under
    * a given merge table — the composed pipeline (q117) packs its
    * cleaned survivors with merges trained once on the raw corpus. */
  private[graft] def packedSpansOf(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val counts = docs
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("doc_id", "lang")
      .agg(sum(size(BpeApplyExpr.bpeApply(col("word"), merges)).cast("long")).as("ntok"))
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    counts
      .withColumn("off_start", coalesce(sum(col("ntok")).over(w), lit(0L)))
      .withColumn("off_end", col("off_start") + col("ntok"))
      .withColumn("seq_id", explode(sequence(
        expr(s"off_start div $PackSeqLen"),
        expr(s"(off_end - 1) div $PackSeqLen"))))
      .withColumn("tok",
        least(col("off_end"), (col("seq_id") + 1) * PackSeqLen)
          - greatest(col("off_start"), col("seq_id") * PackSeqLen))
      .select("lang", "doc_id", "seq_id", "tok")
  }

  // ---- DuckDB oracle ------------------------------------------------------

  private val toksSql = "string_split(text,' ')"

  val oracle: Map[String, String] = Map(
    "q78_tfidf_topk" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
         |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT doc_id, token, tf, df, tf * 1000000 // df AS score
         |  FROM tf JOIN df USING (token) WHERE doc_id < 50)
         |SELECT doc_id, rn, token, tf, df, CAST(score AS BIGINT) AS score FROM (
         |  SELECT doc_id, token, tf, df, score,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rn
         |  FROM sc)
         |WHERE rn <= 5 ORDER BY doc_id, rn""".stripMargin,

    "q79_stratified_sample" -> {
      val hk = md5Code60Sql("'smp:' || CAST(doc_id AS VARCHAR)")
      s"""SELECT lang, rn, doc_id, hk FROM (
         |  SELECT lang, doc_id, hk,
         |    row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn
         |  FROM (SELECT lang, doc_id, $hk AS hk FROM documents))
         |WHERE rn <= $SampleCap ORDER BY lang, rn""".stripMargin
    },

    "q137_temperature_mix" -> {
      val hk = md5Code60Sql("'mix:' || CAST(doc_id AS VARCHAR)")
      s"""WITH st AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         |w0 AS (SELECT lang, n_docs,
         |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS s0 FROM st),
         |w1 AS (SELECT lang, n_docs,
         |    CASE WHEN s0 * s0 > n_docs THEN s0 - 1 ELSE s0 END AS d FROM w0),
         |ws AS (SELECT lang, n_docs,
         |    CASE WHEN (d + 1) * (d + 1) <= n_docs THEN d + 1 ELSE d END AS w FROM w1),
         |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
         |    CAST(sum(w) AS BIGINT) AS wsum FROM ws),
         |q AS (SELECT lang, n_docs, (total // 2) * w // wsum AS quota, total
         |  FROM ws, tot),
         |r AS (SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang ORDER BY $hk, doc_id) AS rn
         |  FROM documents),
         |smp AS (SELECT r.lang, count(*) AS n_sampled
         |  FROM r JOIN q ON q.lang = r.lang WHERE r.rn <= q.quota GROUP BY r.lang),
         |mt AS (SELECT CAST(sum(n_sampled) AS BIGINT) AS mix_total FROM smp)
         |SELECT q.lang, q.n_docs, q.quota, smp.n_sampled,
         |  q.n_docs * 10000 // q.total AS orig_bp,
         |  smp.n_sampled * 10000 // mt.mix_total AS mix_bp
         |FROM q JOIN smp ON smp.lang = q.lang, mt
         |ORDER BY q.lang""".stripMargin
    },

    "q80_repetition_filter" ->
      s"""WITH t AS (SELECT doc_id, t, count(*) AS c FROM (
         |    SELECT doc_id, unnest($toksSql) AS t FROM documents) GROUP BY 1, 2),
         |ts AS (SELECT doc_id, max(c) AS top1, CAST(sum(c) AS BIGINT) AS n_tok
         |  FROM t GROUP BY doc_id),
         |bg AS (SELECT doc_id,
         |    CAST(len(bgs) AS BIGINT) AS n_bg,
         |    CAST(len(list_distinct(bgs)) AS BIGINT) AS n_bg_uniq
         |  FROM (SELECT doc_id, list_transform(
         |      generate_series(1, greatest(len($toksSql) - 1, 0)),
         |      i -> ($toksSql)[i] || ' ' || ($toksSql)[i+1]) AS bgs
         |    FROM documents)),
         |m AS (SELECT ts.doc_id, n_tok,
         |    top1 * 10000 // n_tok AS top1_bp,
         |    CASE WHEN n_bg > 0 THEN (n_bg - n_bg_uniq) * 10000 // n_bg
         |         ELSE 0 END AS dup_bg_bp
         |  FROM ts JOIN bg ON ts.doc_id = bg.doc_id)
         |SELECT doc_id, n_tok, top1_bp, dup_bg_bp,
         |  CASE WHEN top1_bp <= 2000 AND dup_bg_bp <= 3000 THEN 1 ELSE 0 END AS keep
         |FROM m ORDER BY doc_id""".stripMargin,

    "q83_shard_packing" ->
      s"""SELECT doc_id, lang, n_tok, CAST(cum_before // 2000 AS BIGINT) AS shard FROM (
         |  SELECT doc_id, lang, n_tok,
         |    coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM (SELECT doc_id, lang,
         |          CAST(len($toksSql) AS BIGINT) AS n_tok FROM documents))
         |ORDER BY doc_id""".stripMargin,

    "q84_scd2_intervals" ->
      """SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to,
        |  CASE WHEN lead(o_orderdate) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) IS NULL
        |    THEN 1 ELSE 0 END AS is_current
        |FROM orders WHERE o_custkey < 200
        |ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin,

    "q98_zorder_key" -> {
      val t16 = md5Code60Sql("event_type") + " % 65536"
      val zTerms = (0 until 16).map { i =>
        s"((u16 // ${1L << i}) % 2) * ${1L << (2 * i)} + ((t16 // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
      }.mkString(" + ")
      s"""SELECT zkey // 16777216 AS zbucket, count(*) AS n,
         |  count(DISTINCT user_id) AS n_users,
         |  count(DISTINCT event_type) AS n_types,
         |  CAST(min(zkey) AS BIGINT) AS min_z, CAST(max(zkey) AS BIGINT) AS max_z
         |FROM (SELECT user_id, event_type, $zTerms AS zkey
         |  FROM (SELECT user_id, event_type, user_id % 65536 AS u16,
         |          ($t16) AS t16 FROM events))
         |GROUP BY 1 ORDER BY zbucket""".stripMargin
    },

    "q91_profile" ->
      """SELECT count(*) AS n_rows, count(text) AS n_text_nonnull,
        |  count(DISTINCT lang) AS n_langs, count(DISTINCT source) AS n_sources,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents""".stripMargin,

    // The composed pipeline's ground truth restates EVERY stage in SQL
    // over the previous stage's CTE: line cleaning (q202's algebra,
    // text kept instead of md5'd), the corpus-derived stop list, the
    // q186+q200 keep sets, the full LSH chain over the gated survivors,
    // both leak sets (q136's window join, q204's bucket-cosine join),
    // and the q166 BPE replay + q170 packing over the final survivors.
    // A hash match here proves the engine's five-stage DAG end-to-end.
    "q117_corpus_pipeline" -> {
      val lw = DedupOps.LineWords
      val sw = DedupOps.SubstrWindow
      s"""WITH plw AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
         |pll AS (SELECT doc_id, lang, j AS pos,
         |    array_to_string(ws[j*$lw+1 : j*$lw+$lw], ' ') AS line
         |  FROM plw, unnest(generate_series(0, CAST((len(ws)-1)//$lw AS BIGINT))) t(j)),
         |pld AS (SELECT line FROM pll GROUP BY line
         |  HAVING count(DISTINCT doc_id) >= ${DedupOps.LineDupMinDocs}),
         |pclean AS MATERIALIZED (
         |  SELECT doc_id, lang, coalesce(string_agg(
         |    CASE WHEN d.line IS NULL THEN l.line END, ' ' ORDER BY l.pos), '') AS text
         |  FROM pll l LEFT JOIN pld d ON l.line = d.line GROUP BY doc_id, lang),
         |pstop AS MATERIALIZED (SELECT word AS token FROM (
         |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE length(word) >= 1
         |  GROUP BY word ORDER BY count(*) DESC, word LIMIT 8),
         |${TextOps.gopherKeepCteSql("pclean", "pq", "pqk", "pstop")},
         |${TextOps.repetitionKeepCteSql("pclean", "pr", "prk")},
         |pgated AS MATERIALIZED (SELECT c.* FROM pclean c
         |  JOIN pqk USING (doc_id) JOIN prk USING (doc_id)),
         |${DedupOps.lshVerifiedPairsCtesFrom("pgated")},
         |pded AS MATERIALIZED (SELECT * FROM pgated
         |  WHERE doc_id NOT IN (SELECT doc_b FROM vp)),
         |ptrain AS MATERIALIZED (SELECT * FROM pded WHERE doc_id % 5 <> 0),
         |vtt AS (SELECT doc_id, string_split(text,' ') AS t FROM ptrain
         |  WHERE len(string_split(text,' ')) >= $sw),
         |vtw AS (SELECT doc_id, list_aggr(t[i:i+${sw - 1}], 'string_agg', ' ') AS w
         |  FROM vtt, unnest(range(1, len(t) - ${sw - 1} + 1)) AS u(i)),
         |vet AS (SELECT doc_id, string_split(text,' ') AS t FROM pclean
         |  WHERE doc_id % 5 = 0 AND len(string_split(text,' ')) >= $sw),
         |vew AS (SELECT DISTINCT list_aggr(t[i:i+${sw - 1}], 'string_agg', ' ') AS w
         |  FROM vet, unnest(range(1, len(t) - ${sw - 1} + 1)) AS u(i)),
         |vleak AS MATERIALIZED (SELECT DISTINCT doc_id FROM vtw JOIN vew USING (w)),
         |${SimilarityOps.semContamIdsCteSql("sleak")},
         |pdec AS MATERIALIZED (SELECT * FROM ptrain
         |  WHERE doc_id NOT IN (SELECT doc_id FROM vleak)
         |    AND doc_id NOT IN (SELECT doc_id FROM sleak)),
         |${BpeOps.bpeCtesSql(BpeOps.BpeRounds)},
         |${packCtesSqlFrom("pdec")}
         |SELECT lang, CAST(seq_id AS BIGINT) AS seq_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tok) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM pspan GROUP BY 1, 2 ORDER BY lang, seq_id""".stripMargin
    },

    "q81_cdc_upsert" ->
      """SELECT user_id, event_id AS last_event_id, epoch_us(ts) AS last_ts_us,
        |  event_type AS last_event_type,
        |  CAST(round(value * 100) AS BIGINT) AS last_value_cents
        |FROM (SELECT *, row_number() OVER
        |    (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q170_sequence_pack" ->
      s"""WITH ${BpeOps.bpeCtesSql(BpeOps.BpeRounds)},
         |$packCtesSql
         |SELECT lang, CAST(seq_id AS BIGINT) AS seq_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tok) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM pspan GROUP BY 1, 2 ORDER BY lang, seq_id""".stripMargin,

    "q172_epoch_allocation" ->
      s"""WITH ut AS MATERIALIZED (
         |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS u
         |  FROM documents GROUP BY source),
         |tt AS MATERIALIZED (SELECT CAST(sum(u) AS BIGINT) AS t FROM ut),
         |cand AS MATERIALIZED (
         |  SELECT source, u, (t * 6) // 10 AS budget, epoch,
         |    u * (CASE epoch WHEN 1 THEN 1000 WHEN 2 THEN 500
         |         WHEN 3 THEN 250 ELSE 125 END) AS mu
         |  FROM ut, tt, (SELECT unnest(generate_series(1, 4)) AS epoch)),
         |ranked AS MATERIALIZED (
         |  SELECT source, u, budget, epoch, mu,
         |    CAST(coalesce(sum(u) OVER (ORDER BY mu DESC, source, epoch
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS cum_before
         |  FROM cand)
         |SELECT source, CAST(epoch AS INTEGER) AS epoch, CAST(mu AS BIGINT) AS mu,
         |  CAST(least(u, budget - cum_before) AS BIGINT) AS alloc_tokens
         |FROM ranked WHERE least(u, budget - cum_before) > 0
         |ORDER BY source, epoch""".stripMargin,

    "q171_curriculum" ->
      s"""WITH ${BpeOps.bpeCtesSql(BpeOps.BpeRounds)},
         |$packCtesSql,
         |${CurationOps.probeCtesSql(CurationOps.ProbeRounds)},
         |psc AS MATERIALIZED (
         |  SELECT f.doc_id, w.w0 + w.w1*f.x1 + w.w2*f.x2 AS sc
         |  FROM pf f, pw${CurationOps.ProbeRounds} w),
         |pagg AS MATERIALIZED (
         |  SELECT lang, seq_id, CAST(sum(tok) AS BIGINT) AS n_tokens,
         |    CAST(sum(tok * sc) AS BIGINT) AS wsum
         |  FROM pspan JOIN psc USING (doc_id) GROUP BY 1, 2)
         |SELECT lang, CAST(seq_id AS BIGINT) AS seq_id, n_tokens,
         |  ${CurationOps.floorDivSql("wsum", "n_tokens")} AS q_milli,
         |  CAST(row_number() OVER (PARTITION BY lang
         |    ORDER BY ${CurationOps.floorDivSql("wsum", "n_tokens")} DESC, seq_id)
         |    AS INTEGER) AS rank
         |FROM pagg ORDER BY lang, rank""".stripMargin)

  /** q170/q171 shared packing CTEs (ride on the BPE CTEs' `w$rounds`
    * encoded vocabulary): ends with `pspan(lang, doc_id, seq_id, tok)`
    * — one row per (doc, sequence it feeds) with the contributed token
    * count, the SQL twin of [[packedSpans]]. */
  private def packCtesSql: String = packCtesSqlFrom("documents")

  /** [[packCtesSql]] over an arbitrary source CTE/table (q117 packs its
    * cleaned-survivor CTE; the vocabulary join stays on `w$rounds` —
    * cleaned words are a subset of the raw corpus vocabulary). */
  private def packCtesSqlFrom(src: String): String =
    s"""pdw AS MATERIALIZED (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
       |  FROM $src),
       |pdc AS MATERIALIZED (
       |  SELECT d.doc_id, d.lang, CAST(sum(length(w.word_t)) AS BIGINT) AS ntok
       |  FROM pdw d JOIN w${BpeOps.BpeRounds} w USING (word)
       |  WHERE length(d.word) >= 1 GROUP BY d.doc_id, d.lang),
       |poff AS MATERIALIZED (
       |  SELECT doc_id, lang, ntok,
       |    CAST(coalesce(sum(ntok) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS off_start
       |  FROM pdc),
       |pex AS MATERIALIZED (
       |  SELECT lang, doc_id, off_start, off_start + ntok AS off_end,
       |    unnest(generate_series(off_start // $PackSeqLen,
       |      (off_start + ntok - 1) // $PackSeqLen)) AS seq_id
       |  FROM poff),
       |pspan AS MATERIALIZED (
       |  SELECT lang, doc_id, CAST(seq_id AS BIGINT) AS seq_id,
       |    least(off_end, (seq_id + 1) * $PackSeqLen)
       |      - greatest(off_start, seq_id * $PackSeqLen) AS tok
       |  FROM pex)""".stripMargin
}
