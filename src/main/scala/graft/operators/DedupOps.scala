package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.functions.GraftFunctions._
import graft.functions.HashFunctions._

/** Deduplication for training-data pipelines (SURVEY.md §2.2 LLM rows):
  *
  *   - q40 exact dedup        — hash-groupBy on content
  *   - q41 MinHash + LSH      — shingle → 16-perm signature → 4×4 band
  *                              bucketing → candidate pairs → exact
  *                              Jaccard verification
  *   - q42 SimHash            — 16-bit token-hash sign aggregate
  *   - q43 n-gram Jaccard     — exact pairwise on a bounded probe set
  *
  * Scale design: q41 is the 100 TB path — signatures are fixed-width
  * (16 longs) regardless of document size, candidate generation is an
  * equi-join on (band, key) so it shuffles only bucket-colliding docs
  * (near-linear), and exact verification touches only candidate pairs.
  * Nothing is ever collected to the driver. All hashing is md5-based
  * (HashFunctions) so the DuckDB oracle reproduces results bit-for-bit.
  */
object DedupOps {
  type Q = (SparkSession, String) => DataFrame

  val NumHashes = 16
  val Bands = 4
  val RowsPerBand = 4
  val ShingleN = 3

  /** q190 shingle-set Jaccard threshold in basis points — 0.8, the
    * high-similarity operating point where prefix filtering is strong
    * (prefix ≈ 0.2·m, the published SSJoin regime; at t=0.5 the prefix
    * is HALF of every document and candidate generation degrades
    * toward all-pairs). */
  val SetSimTBp = 8000L

  /** q190 shingle width — 5, WIDER than q41's 3, and the knob that
    * decides whether prefix filtering can work AT ALL: the filter
    * needs a Zipfian tail of RARE join keys, and shingle rarity falls
    * out of alphabet^width. The fixture corpus is a ~31-word alphabet,
    * so every possible 3-shingle saturates (29,791 distincts across
    * 7.8M rows at sf3, median df 262 — measured; the sf3 prefix join's
    * candidate bound was 3.3·10⁸ and blew the verify watchdog), while
    * 5-shingles are combinatorially diverse and the same join prices
    * in seconds. Real text has the Zipf tail at width 3; a saturated
    * alphabet needs width ≥ 5 — that is a DATA property, and the width
    * is the declared contract of the operator's similarity space. */
  val SetSimShingleN = 5

  /** Id-set size up to which candidate-doc semi-joins broadcast (8-byte
    * ids; 4M ≈ 32 MB serialized). The near-dup fraction of a 100 TB
    * corpus can be billions of ids — past the gate the semi-join flips
    * to a shuffle-hash join, the same size-gated pattern as PageRank's
    * rank join (CurationOps.pageRankRanks). */
  val BroadcastMaxIds: Long = 4L * 1000 * 1000

  /** propagateMin rounds that run the plain one-join neighbor-min shape
    * before the loop turns on hooking. Small-clique components (the
    * common case) converge inside this budget with zero extra per-round
    * cost; anything still changing is a deep path, where hooking
    * collapses the remaining rounds to O(log diameter). */
  val PlainRounds = 3

  /** q131 exact substring dedup: window width in tokens, and the
    * boilerplate document-frequency cap (windows in more docs than this
    * are dropped before pairing). */
  val SubstrWindow = 20
  val SubstrDfCap = 64

  /** Exact substring dedup (public method: Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): two
    * documents share a verbatim run of >= `w` tokens iff they share at
    * least one w-token window, so the detector hashes every w-token
    * window, buckets by hash, emits colliding (doc, pos) pairs, and
    * verifies the window TEXT on candidates only.
    *
    * Scale design: the corpus-wide shuffle carries fixed-width
    * (doc_id, pos, hash64) rows — never the window text — and candidate
    * generation is an equi-join on the content hash, never all-pairs
    * (the distributed stand-in for the paper's suffix array). Windows
    * appearing in more than `dfCap` documents are dropped as boilerplate
    * BEFORE pairing: a license header shared by 100k docs would
    * otherwise expand to 10^10 rows inside one join bucket; the cap
    * bounds any bucket's fan-out at dfCap^2 and loses only runs that
    * are, by construction, corpus-common rather than pairwise-copied.
    * Text re-windowing for the exact-equality guard touches candidate
    * docs only, via the size-gated id join. */
  /** q196 threshold — 0.5 in basis points, the MODERATE operating
    * point where plain prefix filtering loses its teeth: the prefix is
    * HALF of every document, so prefix-only candidate generation
    * degrades toward all-pairs. q196 holds there by adding PPJoin's
    * positional filter (Xiao et al. 2008, public algorithm). */
  val SetSimPpTBp = 5000L

  /** q202 line-level dedup: "line" width in words (this corpus is
    * single-line, so lines are the fixed word-window segmentation; a
    * newline corpus substitutes its real lines), and the document
    * frequency at which a line counts as cross-document boilerplate —
    * CCNet/RefinedWeb drop at >= 2 distinct docs. */
  val LineWords = 10
  val LineDupMinDocs = 2

  /** q203 truncation-dup prefix-key width in words: the long side emits
    * one key per k <= this bound, so candidate fan-out per doc is
    * bounded by it; 10 words is selective far past any boilerplate
    * opening (the same width q202 uses for a whole line). */
  val PrefixKeyWords = 10

  /** q203 prefix-key document-frequency cap — the SubstrDfCap pattern: a
    * 10-word OPENING shared by more than this many docs (a boilerplate
    * header) would otherwise expand the candidate equi-join toward
    * cap-free M² inside one key bucket; keys past the cap drop from the
    * keeper side, bounding any bucket's fan-out at dfCap per dup row, at
    * a documented recall cost confined to capped keys (a truncation of a
    * boilerplate-headed doc whose header alone fills the key). Far above
    * every fixture key's df, so capped and uncapped paths coincide
    * wherever the oracle checks — the oracle mirrors the cap anyway. */
  val PrefixDfCap = 256

  /** [[lineChunks]] at the operator family's declared width — the line
    * definition q202/q206/q207 and the maintenance path share. */
  private[graft] def lineChunksOf(text: Column): Column =
    lineChunks(text, LineWords)

  /** Split `text` into LineWords-word chunks: the doc's word array
    * sliced at fixed offsets, each chunk re-joined with single spaces.
    * The last chunk keeps its partial tail (slice clamps). Native
    * byte-span kernel (LineChunksExpr; the HOF twin — split + per-chunk
    * slice/array_join, all interpreted — is pinned equal by
    * LineChunksSpec and remains the oracle algebra). */
  private def lineChunks(text: Column, words: Int): Column =
    graft.plans.LineChunksExpr.lineChunksNative(text, words)

  /** Shared prelude of the exact set-similarity family: exact-dup
    * canonicalization, shingle tokens, global document frequencies.
    *
    * CANONICALIZATION FIRST — the published pipeline order (and
    * q117's): byte-identical copies collapse to one representative
    * (min doc_id) before any similarity work. This is not an
    * optimization nicety but an asymptotic requirement: a clone
    * cluster of size c contributes c² qualifying PAIRS to a J ≥ t
    * join (every copy pairs with every copy at J = 1), so on a
    * duplicate-heavy corpus the exact join's OUTPUT — not its
    * algorithm — goes quadratic. Near-dup structure among clones is
    * recoverable by composing with q40's clone groups. */
  private[graft] def setSimTokens(docs: DataFrame): (DataFrame, DataFrame) = {
    val canon = docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
    val tk = canon.select(col("doc_id"),
      explode(graft.plans.ShinglesExpr.shinglesNative(col("text"), SetSimShingleN))
        .as("token"))
    val dfreq = tk.groupBy("token").agg(count(lit(1)).as("df"))
    (tk, dfreq)
  }

  /** Exact-intersection verification shared by the set-sim joins:
    * candidates (doc_a, doc_b, size_a, size_b) → qualifying pairs with
    * exact Jaccard in basis points. doc_a tokens come from `tkA`,
    * doc_b tokens from `tkB` (the same frame for self-joins, batch vs
    * corpus for the incremental form). Cost follows the candidate set,
    * never corpus². */
  private def setSimVerify(cand: DataFrame, tkA: DataFrame, tkB: DataFrame,
      t: Long): DataFrame =
    cand
      .join(tkA.select(col("doc_id").as("doc_a"), col("token")), Seq("doc_a"))
      .join(tkB.select(col("doc_id").as("doc_b"), col("token")), Seq("doc_b", "token"))
      .groupBy("doc_a", "doc_b", "size_a", "size_b")
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") * 10000 >=
        (col("size_a") + col("size_b") - col("inter")) * t)
      .withColumn("jacc_bp", expr("inter * 10000L div (size_a + size_b - inter)"))

  /** Row-count skew bound for the candidate self-joins: a prefix token
    * with df > this puts up to df² pair evaluations into ONE join task,
    * and AQE's skew split can miss it because split decisions weigh
    * COMPRESSED partition bytes (PERF.md's measurement: a low-entropy
    * hot key is 10× the rows at ~1.2× the bytes). Unlike AQE, the
    * engine knows the per-key row count BEFORE the join — df IS that
    * count — so keys past the bound are salted instead (see
    * [[saltedPrefixSelfJoin]]). 2^13 ⇒ one unsplit key would mean up to
    * ~6.7·10⁷ pair evaluations in a single task. */
  val SetSimHotDf: Long = 1L << 13

  /** Salt fan-out for hot prefix keys — sized to the executor-thread
    * scale so one hot key spreads across the whole stage. */
  val SetSimSalts: Int = 32

  /** Candidate self-join on prefix tokens with a ROW-COUNT skew guard.
    * `pre` must carry (doc_id, token, df, …) and be cheap to rescan
    * (callers localCheckpoint it — it also feeds both join sides).
    * Tokens at df ≤ hotDf join plainly (the AQE-splittable bare-shuffle
    * shape SetSimSpec pins); hotter tokens are salted: the left
    * occurrence lands on hash(doc_id) % salts, the right replicates to
    * every salt, so one key's df² work spreads over `salts` tasks. A
    * token has ONE global df, so each collision is produced by exactly
    * one branch and a pair colliding on several tokens is deduped by
    * the caller's distinct/groupBy exactly as before. Fixture dfs sit
    * far below the bound — the hot branch is empty there, so plans stay
    * oracle-identical; SetSimSaltSpec forces the branch on. */
  private[graft] def saltedPrefixSelfJoin(pre: DataFrame, joinCond: Column,
      outCols: Seq[Column], hotDf: Long = SetSimHotDf,
      salts: Int = SetSimSalts): DataFrame = {
    val cold = pre.filter(col("df") <= hotDf)
    val hot = pre.filter(col("df") > hotDf)
    val coldJ = cold.as("a").join(cold.as("b"),
        col("a.token") === col("b.token") && joinCond)
      .select(outCols: _*)
    val hotA = hot.withColumn("salt",
      pmod(xxhash64(col("doc_id")), lit(salts.toLong)))
    val hotB = hot.withColumn("salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1L))))
    val hotJ = hotA.as("a").join(hotB.as("b"),
        col("a.token") === col("b.token") &&
          col("a.salt") === col("b.salt") && joinCond)
      .select(outCols: _*)
    coldJ.unionByName(hotJ)
  }

  /** The q190 engine over a pre-staged (tk, dfreq) pair — the shape the
    * session-staged corpus tokens feed (see [[stagedSetSimTokens]]).
    * The prefix table is localCheckpoint'd once: it feeds both sides of
    * the candidate join (plus the skew guard's hot/cold branches), and
    * without the checkpoint each branch re-runs the per-doc array-sort
    * aggregate. */
  private[graft] def setSimJoinTk(tk: DataFrame, dfreq: DataFrame,
      t: Long, hotDf: Long = SetSimHotDf,
      salts: Int = SetSimSalts): DataFrame = {
    val pre = prefixTokens(tk.join(dfreq, "token"), t).localCheckpoint()
    // Candidates are materialized (candidate-pair-sized) so the
    // verification's token sides can be CANDIDATE-BOUNDED: un-bounded,
    // setSimVerify shuffled the FULL corpus token table twice (~7M rows
    // per side at sf3) to verify a few thousand pairs; the id set
    // broadcasts (size-gated joinIds) and prunes the staged token
    // checkpoint MAP-SIDE, so only candidate docs' tokens reach either
    // exchange — the nearDupPairsOf / ssimProbeTk pattern, applied to
    // the inline self-join engines (see setSimVerifyBounded).
    setSimVerifyBounded(saltedPrefixSelfJoin(pre,
        col("a.doc_id") < col("b.doc_id") &&
          col("b.m") * t <= col("a.m") * 10000 &&
          col("a.m") * t <= col("b.m") * 10000,
        Seq(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.m").as("size_a"), col("b.m").as("size_b")),
        hotDf, salts)
      .distinct(), tk, t)
  }

  /** The q190 engine, factored over an arbitrary (doc_id, text) frame
    * so specs can drive adversarial micro-corpora through the exact
    * algorithm and compare against brute force. See the q190 entry for
    * the design commentary. */
  private[graft] def setSimJoin(docs: DataFrame,
      t: Long = SetSimTBp): DataFrame = {
    val (tk, dfreq) = setSimTokens(docs)
    setSimJoinTk(tk, dfreq, t)
  }

  /** Per-doc rarity-ordered PREFIX — the q190/q198 candidate index,
    * over a (doc_id, token, df) frame. The prefix is built by
    * AGGREGATE, not window: collect the doc's (df, token) pairs,
    * array_sort them (struct ordering = (df, token) — exactly the
    * global rarity order), slice the prefix. Same shuffle volume as a
    * window but no relation-wide sort: each doc sorts its own bounded
    * array inside ObjectHashAggregate — the difference between
    * sorting 10^8 rows and 10^6 arrays of ~10^2. Each prefix row keeps
    * its token's global df: the self-join's row-count skew guard
    * splits hot keys on it (see [[saltedPrefixSelfJoin]]). */
  private[graft] def prefixTokens(tkWithDf: DataFrame, t: Long): DataFrame =
    tkWithDf.groupBy("doc_id")
      .agg(collect_list(struct(col("df").as("df"), col("token").as("tok")))
        .as("all"))
      .select(col("doc_id"), size(col("all")).cast("long").as("m"),
        expr(s"slice(array_sort(all), 1, " +
          s"size(all) - (($t * size(all) + 9999) div 10000) + 1)").as("pref"))
      .select(col("doc_id"), col("m"), explode(col("pref")).as("p"))
      .select(col("doc_id"), col("m"), col("p.tok").as("token"),
        col("p.df").as("df"))

  /** Per-doc rarity-ordered PREFIX with POSITIONS — the q196 candidate
    * index. Same ObjectHashAggregate shape as q190's prefix (each doc
    * sorts its own bounded array; no relation-wide window sort), plus a
    * posexplode so every prefix token knows its 1-based rank in the
    * doc's global-rarity order. */
  private[graft] def ppjoinPrefixes(tk: DataFrame, dfreq: DataFrame,
      t: Long): DataFrame =
    tk.join(dfreq, "token")
      .groupBy("doc_id")
      .agg(collect_list(struct(col("df").as("df"), col("token").as("tok")))
        .as("all"))
      .select(col("doc_id"), size(col("all")).cast("long").as("m"),
        posexplode(expr(s"slice(array_sort(all), 1, " +
          s"size(all) - (($t * size(all) + 9999) div 10000) + 1)")))
      .select(col("doc_id"), col("m"), (col("pos") + 1L).cast("long").as("pos"),
        col("col.tok").as("token"), col("col.df").as("df"))

  /** q196 candidate generation: prefix equi-join + length filter +
    * PPJoin POSITIONAL filter. For a shared token at ranks (i, j) of
    * docs sized (mₐ, m_b), the overlap O obeys
    *   O ≤ 1 + min(i−1, j−1) + min(mₐ−i, m_b−j)
    * — shared tokens strictly before it occupy ranks < i AND < j
    * (both lists sort by the SAME global order), shared tokens after
    * it fit in the shorter remaining tail. The bound holds for EVERY
    * shared token, so a qualifying pair (O ≥ α) clears it at every
    * prefix collision and `min(bound) ≥ α` never drops a true pair,
    * while a spurious collision on one early-vs-late token dies here
    * instead of reaching verification. α is the Jaccard-t overlap
    * requirement t·(mₐ+m_b)/(1+t), kept in cross-multiplied integers:
    * ub·(10000+t) ≥ t·(mₐ+m_b). */
  private[graft] def ppjoinCandidates(tk: DataFrame, dfreq: DataFrame,
      t: Long): DataFrame = {
    val pre = ppjoinPrefixes(tk, dfreq, t).localCheckpoint()
    saltedPrefixSelfJoin(pre,
        col("a.doc_id") < col("b.doc_id") &&
          col("b.m") * t <= col("a.m") * 10000 &&
          col("a.m") * t <= col("b.m") * 10000,
        Seq(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.m").as("size_a"), col("b.m").as("size_b"),
          (lit(1L) + least(col("a.pos") - 1L, col("b.pos") - 1L) +
            least(col("a.m") - col("a.pos"), col("b.m") - col("b.pos")))
            .as("ub")))
      .groupBy("doc_a", "doc_b", "size_a", "size_b")
      .agg(min(col("ub")).as("ub"))
      .filter(col("ub") * (10000L + t) >= (col("size_a") + col("size_b")) * t)
      .select("doc_a", "doc_b", "size_a", "size_b")
  }

  /** The q196 engine: exact set-similarity self-join at a MODERATE
    * threshold via positional filtering. Identical output contract to
    * q190 (exact, lossless — the naive oracle hash-match proves it);
    * the difference is WHERE candidates die. At t = 0.5 the prefix is
    * half of every document, so prefix-only filtering admits nearly
    * every co-occurring pair; the positional filter re-prunes them
    * with rank arithmetic BEFORE the verification join, which is what
    * keeps the operator's cost candidate-bound rather than
    * all-pairs-bound at moderate thresholds. */
  private[graft] def setSimJoinPos(docs: DataFrame,
      t: Long = SetSimPpTBp): DataFrame = {
    val (tk, dfreq) = setSimTokens(docs)
    setSimVerifyBounded(ppjoinCandidates(tk, dfreq, t), tk, t)
  }

  /** [[setSimVerify]] over a SELF-join's candidates with both token
    * sides candidate-bounded (see the setSimJoinTk note). `cand0` is
    * materialized here — its id set feeds the size-gated broadcast
    * prune and the verify join. */
  private[graft] def setSimVerifyBounded(cand0: DataFrame, tk: DataFrame,
      t: Long): DataFrame = {
    val cand = graft.engine.Staging.trackCp(cand0)
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val tkC = joinIds(tk, candIds, "doc_id")
    setSimVerify(cand, tkC, tkC, t)
  }

  /** The q198 engine: batch-vs-corpus EXACT set-similarity join — the
    * ingest-loop twin of q190 (the q119 incremental pattern with exact
    * Jaccard instead of MinHash estimates). The corpus side's
    * document frequencies and prefixes are the STANDING statistic (in
    * production they persist beside the corpus, like q119's band
    * index); the new batch joins AGAINST them, so there is never
    * corpus×corpus work and ingest cost follows batch size. Batch
    * tokens order by the CORPUS df (absent → 0: a shingle the corpus
    * has never seen is maximally rare), which keeps ONE consistent
    * global total order across both sides — all the prefix-filter
    * theorem requires. Both sides canonicalize within themselves
    * first (the clone-quadratic guard); a byte-identical batch/corpus
    * text surfaces as a J=10000 pair, so the output is the complete
    * "what does this batch duplicate in the corpus" answer at J ≥ t. */
  private[graft] def setSimIncremental(corpus: DataFrame, batch: DataFrame,
      t: Long = SetSimTBp): DataFrame = {
    val (ctk, dfreq) = setSimTokens(corpus)
    setSimIncrementalTk(ctk, dfreq, setSimTokens(batch)._1, t)
  }

  /** q198's engine over pre-staged corpus tokens + df and batch tokens
    * (the [[stagedSetSimTokens]] shape). */
  private[graft] def setSimIncrementalTk(ctk: DataFrame, dfreq: DataFrame,
      btk: DataFrame, t: Long = SetSimTBp): DataFrame = {
    val cpre = prefixTokens(ctk.join(dfreq, "token"), t)
    val bpre = prefixTokens(
      btk.join(dfreq, Seq("token"), "left")
        .select(col("doc_id"), col("token"),
          coalesce(col("df"), lit(0L)).as("df")), t)
    val cand = bpre.as("a").join(cpre.as("b"),
        col("a.token") === col("b.token") &&
          col("b.m") * t <= col("a.m") * 10000 &&
          col("a.m") * t <= col("b.m") * 10000)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.m").as("size_a"), col("b.m").as("size_b"))
      .distinct()
    // corpus side candidate-bounded before verification (the
    // setSimVerifyBounded rationale); the batch side is already the
    // small side and most of it appears in some candidate anyway
    val candM = graft.engine.Staging.trackCp(cand)
    val ctkC = joinIds(ctk,
      candM.select(col("doc_b").as("doc_id")).distinct(), "doc_id")
    setSimVerify(candM, btk, ctkC, t)
  }

  // ---- q199: the exact set-sim PREFIX INDEX at rest ----------------------

  /** Probe-size gate for the at-rest index: while the batch's token
    * rows (an upper bound on its prefix rows) stay under this, the
    * batch prefixes BROADCAST into the candidate join and Spark's
    * runtime (DPP-shaped) filtering pushes the broadcast's surviving
    * tokens into the index's manifest scan, where token sort-ranges +
    * per-file blooms prune whole data files (the DppSpec chain — no
    * literal IN-list ever enters the plan, so the driver never holds a
    * million-element `In`). Past the gate the probe degrades to the
    * plain shuffle join — correctness identical, pruning lost; at that
    * batch size the probe tokens blanket most index files anyway, so
    * pruning had little to give. */
  val ProbeBroadcastMaxTokens: Long = 2L * 1000 * 1000

  /** The threshold the stored corpus prefixes are built at. Probing
    * below it would silently drop qualifying pairs (the stored prefixes
    * are too short for a looser threshold), so [[ssimProbe]] refuses. */
  val SsimIndexBuildTBp: Long = SetSimTBp

  /** Build the index CONTENT into existing tables: the frozen
    * document-frequency statistic and the corpus canonical prefixes
    * under it. The df table IS the index's declared total order —
    * every later append and probe must rank tokens by it (stale df
    * only costs pruning power; a MIXED order would break the prefix
    * theorem and lose pairs). */
  private[graft] def ssimBuildIndex(corpus: DataFrame, dfTable: String,
      preTable: String): Unit = {
    val (ctk, dfreq) = setSimTokens(corpus)
    ssimBuildIndexTk(ctk.localCheckpoint(), dfreq.localCheckpoint(),
      dfTable, preTable)
  }

  /** [[ssimBuildIndex]] over pre-staged corpus tokens (both frames feed
    * two writes — callers hand in checkpointed stages). */
  private[graft] def ssimBuildIndexTk(ctk: DataFrame, dfreq: DataFrame,
      dfTable: String, preTable: String): Unit = {
    dfreq.select(col("token"), col("df")).writeTo(dfTable).append()
    prefixTokens(ctk.join(dfreq, "token"), SsimIndexBuildTBp)
      .select(col("token"), col("doc_id"), col("m"))
      .writeTo(preTable).append()
  }

  /** Incremental index maintenance: append one batch's canonical
    * prefixes under the FROZEN order (a token the statistic has never
    * seen ranks as maximally rare — df 0, ties by token string — the
    * same rule probes use, so index and probe stay in ONE total
    * order). Pure insertion, no merge: prefixes of distinct docs are
    * disjoint rows, exactly the postings-maintenance shape. */
  private[graft] def ssimAppend(s: SparkSession, batch: DataFrame,
      dfTable: String, preTable: String): Unit = {
    val btk = setSimTokens(batch)._1
    prefixTokens(
      btk.join(s.table(dfTable), Seq("token"), "left")
        .select(col("doc_id"), col("token"),
          coalesce(col("df"), lit(0L)).as("df")), SetSimTBp)
      .select(col("token"), col("doc_id"), col("m"))
      .writeTo(preTable).append()
  }

  /** Probe the at-rest index with a batch: batch prefixes under the
    * frozen order, candidate join against the STORED prefix table,
    * then exact verification that fetches ONLY candidate-touched docs
    * from `indexedDocs` (the size-gated id join — probe I/O follows
    * the candidate set, never the corpus).
    *
    * File pruning is RUNTIME filtering, not a literal list: under the
    * gate the batch prefixes carry a broadcast hint, and Spark's
    * dynamic-pruning machinery feeds the broadcast's tokens into the
    * manifest scan's `SupportsRuntimeFiltering.filter` — per-file
    * token blooms + sort-range bounds then drop whole index files
    * before any read (SetSimAtRestSpec's physical no-read proof). The
    * plan never embeds token literals and the driver's only copy of
    * the tokens is the broadcast it was paying for the join anyway. */
  private[graft] def ssimProbe(s: SparkSession, batch: DataFrame,
      indexedDocs: DataFrame, dfTable: String, preTable: String,
      t: Long = SetSimTBp,
      maxProbeTokens: Long = ProbeBroadcastMaxTokens): DataFrame =
    ssimProbeTk(s, setSimTokens(batch)._1.localCheckpoint(), indexedDocs,
      dfTable, preTable, t, maxProbeTokens)

  /** [[ssimProbe]] over pre-staged batch tokens (a checkpointed frame —
    * it feeds prefix building, the candidate join, and verification). */
  /** Frozen-df lookup for a PROBE/WINDOW token frame `tk(doc_id,
    * token)`: (doc_id, token, df) with absent tokens at df 0. When the
    * frame is bounded (≤ maxTokens rows) the df table is probed through
    * an INNER join that broadcasts the frame's distinct tokens — the
    * df scan takes the runtime filter, so per-file token blooms +
    * sort-range bounds drop df files before any read — and the
    * (frame-bounded) result broadcast-left-joins back. The old shape,
    * a plain left join against the df TABLE, shuffled the CORPUS-sized
    * df relation for every probe and every maintenance window —
    * MaintBench measured the refresh of an identical 500-doc window
    * scaling 2.6× from sf3 to sf10 on it. An unbounded frame falls
    * back to that shuffle join (corpus-sized batches want it anyway). */
  private[graft] def dfLookupFrozen(s: SparkSession, tk: DataFrame,
      dfTable: String, maxTokens: Long = ProbeBroadcastMaxTokens): DataFrame =
    if (tk.count() <= maxTokens) {
      // visible-selectivity no-op (see the ssimProbeTk note below):
      // checkpointed frames lost their Filter nodes, and runtime-filter
      // injection keys off the probe side carrying a selective predicate
      val toks = tk.select("token").distinct()
        .filter(length(col("token")) >= 1L)
      val dfs = graft.engine.Staging.trackCp(
        s.table(dfTable).join(broadcast(toks), Seq("token")))
      tk.join(broadcast(dfs), Seq("token"), "left")
        .select(col("doc_id"), col("token"),
          coalesce(col("df"), lit(0L)).as("df"))
    } else
      tk.join(s.table(dfTable), Seq("token"), "left")
        .select(col("doc_id"), col("token"),
          coalesce(col("df"), lit(0L)).as("df"))

  private[graft] def ssimProbeTk(s: SparkSession, btk: DataFrame,
      indexedDocs: DataFrame, dfTable: String, preTable: String,
      t: Long = SetSimTBp,
      maxProbeTokens: Long = ProbeBroadcastMaxTokens): DataFrame = {
    require(t >= SsimIndexBuildTBp,
      s"stored prefixes were built at t=$SsimIndexBuildTBp bp; probing at " +
        s"$t would silently drop qualifying pairs (corpus prefixes too short)")
    // The trailing `m >= 1` is semantically a no-op (every prefix row's
    // doc has >= 1 token) but LOAD-BEARING: btk is a checkpoint, so the
    // batch's real selectivity (it is a small slice of the corpus) left
    // the plan with the Filter node the checkpoint erased — and Spark
    // only injects runtime filters into the scan side of a join whose
    // OTHER side visibly carries a selective predicate
    // (PartitionPruning.hasSelectivePredicate). Re-asserting a true
    // predicate restores what the optimizer can no longer see.
    val bpre = prefixTokens(dfLookupFrozen(s, btk, dfTable, maxProbeTokens), t)
      .filter(col("m") >= 1L)
    val idx = s.table(preTable)
    val probeSide =
      if (btk.count() <= maxProbeTokens) broadcast(bpre) else bpre
    val cand = probeSide.as("a").join(idx.as("b"),
        col("a.token") === col("b.token") &&
          col("b.m") * t <= col("a.m") * 10000 &&
          col("a.m") * t <= col("b.m") * 10000)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.m").as("size_a"), col("b.m").as("size_b"))
      .distinct().localCheckpoint()
    val candDocs = cand.select(col("doc_b").as("doc_id")).distinct()
      .localCheckpoint()
    // candidate ids are CANONICAL ids (the index stores canon prefixes),
    // and the canonical row's own text is the canon text — fetch it
    // directly, no re-canonicalization needed
    val ctk = joinIds(indexedDocs, candDocs, "doc_id")
      .select(col("doc_id"),
        explode(graft.plans.ShinglesExpr.shinglesNative(col("text"), SetSimShingleN))
          .as("token"))
    setSimVerify(cand, btk, ctk, t)
  }

  private[graft] def buildOnce[K](set: java.util.Set[K], key: K)(build: => Unit): Unit =
    graft.engine.Staging.once(set, key)(build)

  private val ssimBuilt =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  /** Session-staged set-sim prelude: ONE canonicalize + shingle + df
    * pass per (session, sf-dir, slice), shared by every consumer of
    * that slice — q190/q196 ("all"), q198's corpus side and the q199
    * index build ("corpus"), q198's batch side and the q199 probe
    * ("batch"). Before this existed each query re-ran the full pass
    * independently (~4 passes over 7.8M shingle rows at sf3 — the
    * entire round-12 sf3 slope regression). Both frames are
    * localCheckpoints probed for executor-loss health, the
    * [[stagedPairs]] contract; at 100 TB the analog is a materialized
    * staging table beside the corpus. */
  private val tokenCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), (DataFrame, DataFrame)]

  private[graft] def stagedSetSimTokens(s: SparkSession, dir: String,
      slice: String): (DataFrame, DataFrame) = tokenCache.synchronized {
    tokenCache.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    tokenCache.get((s, dir, slice)) match {
      case Some(t) if scala.util.Try { t._1.take(1); t._2.take(1) }.isSuccess => t
      case _ =>
        val docs = slice match {
          case "corpus" => Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 7)
          case "batch" => Tables.documents(s, dir).filter(col("doc_id") % 10 === 7)
          case _ => Tables.documents(s, dir)
        }
        val (tk0, df0) = setSimTokens(docs)
        val t = (tk0.localCheckpoint(), df0.localCheckpoint())
        tokenCache.put((s, dir, slice), t)
        t
    }
  }

  private val nsBuilt =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  /** Configure the session-scoped `graft` catalog and ensure this
    * sf-dir's namespace exists — shared by every staged index builder
    * so concurrent builders never race the namespace creation. */
  private[graft] def graftNs(s: SparkSession, dir: String): String = {
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
      s.sparkContext.applicationId
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val ns = s"db${Integer.toHexString(dir.hashCode)}"
    buildOnce(nsBuilt, (s.sparkContext.applicationId, ns)) {
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    }
    ns
  }

  /** Once-per-(application, sf-dir) staged index over the fixture's
    * corpus side (doc_id%10≠7, q119/q198's split): two manifest tables
    * — `ssim_df` (the frozen order) and `ssim_prefix`
    * (token-sort-clustered with a token bloom, the q148 postings
    * layout) — so candidate generation runs against data files a probe
    * can PRUNE. */
  private[graft] def ssimIndexTables(s: SparkSession, dir: String): (String, String) = {
    val ns = graftNs(s, dir)
    buildOnce(ssimBuilt, (s.sparkContext.applicationId, dir)) {
      s.sql(s"CREATE TABLE graft.$ns.ssim_df (token STRING, df BIGINT) " +
        "TBLPROPERTIES ('bloom.columns' = 'token')")
      s.sql(s"CREATE TABLE graft.$ns.ssim_prefix " +
        "(token STRING, doc_id BIGINT, m BIGINT) " +
        "TBLPROPERTIES ('write.sort-by' = 'token', 'bloom.columns' = 'token')")
      val (ctk, dfreq) = stagedSetSimTokens(s, dir, "corpus")
      ssimBuildIndexTk(ctk, dfreq, s"graft.$ns.ssim_df", s"graft.$ns.ssim_prefix")
    }
    (s"graft.$ns.ssim_df", s"graft.$ns.ssim_prefix")
  }

  private val ssimMaintBuilt =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  /** Once-per-(application, sf-dir) MAINTAINED set-sim index — the full
    * ingest+churn loop of [[graft.sources.SsimIndexMaintenance]], staged
    * so q201 probes a genuinely maintained index rather than a one-shot
    * build: the fixture corpus arrives in TWO appends to a manifest
    * source table; CREATE consumes arrival 1's snapshot (freezing the
    * df order); REFRESH folds arrival 2 through the change feed under
    * the frozen order; a merge-on-read DELETE (doc_id % 100 = 11) then
    * retires docs from the source and REFRESH-CDC propagates it as one
    * equality delete on the prefix table — zero prefix reads. The index
    * is ROW-keyed (no byte-clone canonicalization): deletes must retire
    * exactly the deleted doc. */
  private[graft] def ssimMaintainedTables(s: SparkSession,
      dir: String): (String, String, String) = {
    val ns = graftNs(s, dir)
    val (src, dfT, preT) =
      (s"$ns.ssimm_src", s"$ns.ssimm_df", s"$ns.ssimm_prefix")
    buildOnce(ssimMaintBuilt, (s.sparkContext.applicationId, dir)) {
      s.sql(s"CREATE TABLE graft.$src (doc_id BIGINT, text STRING) " +
        "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
      val corpus = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 10 =!= 7)
      corpus.filter(col("doc_id") % 10 <= 4).writeTo(s"graft.$src").append()
      graft.sources.SsimIndexMaintenance.createIndex(s, "graft", src, dfT, preT)
      corpus.filter(col("doc_id") % 10 >= 5).writeTo(s"graft.$src").append()
      graft.sources.SsimIndexMaintenance.refresh(s, "graft", src, dfT, preT)
      s.sql(s"DELETE FROM graft.$src WHERE doc_id % 100 = 11")
      graft.sources.SsimIndexMaintenance.refreshCdc(s, "graft", src, dfT, preT)
    }
    (s"graft.$src", s"graft.$dfT", s"graft.$preT")
  }

  private val lineMaintBuilt =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  /** Staged MAINTAINED line table over a two-arrival + CDC-delete source
    * history (the [[ssimMaintainedTables]] shape): CREATE on arrival 1's
    * snapshot, REFRESH-CDC folds arrival 2, a merge-on-read DELETE and
    * a final REFRESH-CDC fold the delete images as refcount decrements.
    * The IN-list names batch doc 267's near-dup clique {45, 267, 413},
    * but only the two CORPUS members 45 and 413 are ever in the table
    * (267 is batch-stratum, %10 == 7, never inserted — its key is a
    * no-op the oracle's NOT IN mirrors). Retiring those two is
    * ORACLE-VISIBLE both ways (measured at sf0.01: 9 standing lines
    * reach df 0 and are MERGE-deleted, 7 of them batch-hit, so q207's
    * n_dropped/clean_md5 move), while lines shared with surviving docs
    * keep cleaning (df stays >= 1) — the refcount-decrement path is
    * exercised on both outcomes. */
  private[graft] def lineMaintainedTables(s: SparkSession, dir: String): (String, String) = {
    val ns = graftNs(s, dir)
    val (src, lines) = (s"$ns.linem_src", s"$ns.linem_lines")
    buildOnce(lineMaintBuilt, (s.sparkContext.applicationId, dir)) {
      s.sql(s"CREATE TABLE graft.$src (doc_id BIGINT, text STRING) " +
        "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
      val corpus = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 10 =!= 7)
      corpus.filter(col("doc_id") % 10 <= 4).writeTo(s"graft.$src").append()
      graft.sources.LineTableMaintenance.create(s, "graft", src, lines)
      corpus.filter(col("doc_id") % 10 >= 5).writeTo(s"graft.$src").append()
      graft.sources.LineTableMaintenance.refreshCdc(s, "graft", src, lines)
      s.sql(s"DELETE FROM graft.$src WHERE doc_id IN (45, 267, 413)")
      graft.sources.LineTableMaintenance.refreshCdc(s, "graft", src, lines)
    }
    (s"graft.$src", s"graft.$lines")
  }

  private val mhBuilt =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  /** Once-per-(application, sf-dir) MinHash/LSH index AT REST over the
    * fixture's corpus side (doc_id%10≠7, q119's split): two manifest
    * tables — `mh_digest` (md5 per doc, the exact arm) and `mh_bands`
    * (LSH band keys, the near arm) — each sort-clustered + bloomed on
    * its probe key so candidate generation runs against files a probe
    * can PRUNE (the q199 postings layout). Closes the family-matrix
    * cell q119 left open: the corpus band table was recomputed per
    * session; here it is data at rest. */
  private[graft] def mhIndexTables(s: SparkSession, dir: String): (String, String) = {
    val ns = graftNs(s, dir)
    buildOnce(mhBuilt, (s.sparkContext.applicationId, dir)) {
      s.sql(s"CREATE TABLE graft.$ns.mh_digest (h STRING, doc_id BIGINT) " +
        "TBLPROPERTIES ('write.sort-by' = 'h', 'bloom.columns' = 'h')")
      s.sql(s"CREATE TABLE graft.$ns.mh_bands (band STRING, doc_id BIGINT) " +
        "TBLPROPERTIES ('write.sort-by' = 'band', 'bloom.columns' = 'band')")
      val corpus = Tables.documents(s, dir)
        .filter(col("doc_id") % 10 =!= 7)
        .select(col("doc_id"), col("text")).localCheckpoint()
      graft.sources.MinHashIndexMaintenance.digestRows(corpus)
        .writeTo(s"graft.$ns.mh_digest").append()
      graft.sources.MinHashIndexMaintenance.bandRows(corpus)
        .writeTo(s"graft.$ns.mh_bands").append()
    }
    (s"graft.$ns.mh_digest", s"graft.$ns.mh_bands")
  }

  private val mhMaintBuilt =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  /** Once-per-(application, sf-dir) MAINTAINED MinHash index — the full
    * ingest+churn loop of [[graft.sources.MinHashIndexMaintenance]]: the
    * corpus arrives in TWO appends to a merge-on-read source; CREATE
    * consumes arrival 1's snapshot; REFRESH-CDC folds arrival 2 through
    * the change feed; a merge-on-read DELETE then retires docs 45 and
    * 134 and REFRESH-CDC propagates it as equality deletes on both
    * index tables — zero base-file reads. The delete set is deliberate
    * and ORACLE-VISIBLE twice over (measured at sf0.01): doc 45 is
    * batch doc 267's MINIMUM near match, so its retirement MOVES
    * match_id 45 → 413; doc 134 is batch doc 87's ONLY near match, so
    * its retirement FLIPS the verdict near → new. One deleted doc was
    * indexed by CREATE (134, arrival 1) and one by REFRESH (45,
    * arrival 2), so the deletes provably reach rows of both provenance.
    * (The digest arm's deletes cannot be fixture-visible — the corpus
    * has no cross-stratum exact clones at any sf — so the exact-arm
    * delete path is proved by MinHashMaintenanceSpec's constructed
    * fixture instead.) */
  private[graft] def mhMaintainedTables(s: SparkSession,
      dir: String): (String, String, String) = {
    val ns = graftNs(s, dir)
    val (src, digT, bandT) =
      (s"$ns.mhm_src", s"$ns.mhm_digest", s"$ns.mhm_bands")
    buildOnce(mhMaintBuilt, (s.sparkContext.applicationId, dir)) {
      s.sql(s"CREATE TABLE graft.$src (doc_id BIGINT, text STRING) " +
        "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
      val corpus = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 10 =!= 7)
      corpus.filter(col("doc_id") % 10 <= 4).writeTo(s"graft.$src").append()
      graft.sources.MinHashIndexMaintenance.createIndex(s, "graft", src, digT, bandT)
      corpus.filter(col("doc_id") % 10 >= 5).writeTo(s"graft.$src").append()
      graft.sources.MinHashIndexMaintenance.refreshCdc(s, "graft", src, digT, bandT)
      s.sql(s"DELETE FROM graft.$src WHERE doc_id IN (45, 134)")
      graft.sources.MinHashIndexMaintenance.refreshCdc(s, "graft", src, digT, bandT)
    }
    (s"graft.$src", s"graft.$digT", s"graft.$bandT")
  }

  // ---- cluster index at rest, maintained under DELETE (q213) ------------

  /** Engine-identical DRIVER-side MinHash: the same fused kernel the
    * corpus scan runs (MinHashFromTextExpr.compute) evaluated on a local
    * string — the bridge-chain builder verifies band collisions against
    * the exact algebra the index will compute, so a chain that verifies
    * here collides there by construction, not by probability. */
  private lazy val sigKernel = graft.plans.MinHashFromTextExpr(
    org.apache.spark.sql.catalyst.expressions.Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(""),
      org.apache.spark.sql.types.StringType), ShingleN, NumHashes)

  private def sigLocal(tokens: Seq[String]): Option[Array[Long]] =
    sigKernel.compute(org.apache.spark.unsafe.types.UTF8String
        .fromString(tokens.mkString(" "))) match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData => Some(a.toLongArray)
      case _ => None
    }

  private def shinglesLocal(tokens: Seq[String]): Set[String] =
    if (tokens.length < ShingleN) Set.empty
    else tokens.sliding(ShingleN).map(_.mkString(" ")).toSet

  /** Near-dup per the engine's own verdict: ≥1 LSH band collision AND
    * exact Jaccard ≥ 0.5 — a pair that passes here is a q41 pair. */
  private[graft] def linkedLocal(a: Seq[String], b: Seq[String]): Boolean =
    (sigLocal(a), sigLocal(b)) match {
      case (Some(sa), Some(sb)) =>
        val bandHit = (0 until Bands).exists(j =>
          (0 until RowsPerBand).forall(r =>
            sa(j * RowsPerBand + r) == sb(j * RowsPerBand + r)))
        bandHit && {
          val (x, y) = (shinglesLocal(a), shinglesLocal(b))
          2 * x.intersect(y).size >= x.union(y).size
        }
      case _ => false
    }

  /** Deterministic NEAR-DUP PATH from doc text A to doc text B — the
    * q213 fixture's cluster bridge. Every adjacent pair (including the
    * links to the natural endpoints) is a verified near-dup under the
    * engine's exact algebra, so appending the chain MERGES A's and B's
    * clusters, and deleting it must SPLIT them — the maintenance
    * behavior min-propagation cannot express.
    *
    * Construction: single-shingle moves (append one token, then trim
    * the A-prefix token-by-token, then remove accumulated detour
    * tokens), each verified with [[linkedLocal]]; a failed link (the
    * new/most bands happen to change minima) retries through a pool of
    * 1-shingle detours with fresh md5 draws, including the
    * preserve-front-trigram move that keeps a dying super-minimal
    * shingle alive across a trim. Returns None when a link resists the
    * detour budget — the caller then tries a different endpoint pair
    * (the cliff is a property of the pair's texts). */
  private[graft] def bridgeWalk(aTok: Seq[String], bTok: Seq[String],
      budget: Int = 2500): Option[Seq[String]] = {
    type St = Vector[(String, Boolean)] // (token, isDetourJunk)
    var cur: St = aTok.map((_, false)).toVector
    val chain = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    var spent = 0
    def toks(c: St): Seq[String] = c.map(_._1)
    def detourCands(c: St): Seq[St] = {
      val w = toks(c)
      val front = if (w.length >= 3)
        Seq(c ++ Vector((w(0), true), (w(1), true), (w(2), true))) else Seq.empty
      val pool = Seq(w.last, w.head, w(w.length / 2),
        w(math.max(w.length - 2, 0)), w(w.length / 3), w(2 * w.length / 3))
      front ++ pool.map(t => c :+ ((t, true))) :+
        (c ++ Vector((w.last, true), (w.last, true)))
    }
    def advance(op: St => St): Boolean = {
      var stuck = 0
      while (true) {
        val nxt = op(cur)
        if (linkedLocal(toks(cur), toks(nxt))) {
          chain += toks(nxt); cur = nxt; return true
        }
        spent += 1; stuck += 1
        if (spent > budget || stuck > 40) return false
        val s0 = sigLocal(toks(cur)).map(_.toSeq)
        val moved = Seq(true, false).exists(wantDiff =>
          detourCands(cur).find(d => linkedLocal(toks(cur), toks(d)) &&
              (!wantDiff || sigLocal(toks(d)).map(_.toSeq) != s0)) match {
            case Some(d) => chain += toks(d); cur = d; true
            case None => false
          })
        if (!moved) return false
      }
      false
    }
    bTok.foreach { t => if (!advance(c => c :+ ((t, false)))) return None }
    aTok.foreach { _ => if (!advance(c => c.tail)) return None }
    var guard = 0
    while (cur.exists(_._2)) {
      guard += 1; spent += 1
      if (guard > 200 || spent > budget) return None
      val idxs = cur.zipWithIndex.filter(_._1._2).map(_._2)
      val removal = (1 to idxs.length).iterator.flatMap(size =>
        idxs.reverse.combinations(size).map(_.toSet))
        .map(drop => cur.zipWithIndex.filterNot(x => drop(x._2)).map(_._1))
        .find(cand => linkedLocal(toks(cur), toks(cand)))
      removal match {
        case Some(cand) => chain += toks(cand); cur = cand
        case None =>
          val w = toks(cur)
          val shaken = Seq(w.head, w(w.length / 2), w.last, w(w.length / 3))
            .map(t => cur :+ ((t, true)))
            .find(d => linkedLocal(w, toks(d)))
          shaken match {
            case Some(d) => chain += toks(d); cur = d
            case None => return None
          }
      }
    }
    // cur == B byte-exact now; drop it — its predecessor verified its
    // link to the natural endpoint
    Some((if (chain.nonEmpty && chain.last == bTok) chain.init else chain)
      .map(_.mkString(" ")).toSeq)
  }

  /** Stitch ids live far above any natural doc_id at any scale factor. */
  private[graft] val StitchBase = 1000000000L

  /** The q213 bridge: pick two cluster reps of the CURRENT corpus (first
    * convergent pair from the smallest reps — the band-cliff that blocks
    * a walk is a property of the endpoint texts, so the pair is chosen
    * adaptively per sf), and return the verified chain as stitch docs.
    * Empty when no candidate pair converges — the fixture then degrades
    * to a delete-only exercise and the oracle (from-scratch over
    * survivors) still matches. */
  private[graft] def bridgeChainDocs(s: SparkSession, dir: String): Seq[(Long, String)] = {
    val reps = propagateMin(verifiedNearDupPairs(s, dir).select("doc_a", "doc_b"))
      .select("rep").distinct().orderBy("rep").limit(8)
      .collect().map(_.getLong(0)).toSeq
    val pairs = for {
      i <- 0 until math.min(4, reps.length)
      j <- (i + 1) until math.min(6, reps.length)
    } yield (reps(i), reps(j))
    val docs = Tables.documents(s, dir)
    pairs.view.flatMap { case (ra, rb) =>
      val t = docs.filter(col("doc_id").isin(ra, rb))
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      bridgeWalk(t(ra).split(' ').toSeq, t(rb).split(' ').toSeq)
        .map(_.zipWithIndex.map { case (txt, i) => (StitchBase + i, txt) })
    }.headOption.getOrElse {
      System.err.println(s"[q213] no bridge pair converged for $dir — " +
        "delete-only exercise")
      Seq.empty
    }
  }

  private val clMaintBuilt =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  /** Once-per-(application, sf-dir) MAINTAINED cluster index — the full
    * churn loop of [[graft.sources.ClusterIndexMaintenance]]: the corpus
    * arrives in TWO appends to a merge-on-read source; CREATE builds
    * labels/edges/bands on arrival 1; REFRESH-CDC folds arrival 2 —
    * which carries the BRIDGE CHAIN ([[bridgeChainDocs]]): a verified
    * near-dup path between two natural cluster reps, so the refresh
    * provably MERGES two standing components; a merge-on-read DELETE
    * then retires the whole chain plus natural doc 45, and the final
    * REFRESH-CDC must SPLIT the merged component back apart (and, at
    * sfs where 45 is clustered, move its component's rep — at sf0.01 it
    * is the {45, 267, 413} clique's minimum, so rep 45 → 267). The
    * split is exactly what q210's min-propagation fold cannot do; here
    * the touched components are recomputed from surviving EDGE rows at
    * rest. */
  private[graft] def clusterMaintainedTables(s: SparkSession, dir: String): String = {
    val ns = graftNs(s, dir)
    val (src, lab, edg, bnd) =
      (s"$ns.clm_src", s"$ns.clm_labels", s"$ns.clm_edges", s"$ns.clm_bands")
    buildOnce(clMaintBuilt, (s.sparkContext.applicationId, dir)) {
      s.sql(s"CREATE TABLE graft.$src (doc_id BIGINT, text STRING) " +
        "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      docs.filter(col("doc_id") % 10 <= 4).writeTo(s"graft.$src").append()
      // the bridge-chain fixture reads only the staged pair table and
      // `documents` — independent of the index create, so its jobs
      // overlap the create's (guide §2.6); joined before the arrival-2
      // append that consumes it
      val chainF = java.util.concurrent.CompletableFuture.supplyAsync(() =>
        bridgeChainDocs(s, dir))
      // the arrival-1 snapshot's verified pair set is the session-staged
      // full-corpus pair table restricted to arrival-1 ids (band keys
      // are doc-local, verification pairwise, so pairs restrict
      // exactly) — reusing it spares the create a second LSH+verify
      // pass over data the staging phase already paid for
      val arrival1Edges = verifiedNearDupPairs(s, dir)
        .filter(col("doc_a") % 10 <= 4 && col("doc_b") % 10 <= 4)
        .select("doc_a", "doc_b")
      graft.sources.ClusterIndexMaintenance.createIndex(s, "graft", src, lab,
        edg, bnd, knownEdges = Some(arrival1Edges))
      val chain = chainF.join()
      val chainDf = {
        import s.implicits._
        chain.toDF("doc_id", "text")
      }
      docs.filter(col("doc_id") % 10 >= 5).unionByName(chainDf)
        .writeTo(s"graft.$src").append()
      graft.sources.ClusterIndexMaintenance.refreshCdc(s, "graft", src, lab, edg, bnd)
      s.sql(s"DELETE FROM graft.$src WHERE doc_id >= $StitchBase OR doc_id = 45")
      graft.sources.ClusterIndexMaintenance.refreshCdc(s, "graft", src, lab, edg, bnd)
    }
    s"graft.$lab"
  }

  /** q119's exact/near/new verdict served from the AT-REST index: the
    * exact arm probes `mh_digest` by md5, the near arm probes
    * `mh_bands` by band key — both joins broadcast the (small) batch
    * side under the gate so Spark's runtime-filter machinery feeds the
    * probe keys into the manifest scans (per-file blooms + sort-range
    * bounds drop index files before any read, the ssimProbe pattern) —
    * and exact-Jaccard verification fetches ONLY candidate-touched
    * docs from `indexedDocs` via the size-gated id join. Probe I/O
    * follows the batch and its candidates, never the corpus.
    *
    * The trailing always-true filters after the checkpoint are the
    * ssimProbeTk trick: the checkpoint erased the batch's visibly
    * selective Filter node, and Spark only injects runtime filters
    * into a scan when the join's other side carries a selective
    * predicate (PartitionPruning.hasSelectivePredicate). */
  private[graft] def mhProbe(s: SparkSession, batch: DataFrame,
      indexedDocs: DataFrame, digTable: String, bandTable: String,
      maxProbeDocs: Long = BroadcastMaxIds): DataFrame = {
    val b = batch.select(col("doc_id"), col("text")).localCheckpoint()
    val small = b.count() <= maxProbeDocs
    def gate(probe: DataFrame): DataFrame =
      if (small) broadcast(probe) else probe
    // exact arm: batch digests x digest table
    val bdig = b.select(col("doc_id"), md5(col("text")).as("h"))
      .filter(length(col("h")) >= 1L)
    val exact = gate(bdig).as("a")
      .join(s.table(digTable).as("b"), col("a.h") === col("b.h"))
      .groupBy(col("a.doc_id").as("doc_id"))
      .agg(min(col("b.doc_id")).as("exact_match"))
    // near arm: batch band keys x band table -> candidate pairs
    val bband = graft.sources.MinHashIndexMaintenance.bandRows(b)
      .filter(length(col("band")) >= 1L)
    val cand = gate(bband).as("a")
      .join(s.table(bandTable).as("b"), col("a.band") === col("b.band"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("cand_id"))
      .distinct().localCheckpoint()
    val candDocs = cand.select(col("cand_id").as("doc_id")).distinct()
      .localCheckpoint()
    val bsets = b.select(col("doc_id"),
      graft.plans.ShinglesExpr.shinglesNative(col("text"), ShingleN).as("sh_a"))
    val csets = joinIds(indexedDocs, candDocs, "doc_id")
      .select(col("doc_id").as("cand_id"),
        graft.plans.ShinglesExpr.shinglesNative(col("text"), ShingleN).as("sh_b"))
    val (inter, uni) = jaccardCols(col("sh_a"), col("sh_b"))
    val near = cand
      .join(bsets, "doc_id").join(csets, "cand_id")
      .withColumn("inter", inter).withColumn("uni", uni)
      .filter(col("inter") * 2 >= col("uni"))
      .groupBy("doc_id").agg(min(col("cand_id")).as("near_match"))
    b.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, lit("exact"))
          .when(col("near_match").isNotNull, lit("near"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("exact_match"), col("near_match"), lit(-1L)).as("match_id"))
      .orderBy("doc_id")
  }

  /** One row per (doc, 1-based window start) with the window's xxhash64
    * — the CORPUS pass of the substring family, via the fused byte-span
    * kernel (WindowHashesExpr): bit-equal to
    * xxhash64(array_join(slice(tokens, i, w), ' ')) with zero copies —
    * no token array, no per-window string build. Short docs yield an
    * empty array, so no pre-filter scan is needed. */
  private def windowHashRows(docs: DataFrame, w: Int): DataFrame =
    docs.select(col("doc_id"),
        posexplode(graft.plans.WindowHashesExpr.windowHashes(col("text"), w)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("wval"))

  /** Window TEXT rows — the candidate-bounded verification pass. */
  private def windowTextRows(docs: DataFrame, w: Int): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= w)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("t")) - lit(w - 1)),
          i => array_join(slice(col("t"), i, lit(w)), " "))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("wval"))

  private[graft] def substringDupPairs(docs: DataFrame, w: Int = SubstrWindow,
      dfCap: Int = SubstrDfCap): DataFrame = {
    val wins = windowHashRows(docs, w)
    val keepHashes = wins.groupBy("wval")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= dfCap)
      .select("wval")
    val keep = wins.join(keepHashes, "wval")
    val hits = keep.select(col("wval"), col("doc_id").as("doc_a"), col("pos").as("pos_a"))
      .join(keep.select(col("wval"), col("doc_id").as("doc_b"), col("pos").as("pos_b")),
        Seq("wval"))
      .filter(col("doc_a") < col("doc_b"))
      .drop("wval").localCheckpoint() // eager: the candidate set is tiny
    // hash-collision guard: rebuild the window TEXT for candidate docs
    // only and require true equality — PAIR VERIFICATION never depends
    // on xxhash64 being collision-free. (The df-cap above does, weakly:
    // it counts df per hash, so a cross-text collision could merge two
    // windows' df counts past the cap and drop a legitimate run — a
    // ~2^-64-probability missed candidate, never a false pair.)
    val candDocs = hits.select(col("doc_a").as("doc_id"))
      .union(hits.select(col("doc_b").as("doc_id")))
      .distinct().localCheckpoint()
    val candWins = windowTextRows(joinIds(docs, candDocs, "doc_id"), w)
    hits
      .join(candWins.select(col("doc_id").as("doc_a"), col("pos").as("pos_a"),
        col("wval").as("w_a")), Seq("doc_a", "pos_a"))
      .join(candWins.select(col("doc_id").as("doc_b"), col("pos").as("pos_b"),
        col("wval").as("w_b")), Seq("doc_b", "pos_b"))
      .filter(col("w_a") === col("w_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("w_a")).as("n_windows"),
        min("pos_a").as("first_a"), min("pos_b").as("first_b"))
  }

  /** The substring-dup pair table is consumed by two operators (q131
    * pairs, q138 triangles) whose dominant cost is the CORPUS window
    * pass; one session materializes it once — same staging contract as
    * [[stagedPairs]], same non-reliable-checkpoint probe. The table is
    * the verified pair set: kilobytes. */
  private val substrPairCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Int, Int), DataFrame]

  private[graft] def stagedSubstringDupPairs(s: SparkSession, dir: String,
      w: Int = SubstrWindow,
      dfCap: Int = SubstrDfCap): DataFrame = substrPairCache.synchronized {
    substrPairCache.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    substrPairCache.get((s, dir, w, dfCap)) match {
      case Some(t) if scala.util.Try(t.take(1)).isSuccess => t
      case _ =>
        val t = substringDupPairs(Tables.documents(s, dir), w, dfCap)
          .localCheckpoint()
        substrPairCache.put((s, dir, w, dfCap), t)
        t
    }
  }

  /** Join `big` to a (checkpointed) id list: broadcast while bounded,
    * shuffle-hash past the gate. `ids` must be cheap to count — callers
    * localCheckpoint it first, so the count is a scan of the
    * materialized partitions, not a plan recompute. `maxIds` is
    * overridable only so specs can force the shuffle path on small
    * fixtures and pin both plan shapes. */
  private[graft] def joinIds(big: DataFrame, ids: DataFrame, key: String,
      maxIds: Long = BroadcastMaxIds): DataFrame =
    if (ids.count() <= maxIds) big.join(broadcast(ids), key)
    else big.join(ids.hint("shuffle_hash"), key)

  /** doc_id + distinct 3-gram shingle set (empty-set docs dropped).
    * Built by the codegen'd byte-slice expression; ExtensionsSpec pins
    * array-equality against the HOF twin (GraftFunctions.shingleSet). */
  private[graft] def shingleSets(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.plans.ShinglesExpr.shinglesNative(col("text"), ShingleN).as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** MinHash signature via explode + groupBy with one `min` aggregate per
    * hash function. Doing it relationally (instead of nested HOF lambdas
    * over a `codes` array column) guarantees the md5 digest is computed
    * exactly once per shingle: CollapseProject inlines array-column
    * aliases into downstream lambdas, where each outer-lambda element
    * re-evaluates them — 16x-64x repeated hashing. Here the partial mins
    * combine map-side, so the shuffle carries only 16 longs per doc —
    * the shape that survives a 100 TB corpus. */
  private[graft] def withSignatureRelational(sets: DataFrame): DataFrame = {
    val codes = sets
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      .select(col("doc_id"), md5Code60(col("sh")).as("code"))
    val mins = (1 to NumHashes).map(i => min(affineHash(lit(i), col("code"))).as(s"h$i"))
    codes.groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((1 to NumHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Hot path: the codegen'd `MinHashSigExpr` computes all 16 minima in a
    * fused loop INSIDE the row, so signature building is a narrow
    * projection with no exchange — the relational explode→groupBy twin
    * above shuffled one row per (doc, shingle), ~29M rows at sf1, purely
    * to take per-doc minima. DedupSpec asserts both paths bit-match on
    * every fixture doc (the oracle keeps checking the relational
    * formulation's SQL). */
  private[graft] def withSignature(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"),
      graft.plans.MinHashSigExpr.sigNative(col("shingles"), NumHashes).as("sig"))

  /** One row per (doc, band): band key = joined signature slice. `sig` is
    * a post-aggregation attribute, so the slices are cheap array reads. */
  private[graft] def bands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sig"))
      .withColumn("j", explode(sequence(lit(0), lit(Bands - 1))))
      .withColumn("bkey", array_join(
        transform(slice(col("sig"), col("j") * lit(RowsPerBand) + lit(1), lit(RowsPerBand)),
          v => v.cast("string")), "_"))
      .select("doc_id", "j", "bkey")

  private def jaccardCols(a: Column, b: Column): (Column, Column) = {
    val inter = size(array_intersect(a, b))
    val uni = size(a) + size(b) - inter
    (inter, uni)
  }

  /** The full MinHash/LSH near-dup pipeline: candidate pairs from band
    * collisions, verified by exact Jaccard >= 0.5. Shared by q41 (which
    * emits the pairs) and q77 (which clusters them). The shingle table
    * feeds three consumers (signatures + both sides of the verification
    * join), so it is persisted for the duration of the pipeline; the
    * verified pair set itself is tiny (near-dup fraction of the corpus),
    * so it is materialized eagerly via localCheckpoint, which lets the
    * large shingle cache be dropped before the caller's job runs — no
    * cache accumulates across a multi-query session. */
  /** The verified pair table is consumed by three operators (q41 pairs,
    * q77 clustering, q90 containment); one session materializes it once
    * — the distributed analog of a dedup pipeline staging its pair
    * table. The cached DataFrame is a localCheckpoint of the TINY
    * verified set (near-dup fraction of the corpus), so the memo holds
    * kilobytes, not the shingle table. */
  private val pairCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (DataFrame, DataFrame)]

  def verifiedNearDupPairs(s: SparkSession, dir: String): DataFrame =
    stagedPairs(s, dir)._1

  /** Shingle sets of the docs that appear in the verified pair table —
    * staged with the pairs so downstream consumers (q90 containment)
    * never re-scan and re-shingle the full corpus for a kilobyte-scale
    * pair set (15s of the sf1 bench before this existed). */
  private[graft] def pairMemberShingles(s: SparkSession, dir: String): DataFrame =
    stagedPairs(s, dir)._2

  // synchronized: under a concurrent sweep two consumers (q41/q77)
  // would otherwise BOTH run the expensive corpus staging — get/put is
  // lock-free-correct but double-evaluates; the lock makes it
  // once-per-key like Staging.once while keeping the health probe
  private def stagedPairs(s: SparkSession, dir: String): (DataFrame, DataFrame) = pairCache.synchronized {
    // evict entries for stopped sessions (otherwise the memo — and its
    // localCheckpoint RDDs — leaks for the life of the process)
    pairCache.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    pairCache.get((s, dir)) match {
      // localCheckpoint is non-reliable: if an executor died the memoized
      // plan is permanently broken — probe with a tiny job (the tables are
      // kilobytes) and fall back to recompute instead of failing forever
      case Some(t) if scala.util.Try { t._1.take(1); t._2.take(1) }.isSuccess => t
      case _ =>
        val t = computeVerifiedNearDupPairs(s, dir)
        pairCache.put((s, dir), t)
        t
    }
  }

  private def computeVerifiedNearDupPairs(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    nearDupPairsOf(Tables.documents(s, dir))

  /** The full MinHash/LSH near-dup pipeline over an ARBITRARY
    * (doc_id, text) frame — factored from the dir-staged path so the
    * composed pipeline (q117) can near-dup its line-cleaned survivors
    * with the identical algebra. Returns (verified pairs, pair-member
    * shingle sets); both are localCheckpoints of near-dup-fraction-
    * sized tables. */
  private[graft] def nearDupPairsOf(docs: DataFrame,
      transient: Boolean = false): (DataFrame, DataFrame) = {
    // transient = true registers every internal checkpoint in the
    // harness's transient scope (q117's per-call use); the SESSION-staged
    // memo path keeps the default — a freed checkpoint cannot recompute.
    def cp(df: DataFrame): DataFrame =
      if (transient) graft.engine.Staging.trackCp(df) else df.localCheckpoint()
    // Signatures come straight off the text scan via the fused
    // tokenize→shingle→MinHash expression (MinHashFromTextExpr): one pass
    // over the raw bytes, no shingle-array column, no shuffle — at sf1
    // the shingle-array build alone cost 7.8 s of q41's 13 s. Nulls are
    // docs shorter than the shingle width (the relational twin's
    // `filter(size > 0)`).
    val sigs = docs
      .select(col("doc_id"),
        graft.plans.MinHashFromTextExpr.sigFromText(col("text"), ShingleN, NumHashes).as("sig"))
      .filter(col("sig").isNotNull)
    // the band table feeds BOTH sides of the candidate self-join; with no
    // aggregate exchange left to reuse, checkpoint it once so neither
    // side recomputes the md5 kernel
    val b = cp(bands(sigs))
    val cand = cp(b.as("a").join(b.as("b"),
        col("a.j") === col("b.j") && col("a.bkey") === col("b.bkey")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct())
    // exact-Jaccard verification needs shingle ARRAYS only for docs that
    // appear in a candidate pair — the near-dup fraction of the corpus —
    // so only those docs are shingled. The id list is fixed-width longs
    // (broadcastable far beyond where the text columns would be), but
    // size-gated: past BroadcastMaxIds the semi-join shuffles instead.
    val candDocs = cp(cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id")))
      .distinct())
    val sets = joinIds(docs, candDocs, "doc_id")
      .select(col("doc_id"),
        graft.plans.ShinglesExpr.shinglesNative(col("text"), ShingleN).as("shingles"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sa = sets.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
    val sb = sets.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
    val (inter, uni) = jaccardCols(col("sh_a"), col("sh_b"))
    val verified = cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("inter", inter)
      .withColumn("uni", uni)
      .filter(col("inter") * 2 >= col("uni"))
      .withColumn("jac_bp", expr("inter * 10000L div uni"))
      .transform(cp) // eager: materializes the small pair set now
    // stage the pair members' shingles while `sets` is still cached: the
    // member set is tiny (near-dup fraction), so this join is one cheap
    // probe of the cache, and q90 never touches `documents` again
    val members = verified.select(col("doc_a").as("doc_id"))
      .union(verified.select(col("doc_b").as("doc_id")))
      .distinct()
    val memberShingles = cp(sets.join(members, "doc_id"))
    sets.unpersist()
    (verified, memberShingles)
  }

  /** Min-label propagation over the verified near-dup pair graph to a
    * FIXPOINT (the Pregel pattern on DataFrames) — the loop runs ONLY
    * over vertices that appear in an edge; every other document is a
    * singleton cluster unioned in once at the end. Shared by q77
    * (cluster sizes) and q150 (canonical-member retention). */
  private def clusterLabels(s: SparkSession, dir: String): DataFrame =
    labelsFor(Tables.documents(s, dir).select(col("doc_id")),
      verifiedNearDupPairs(s, dir).select("doc_a", "doc_b"))

  /** Min-label propagation to FIXPOINT over an arbitrary undirected
    * pair set — one (vertex, component-min) row per vertex that appears
    * in a pair. The loop's working set is EXACTLY the edge vertices;
    * nothing else is ever read (the q77 edge-touched contract, and the
    * structural guarantee the incremental maintenance spec pins). */
  private[graft] def propagateMin(pairs: DataFrame): DataFrame = {
    val edges = pairs.toDF("doc_a", "doc_b")
      .union(pairs.toDF("b", "a").select(col("a"), col("b")))
      .toDF("src", "dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // cpRoot is the checkpoint ROOT frame of the current labels (the
    // frame freeCheckpoint must see); labels is its (doc_id, rep) view
    var cpRoot = edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("rep"))
      .localCheckpoint()
    var labels = cpRoot
    var changed = 1L
    var round = 0
    while (changed > 0) {
      round += 1
      // ADAPTIVE HOOKING: near-dup components are almost always small
      // cliques that converge in <= PlainRounds neighbor-min rounds, so
      // early rounds stay the cheap one-join shape (measured: a heavier
      // round in EVERY round regressed the whole cluster family ~2x at
      // sf0.1 — the loop is job-latency-bound). A component still
      // changing after PlainRounds is a DEEP path (the maintained
      // index's bridge chain is 158 hops, i.e. 158 checkpoint jobs on
      // the plain path), so later rounds run the FastSV step (Zhang,
      // Azad, Hu, SIAM PP 2020) on the labels read as parent pointers:
      // with g = the grandparent label(label(v)) and n = the minimum g
      // over v's neighbors, v takes min(label, g, n) (shortcutting +
      // aggressive hooking) and v's PARENT also takes n (stochastic
      // hooking). Hooking parents merges whole label trees per round,
      // which is what makes the round count O(log diameter): relabeling
      // vertices alone (label := label(label)) can still advance one
      // vertex per round along a path whose ids are shuffled.
      // The fixpoint is unchanged: every relabel stays inside the
      // component and only decreases, and a round that changes nothing
      // leaves every component a star on its minimum id.
      // the changed-row count rides the checkpoint's own job as an
      // observe() metric — the separate filter(chg).count() job per
      // round was pure scheduling latency on already-materialized
      // blocks (1 job/round instead of 2; rounds × every propagateMin
      // caller: q77/q150/q161/q210/q213 and all four maintained-index
      // loop invocations)
      val obs = new org.apache.spark.sql.Observation()
      val stepped =
        if (round <= PlainRounds) {
          val viaNeighbor = edges
            .join(labels.select(col("doc_id").as("dst"), col("rep").as("nrep")), "dst")
            .groupBy(col("src").as("doc_id"))
            .agg(min(col("nrep")).as("nmin"))
          labels.join(viaNeighbor, Seq("doc_id"), "left")
            .select(col("doc_id"), col("rep").as("rep0"),
              least(col("rep"), coalesce(col("nmin"), col("rep"))).as("rep1"))
        } else {
          val gp = labels
            .join(labels.select(col("doc_id").as("rep"), col("rep").as("g")), "rep")
          val viaNeighbor = edges
            .join(gp.select(col("doc_id").as("dst"), col("g")), "dst")
            .groupBy(col("src").as("doc_id"))
            .agg(min(col("g")).as("n"))
          val own = gp.join(viaNeighbor, Seq("doc_id"), "left")
            .select(col("doc_id"), col("rep").as("rep0"), col("n"),
              least(col("rep"), col("g"), coalesce(col("n"), col("rep"))).as("rep1"))
          val hooks = own.filter(col("n").isNotNull)
            .groupBy(col("rep0").as("doc_id"))
            .agg(min(col("n")).as("hook"))
          own.join(hooks, Seq("doc_id"), "left")
            .select(col("doc_id"), col("rep0"),
              least(col("rep1"), coalesce(col("hook"), col("rep1"))).as("rep1"))
        }
      // the cap keeps each round's checkpoint from inheriting a size
      // estimate that multiplies round over round (see boundStats)
      val next = org.apache.spark.sql.graft.GraftBridge.boundStats(stepped
        .select(col("doc_id"), col("rep1").as("rep"),
          (col("rep1") < col("rep0")).as("chg"))
        .observe(obs, count(when(col("chg"), 1)).as("n_changed"))
        .localCheckpoint())
      changed = obs.get("n_changed").asInstanceOf[Long]
      // the previous iteration's checkpoint is dead once `changed` is
      // counted — free it now instead of waiting for the ContextCleaner
      // (an iterative loop otherwise accumulates one resident copy of
      // the vertex set per round)
      org.apache.spark.sql.graft.GraftBridge.freeCheckpoint(cpRoot)
      cpRoot = next
      labels = next.select("doc_id", "rep")
    }
    edges.unpersist()
    // the FINAL round's checkpoint previously leaked until the
    // ContextCleaner noticed; register it with the harness's transient
    // scope (no-op outside one) so it frees when the consuming query's
    // action ends. cpRoot is the checkpoint ROOT — the frame
    // freeCheckpoint must see — so callers that re-checkpoint the
    // returned view purely for lifecycle tracking can stop doing so.
    graft.engine.Staging.track(cpRoot)
    labels
  }

  /** Labels for every doc in `docIds`: edge vertices from
    * [[propagateMin]], singletons as themselves. */
  private[graft] def labelsFor(docIds: DataFrame, pairs: DataFrame): DataFrame =
    docIds.join(propagateMin(pairs), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))

  /** INCREMENTAL cluster maintenance (q210): fold an arriving batch into
    * standing cluster assignments without re-propagating the standing
    * pair graph. Returns (final labels, rep merge map, new edges).
    *
    *   - Standing state after the corpus arrival: the doc→rep label
    *     table and the corpus band table (in production both are at
    *     rest — the q208 band index and a labels manifest table; here
    *     they stage per session like every staged index fixture).
    *   - The batch's candidates are batch×batch plus batch×standing
    *     bands — NEVER corpus×corpus (those edges are inside the
    *     standing labels already; bands decompose candidate generation
    *     exactly, so the union of both stages' pair sets IS the
    *     from-scratch pair set — the q150 hash-equality proof).
    *   - Component merging runs on the CONTRACTED graph: each new edge
    *     maps its endpoints to their current reps (a batch doc is its
    *     own rep), distinct rep-pairs form a graph whose vertices are
    *     only the TOUCHED components, and [[propagateMin]] over it
    *     yields rep→newRep. Contracting is exact for min-labels: every
    *     standing rep is its component's minimum, so the min over
    *     merged reps is the min over all merged members. Untouched
    *     components never enter the loop — structurally, not by luck
    *     (the merge map's row set is the touched reps; the spec pins
    *     it). The final update is ONE left join of the standing labels
    *     against the (tiny) merge map. */
  private def sigBands(docs: DataFrame,
      transient: Boolean = false): DataFrame = {
    val b = bands(docs
      .select(col("doc_id"),
        graft.plans.MinHashFromTextExpr.sigFromText(col("text"), ShingleN, NumHashes).as("sig"))
      .filter(col("sig").isNotNull))
    if (transient) graft.engine.Staging.trackCp(b) else b.localCheckpoint()
  }

  /** The STANDING side of q210 — arrival-1 labels + corpus band table —
    * staged once per (session, sf-dir): in production both are AT REST
    * (a labels manifest table and the q208 band index); recomputing
    * them per probe would bill the corpus pass to every fold (the
    * stagedPairs contract, same health-probed memo). */
  private val clusterStateCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (DataFrame, DataFrame)]

  private def stagedClusterState(s: SparkSession, dir: String,
      corpus: DataFrame): (DataFrame, DataFrame) = clusterStateCache.synchronized {
    clusterStateCache.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    clusterStateCache.get((s, dir)) match {
      case Some(t) if scala.util.Try { t._1.take(1); t._2.take(1) }.isSuccess => t
      case _ =>
        val standing = labelsFor(corpus.select("doc_id"),
          nearDupPairsOf(corpus)._1.select("doc_a", "doc_b")).localCheckpoint()
        val t = (standing, sigBands(corpus))
        clusterStateCache.put((s, dir), t)
        t
    }
  }

  private[graft] def incrementalClusterLabels(corpus: DataFrame,
      batch: DataFrame,
      staged: Option[(DataFrame, DataFrame)] = None): (DataFrame, DataFrame, DataFrame) = {
    val (standing, cBands) = staged.getOrElse {
      (labelsFor(corpus.select("doc_id"),
        nearDupPairsOf(corpus)._1.select("doc_a", "doc_b")).localCheckpoint(),
        sigBands(corpus))
    }
    val bBands = sigBands(batch, transient = true)
    val candBB = bBands.as("a").join(bBands.as("b"),
        col("a.j") === col("b.j") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val candBC = bBands.as("a").join(cBands.as("b"),
        col("a.j") === col("b.j") && col("a.bkey") === col("b.bkey"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
    val cand = graft.engine.Staging.trackCp(
      candBB.union(candBC).distinct())
    val all = corpus.select("doc_id", "text")
      .unionByName(batch.select("doc_id", "text"))
    val candDocs = graft.engine.Staging.trackCp(
      cand.select(col("doc_a").as("doc_id"))
        .union(cand.select(col("doc_b").as("doc_id"))).distinct())
    val sets = joinIds(all, candDocs, "doc_id")
      .select(col("doc_id"),
        graft.plans.ShinglesExpr.shinglesNative(col("text"), ShingleN).as("shingles"))
      .transform(graft.engine.Staging.trackCp)
    val (inter, uni) = jaccardCols(col("sh_a"), col("sh_b"))
    val newEdges = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .withColumn("inter", inter).withColumn("uni", uni)
      .filter(col("inter") * 2 >= col("uni"))
      .select("doc_a", "doc_b").transform(graft.engine.Staging.trackCp)
    val l0 = standing
      .unionByName(batch.select(col("doc_id"), col("doc_id").as("rep")))
      .transform(graft.engine.Staging.trackCp)
    val repEdges = newEdges
      .join(l0.select(col("doc_id").as("doc_a"), col("rep").as("rep_a")), "doc_a")
      .join(l0.select(col("doc_id").as("doc_b"), col("rep").as("rep_b")), "doc_b")
      .filter(col("rep_a") =!= col("rep_b"))
      .select("rep_a", "rep_b").distinct()
    // no re-checkpoint: propagateMin's result IS the loop's final
    // materialized checkpoint (and now registers itself with the
    // transient scope) — wrapping it in trackCp only added a blocking
    // copy job of the touched-rep map
    val mergeMap = propagateMin(repEdges).toDF("rep", "nrep")
    val labels = l0.join(mergeMap, Seq("rep"), "left")
      .select(col("doc_id"), coalesce(col("nrep"), col("rep")).as("rep"))
    (labels, mergeMap, newEdges)
  }

  val queries: Map[String, Q] = Map(
    // EXACT set-similarity join by prefix filtering (the SSJoin/PPJoin
    // family — Chaudhuri et al. 2006, Xiao et al. 2008): every document
    // pair with 5-shingle-set Jaccard ≥ 0.8, with the guarantee LSH
    // (q41) cannot give: NO missed pairs (LSH admits only
    // band-colliding candidates; banding is probabilistic). The width
    // and threshold are the operating point where prefix filtering has
    // teeth — see SetSimShingleN. Shingles order globally by
    // (document frequency, shingle); a doc of m shingles exposes only
    // its first m − ceil(t·m) + 1 RAREST shingles as join keys (a pair
    // at J ≥ t must collide inside these prefixes — the prefix-filter
    // theorem), candidates equi-join on those keys plus the
    // t ≤ |a|/|b| ≤ 1/t length filter, and exact Jaccard verifies
    // candidates only. The DuckDB oracle deliberately runs the NAIVE
    // pairs-sharing-any-shingle join instead — a hash-match PROVES the
    // prefix filter dropped nothing on this corpus, and
    // SetSimExactnessSpec pins q41 ⊆ q190 (the LSH-miss theorem).
    // Scale shape: prefix join keys are the globally rarest shingles
    // (boilerplate never becomes a join key), both windows ride one
    // doc_id partitioning, verification cost follows the candidate set,
    // never corpus². All comparisons are cross-multiplied integers.
    "q190_setsim_join" -> ((s, dir) => {
      val (tk, dfreq) = stagedSetSimTokens(s, dir, "all")
      setSimJoinTk(tk, dfreq, SetSimTBp).orderBy("doc_a", "doc_b")
    }),

    // q196: the SAME exact-join contract at t = 0.5, the regime q190's
    // scaladoc declares out of prefix filtering's reach (the prefix is
    // HALF of every doc). PPJoin's positional filter (Xiao et al.
    // 2008) restores candidate-bound cost there: every prefix
    // collision carries its rank pair, and rank arithmetic kills
    // pairs whose shared-rare-token positions cannot possibly reach
    // the α overlap — BEFORE the verification join. Oracle is the
    // naive all-pairs algorithm at t=0.5, so the hash match proves
    // the positional filter dropped nothing on this corpus.
    "q196_setsim_ppjoin" -> ((s, dir) => {
      val (tk, dfreq) = stagedSetSimTokens(s, dir, "all")
      setSimVerifyBounded(ppjoinCandidates(tk, dfreq, SetSimPpTBp), tk,
        SetSimPpTBp).orderBy("doc_a", "doc_b")
    }),

    // q198: the ingest-loop form — this round's batch (doc_id%10==7,
    // q119's split) against the standing corpus, exact Jaccard at
    // q190's threshold, no corpus×corpus work (see setSimIncremental).
    // Oracle is the naive batch×corpus join, proving the asymmetric
    // prefix filter (batch ordered by CORPUS df) lossless.
    "q198_setsim_incremental" -> ((s, dir) => {
      val (ctk, dfreq) = stagedSetSimTokens(s, dir, "corpus")
      setSimIncrementalTk(ctk, dfreq, stagedSetSimTokens(s, dir, "batch")._1)
        .orderBy("doc_a", "doc_b")
    }),

    // q199: q198's semantics served from the index AT REST — the
    // frozen-order df statistic and the corpus prefixes live as
    // manifest tables (token-sort-clustered + token bloom, the q148
    // postings layout), the batch probes them with a gated IN-list
    // that prunes index data files, and verification fetches only
    // candidate-touched corpus docs. Same naive batch×corpus oracle as
    // q198: the hash match proves the at-rest path loses nothing vs
    // the inline computation (frozen df == current df at build time).
    "q199_setsim_index" -> ((s, dir) => {
      val (dfT, preT) = ssimIndexTables(s, dir)
      val docs = Tables.documents(s, dir)
      ssimProbeTk(s, stagedSetSimTokens(s, dir, "batch")._1,
          docs.filter(col("doc_id") % 10 =!= 7), dfT, preT)
        .orderBy("doc_a", "doc_b")
    }),

    // q201: the at-rest probe against a MAINTAINED index — created on
    // arrival 1's snapshot, refreshed for arrival 2 through the change
    // feed under the frozen order, then a merge-on-read source DELETE
    // propagated by refreshCdc as a zero-read equality delete on the
    // prefix table (see ssimMaintainedTables). ROW-keyed — no byte-clone
    // canonicalization on either side. The oracle is the naive
    // batch × surviving-corpus join: its hash match proves the refresh
    // window, the frozen-order appends, AND the CDC delete all landed
    // exactly — a stale or over-deleted index cannot match.
    "q201_setsim_maintained" -> ((s, dir) => {
      val (srcT, dfT, preT) = ssimMaintainedTables(s, dir)
      val batch = Tables.documents(s, dir)
        .filter(col("doc_id") % 10 === 7).select(col("doc_id"), col("text"))
      ssimProbeTk(s,
          graft.sources.SsimIndexMaintenance.docTokens(batch).localCheckpoint(),
          s.table(srcT), dfT, preT)
        .orderBy("doc_a", "doc_b")
    }),

    // q208: q119's exact/near/new verdict served from the MinHash index
    // AT REST — corpus digests and LSH band keys live as sort-clustered
    // + bloomed manifest tables, the batch probes them with broadcast-
    // driven runtime file pruning, and verification fetches only
    // candidate-touched corpus docs. Same oracle as q119: the hash
    // match proves the at-rest path loses nothing vs the per-session
    // band computation.
    "q208_minhash_index" -> ((s, dir) => {
      val (digT, bandT) = mhIndexTables(s, dir)
      val docs = Tables.documents(s, dir)
      mhProbe(s, docs.filter(col("doc_id") % 10 === 7),
        docs.filter(col("doc_id") % 10 =!= 7), digT, bandT)
    }),

    // q209: the at-rest probe against a MAINTAINED MinHash index —
    // created on arrival 1's snapshot, refreshed for arrival 2 through
    // the change feed, then a merge-on-read source DELETE (docs 45 and
    // 134 — one indexed by CREATE, one by REFRESH; see
    // mhMaintainedTables for why both are oracle-visible) propagated as
    // zero-read equality deletes on both index tables. The oracle is
    // q119's naive SQL over the SURVIVING corpus: its hash match proves
    // the refresh window and both CDC deletes landed exactly — a stale
    // or over-deleted index cannot match.
    "q209_minhash_maintained" -> ((s, dir) => {
      val (srcT, digT, bandT) = mhMaintainedTables(s, dir)
      mhProbe(s,
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 7),
        s.table(srcT), digT, bandT)
    }),

    // q210: INCREMENTALLY MAINTAINED dedup clusters — q150's canonical
    // map served from standing cluster state folded forward as batches
    // arrive: the batch's LSH candidates touch only batch×batch and
    // batch×standing-bands, and component merging propagates over the
    // CONTRACTED rep graph (touched components only — see
    // incrementalClusterLabels). Oracle is q150's from-scratch SQL over
    // the whole corpus: the hash match proves the two-arrival fold is
    // EXACTLY the from-scratch clustering — a missed cross edge, a stale
    // label, or an over-merge cannot match.
    "q210_clusters_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(col("doc_id") % 10 =!= 7).select("doc_id", "text")
      val (labels, _, _) = incrementalClusterLabels(corpus,
        docs.filter(col("doc_id") % 10 === 7).select("doc_id", "text"),
        staged = Some(stagedClusterState(s, dir, corpus)))
      val quality = docs.select("doc_id", "n_chars")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("rep")
        .orderBy(col("n_chars").desc, col("doc_id"))
      val canon = labels.join(quality, "doc_id")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("rep"), col("doc_id").as("canon"))
      labels.join(canon, "rep")
        .select(col("doc_id"), col("rep"), col("canon"),
          when(col("doc_id") === col("canon"), 1L).otherwise(0L).as("kept"))
        .orderBy("doc_id")
    }),

    // q213: q150's canonical map served from the MAINTAINED cluster
    // index — labels/edges/bands live as manifest tables, created on
    // arrival 1, refreshed for arrival 2 (whose bridge chain provably
    // MERGES two natural components — see clusterMaintainedTables), then
    // a merge-on-read DELETE retires the whole chain plus doc 45 and the
    // final refresh recomputes the touched components from surviving
    // edge rows — the SPLIT q210's min-propagation fold structurally
    // cannot produce. Oracle is q150's from-scratch SQL over the
    // survivors: a stale label, an over-merge the delete failed to undo,
    // an under-split, or a leftover stitch row cannot match.
    "q213_clusters_maintained" -> ((s, dir) => {
      val labT = clusterMaintainedTables(s, dir)
      val labels = s.table(labT)
      val quality = Tables.documents(s, dir).select("doc_id", "n_chars")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("rep")
        .orderBy(col("n_chars").desc, col("doc_id"))
      val canon = labels.join(quality, "doc_id")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("rep"), col("doc_id").as("canon"))
      labels.join(canon, "rep")
        .select(col("doc_id"), col("rep"), col("canon"),
          when(col("doc_id") === col("canon"), 1L).otherwise(0L).as("kept"))
        .orderBy("doc_id")
    }),

    "q40_exact_dedup" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy("text")
        .agg(min(col("doc_id")).as("keeper_id"),
          count(lit(1)).as("n_copies"),
          md5(col("text")).as("text_md5"))
        .select("keeper_id", "n_copies", "text_md5")
        .orderBy("keeper_id")
    }),

    "q41_minhash_lsh" -> ((s, dir) => {
      verifiedNearDupPairs(s, dir)
        .select("doc_a", "doc_b", "inter", "uni", "jac_bp")
        .orderBy("doc_a", "doc_b")
    }),

    // Dedup clustering: connected components over the verified near-dup
    // pairs — the final step of a dedup pipeline ("keep one doc per
    // cluster"). Min-label propagation iterated to FIXPOINT with a
    // driver-side convergence check (the Pregel pattern on DataFrames).
    // Crucially the loop runs ONLY over vertices that appear in an edge —
    // every other document is a singleton cluster and can never change
    // label, so it is unioned in once at the end. At 100 TB the edge set
    // is the near-dup fraction of the corpus (orders of magnitude smaller
    // than the document set); iterating the full corpus per round was the
    // round-2 bottleneck (63 s of a 111 s bench). localCheckpoint
    // truncates lineage between rounds.
    "q77_dedup_clusters" -> ((s, dir) => {
      clusterLabels(s, dir)
        .withColumn("cluster_size", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("rep")))
        .select("doc_id", "rep", "cluster_size")
        .orderBy("doc_id")
    }),

    // Retention POLICY over the duplicate clusters: instead of q40's
    // keep-first rule, keep the BEST member of each near-dup cluster —
    // ranked here by length then doc_id, but any deterministic quality
    // score (q141's LM score, q58's heuristics) slots into the same
    // window. The canonical map (every doc -> its cluster's keeper) is
    // what a real curation pipeline persists: downstream joins route
    // dropped docs to their surviving twin. Plan: the q77 labels + ONE
    // keyed window over (rep) + a broadcast-size join back — nothing
    // beyond the clustering's own cost.
    "q150_cluster_canonical" -> ((s, dir) => {
      val labels = clusterLabels(s, dir)
      val quality = Tables.documents(s, dir).select("doc_id", "n_chars")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("rep")
        .orderBy(col("n_chars").desc, col("doc_id"))
      val canon = labels.join(quality, "doc_id")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("rep"), col("doc_id").as("canon"))
      labels.join(canon, "rep")
        .select(col("doc_id"), col("rep"), col("canon"),
          when(col("doc_id") === col("canon"), 1L).otherwise(0L).as("kept"))
        .orderBy("doc_id")
    }),

    // LEAK-SAFE train/eval SPLIT: near-duplicate documents must land in
    // the SAME split, or eval examples leak into training through their
    // textual twins (the decontamination failure q104/q136 guard
    // against, closed here at assignment time instead of after the
    // fact). The unit of assignment is the q77 dup-CLUSTER: split =
    // hash(cluster rep) % 10, so every member inherits its cluster's
    // split by construction. Cost: the clustering itself + one hash —
    // no new shuffle shape at 100 TB.
    "q161_leak_safe_split" -> ((s, dir) => {
      clusterLabels(s, dir)
        .select(col("doc_id"), col("rep"),
          (md5Code60(concat(lit("split:"), col("rep").cast("string")))
            % lit(10L)).as("split"))
        .orderBy("doc_id")
    }),

    // SimHash built relationally: explode tokens, hash each ONCE, and
    // compute the 16 per-bit +/-1 score sums as map-side-combining
    // aggregates (the same CollapseProject-inlines-into-lambda trap that
    // withSignature avoids: referencing a computed `codes` array inside a
    // transform() lambda re-evaluates md5 per outer element — 16x). The
    // shuffle carries 16 longs per doc regardless of document length.
    "q42_simhash" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      val codes = base
        .select(col("doc_id"), explode(col("toks")).as("t"))
        .select(col("doc_id"), (md5Code60(col("t")) % lit(65536L)).as("code"))
      val bitSums = (0 until 16).map(j =>
        sum(((col("code") / lit(1L << j)).cast("long") % lit(2L)) * lit(2L) - lit(1L))
          .as(s"s$j"))
      val sums = codes.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      val sim = (0 until 16)
        .map(j => when(col(s"s$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _)
      // zero-token doc: every bit score is 0 (>= 0), i.e. all 16 bits set
      base.join(sums, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("s0").isNull, lit(65535L)).otherwise(sim).as("simhash"),
          size(col("toks")).as("n_toks"))
        .orderBy("doc_id")
    }),

    // Containment detection (asymmetric): doc_a is a near-subset of
    // doc_b when >=90% of a's shingles appear in b — catches quotes and
    // partial copies that symmetric Jaccard under-scores (a short quote
    // inside a long doc has low Jaccard but high containment). Candidate
    // generation is the SAME LSH band-bucketing as q41 (bounded
    // equi-join, the 100 TB posture) evaluated in both directions, since
    // containment is not symmetric.
    "q90_containment" -> ((s, dir) => {
      val pairs = verifiedNearDupPairs(s, dir).select("doc_a", "doc_b")
      val both = pairs
        .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      val sets = pairMemberShingles(s, dir)
      both
        .join(sets.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
        .join(sets.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("size_a", size(col("sh_a")))
        .filter(col("inter") * 10 >= col("size_a") * 9)
        .withColumn("cont_bp", expr("inter * 10000L div size_a"))
        .select("doc_a", "doc_b", "inter", "size_a", "cont_bp")
        .orderBy("doc_a", "doc_b")
    }),

    "q43_jaccard_pairs" -> ((s, dir) => {
      // localCheckpoint the 30-doc probe set (a few KB) so the self-join
      // computes the shingle arrays ONCE — without it each side re-scans
      // documents and re-shingles (0.37s -> 1.17s regression in r3)
      val sets = shingleSets(s, dir).filter(col("doc_id") < 30).localCheckpoint()
      val a = sets.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
      val b = sets.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
      val (inter, uni) = jaccardCols(col("sh_a"), col("sh_b"))
      a.join(b, col("doc_a") < col("doc_b"))
        .withColumn("inter", inter)
        .withColumn("uni", uni)
        .withColumn("jac_bp", expr("inter * 10000L div uni"))
        .select("doc_a", "doc_b", "inter", "uni", "jac_bp")
        .orderBy("doc_a", "doc_b")
    }),

    // Incremental corpus dedup — the DAILY-INGEST shape: dedup a new
    // batch (doc_id % 10 == 7 stands in for today's crawl) against the
    // EXISTING corpus with no corpus-vs-corpus work at all. Exact dups
    // via a text-hash equi-join; near-dups via band keys joined
    // batch-side x CORPUS-side only, so candidate work scales with
    // |batch| x collision rate — at 100 TB the corpus bands are a static
    // indexed table and each day's run touches only the new partition.
    // Verdict precedence: exact > near > new; match_id is the smallest
    // matching corpus doc (deterministic).
    "q119_incremental_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val batchPred = col("doc_id") % 10 === 7
      // exact: smallest corpus doc with byte-identical text
      val exact = docs.filter(batchPred)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .join(docs.filter(!batchPred)
          .select(md5(col("text")).as("h"), col("doc_id").as("m")), "h")
        .groupBy("doc_id").agg(min(col("m")).as("exact_match"))
      // near: LSH bands, batch x corpus candidates only
      val sigs = docs
        .select(col("doc_id"),
          graft.plans.MinHashFromTextExpr.sigFromText(col("text"), ShingleN, NumHashes).as("sig"))
        .filter(col("sig").isNotNull)
      val allBands = bands(sigs).localCheckpoint()
      val cand = allBands.filter(col("doc_id") % 10 === 7).as("a")
        .join(allBands.filter(col("doc_id") % 10 =!= 7).as("b"),
          col("a.j") === col("b.j") && col("a.bkey") === col("b.bkey"))
        .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("cand_id"))
        .distinct().localCheckpoint() // feeds candDocs AND the verify join
      // exact-Jaccard verification shingles only candidate-touched docs
      // (size-gated semi-join: see joinIds)
      val candDocs = cand.select(col("doc_id"))
        .union(cand.select(col("cand_id").as("doc_id"))).distinct().localCheckpoint()
      val sets = joinIds(docs, candDocs, "doc_id")
        .select(col("doc_id"),
          graft.plans.ShinglesExpr.shinglesNative(col("text"), ShingleN).as("shingles"))
        .localCheckpoint()
      val (inter, uni) = jaccardCols(col("sh_a"), col("sh_b"))
      val near = cand
        .join(sets.select(col("doc_id"), col("shingles").as("sh_a")), "doc_id")
        .join(sets.select(col("doc_id").as("cand_id"), col("shingles").as("sh_b")), "cand_id")
        .withColumn("inter", inter).withColumn("uni", uni)
        .filter(col("inter") * 2 >= col("uni"))
        .groupBy("doc_id").agg(min(col("cand_id")).as("near_match"))
      docs.filter(batchPred).select(col("doc_id"))
        .join(exact, Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("exact_match").isNotNull, lit("exact"))
            .when(col("near_match").isNotNull, lit("near"))
            .otherwise(lit("new")).as("verdict"),
          coalesce(col("exact_match"), col("near_match"), lit(-1L)).as("match_id"))
        .orderBy("doc_id")
    }),

    // Sketch-accuracy audit: for every verified near-dup pair, the
    // MinHash ESTIMATE of Jaccard (fraction of agreeing signature
    // positions) against the EXACT shingle Jaccard, with the absolute
    // error — the calibration report that tells an operator whether 16
    // hashes are enough before trusting the sketch at corpus scale.
    // Reuses the session-staged pair table + member shingles; only the
    // (tiny) pair-member set gets signatures recomputed.
    "q120_minhash_calibration" -> ((s, dir) => {
      val pairs = verifiedNearDupPairs(s, dir).select("doc_a", "doc_b", "jac_bp")
      val memberSigs = pairMemberShingles(s, dir)
        .select(col("doc_id"),
          graft.plans.MinHashSigExpr.sigNative(col("shingles"), NumHashes).as("sig"))
      val agree = aggregate(
        zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), (acc, v) => acc + v)
      pairs
        .join(memberSigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
        .join(memberSigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
        .withColumn("agree", agree)
        .withColumn("est_bp", expr(s"agree * 10000L div $NumHashes"))
        .select(col("doc_a"), col("doc_b"), col("jac_bp"), col("est_bp"),
          abs(col("est_bp") - col("jac_bp")).as("err_bp"))
        .orderBy("doc_a", "doc_b")
    }),

    // Exact substring dedup: pairs of documents sharing a verbatim run
    // of >= SubstrWindow tokens, with hit/window counts and the first
    // shared position on each side. See substringDupPairs for the
    // hash-bucket + text-verify scale design.
    "q131_substring_dedup" -> ((s, dir) =>
      stagedSubstringDupPairs(s, dir)
        .orderBy("doc_a", "doc_b")),

    // Cross-corpus VERBATIM decontamination (the substring counterpart
    // of q104's n-gram-overlap gate; public method: Lee et al. 2022 /
    // the GPT-3 appendix leakage checks): a training document leaks an
    // eval document if they share any SubstrWindow-token window. The
    // join is ASYMMETRIC by design — the eval side is the tiny one, so
    // its distinct window hashes BROADCAST and the corpus-sized train
    // side never shuffles for candidate generation; window text is then
    // verified for candidate train docs only (size-gated id join), so
    // the result never depends on hash collisions. Per leaked train
    // doc: distinct leaked windows, first leak position, the earliest
    // eval doc hit.
    "q136_substring_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isEval = col("doc_id") % 5 === 0
      val train = docs.filter(!isEval)
      val evalDocs = docs.filter(isEval)
      val evalHashes = windowHashRows(evalDocs, SubstrWindow)
        .select("wval").distinct()
      val cand = windowHashRows(train, SubstrWindow)
        .join(broadcast(evalHashes), "wval")
        .select("doc_id", "pos").localCheckpoint()
      val candDocs = cand.select("doc_id").distinct().localCheckpoint()
      val trainT = windowTextRows(joinIds(train, candDocs, "doc_id"), SubstrWindow)
      val evalT = windowTextRows(evalDocs, SubstrWindow)
        .select(col("doc_id").as("eval_doc"), col("wval"))
      trainT.join(cand, Seq("doc_id", "pos"))
        .join(evalT, Seq("wval"))
        .groupBy("doc_id")
        .agg(countDistinct(col("wval")).as("n_leaked_windows"),
          min(col("pos")).as("first_pos"),
          min(col("eval_doc")).as("eval_doc"))
        .orderBy("doc_id")
    }),

    // Triangle enumeration over the substring-dup graph — doc triples
    // PAIRWISE sharing verbatim runs, i.e. copy clusters, not just
    // pairs. The classic distributed algorithm: edges are already
    // canonically oriented (a < b), so the wedge join a<b<c emits each
    // triangle exactly once; at scale this is two equi-joins on doc
    // ids over the (tiny) verified pair set — the corpus never
    // re-enters.
    "q138_dup_triangles" -> ((s, dir) => {
      val e = stagedSubstringDupPairs(s, dir)
        .select(col("doc_a"), col("doc_b"))
      e.select(col("doc_a").as("a"), col("doc_b").as("b"))
        .join(e.select(col("doc_a").as("b"), col("doc_b").as("c")), "b")
        .join(e.select(col("doc_a").as("a"), col("doc_b").as("c")), Seq("a", "c"))
        .select("a", "b", "c")
        .orderBy("a", "b", "c")
    }),

    // LINE-level dedup (public method: CCNet, Wenzek et al. 2020 — also
    // RefinedWeb/FineWeb's "remove lines duplicated across documents"):
    // one corpus-wide pass counts each distinct line's DOCUMENT frequency;
    // lines appearing in >= LineDupMinDocs distinct docs are boilerplate
    // (headers, navigation, license blurbs) and are removed from EVERY
    // document — CCNet drops all copies, not all-but-one — then survivors
    // reassemble in original order. "Lines" here are the LineWords-word
    // segmentation of each doc (this corpus is single-line; a
    // newline-delimited corpus plugs its real lines into the same
    // algebra). Scale shape: explode -> two-phase count-distinct on the
    // line key -> one equi-join back on the line -> per-doc re-aggregate.
    // No all-pairs anywhere; the duplicated-line table is NOT assumed
    // broadcastable (boilerplate volume grows with the corpus), so the
    // join-back shuffles by line and AQE handles hot boilerplate keys.
    // collect_list drops null structs, so survivors gather without a
    // second scan; array_sort on (pos, line) structs restores document
    // order exactly.
    "q202_line_dedup" -> ((s, dir) =>
      lineDedup(Tables.documents(s, dir)).orderBy("doc_id")),

    // TRUNCATION-duplicate detection: documents whose full token sequence
    // is a word-aligned PREFIX of a strictly longer document (the classic
    // crawl artifact — the same page captured once complete and once cut
    // off mid-stream; doc-level MinHash misses these when the truncation
    // is short, and q131's substring windows report shared runs without
    // the containment-from-position-0 keep rule). Candidates form on an
    // equi-join over the first-k-words prefix key: the short side emits
    // ONE key at k = min(PrefixKeyWords, |doc|); the long side emits its
    // first-k prefixes for every k <= PrefixKeyWords (a bounded <= 10-row
    // fan-out per doc, NOT per-length keys over the whole doc). Word
    // alignment makes verification exact and cheap: startswith(long,
    // short || ' ') — a char-level prefix that splits a token is not a
    // truncation. Keep rule: each contained doc maps to its LONGEST
    // container (tie: min doc_id) — the canonical "keep the most complete
    // capture". Exact-equal texts are q40's domain and are excluded by
    // the strict length filter.
    "q203_prefix_dedup" -> ((s, dir) =>
      prefixDups(Tables.documents(s, dir)).orderBy("dup_id")),

    // INCREMENTAL line-level dedup — the q119/q198 batch-vs-corpus
    // pattern at LINE granularity, completing the family matrix (exact
    // doc, MinHash near-dup, exact set-sim, substring and line dedup
    // all now have both inline and incremental forms): an arriving
    // batch is cleaned against the STANDING corpus — any batch line
    // already present in the reference shard is boilerplate relative to
    // it and drops (CCNet run in its production shape: the line
    // frequency table is computed ONCE on a reference shard and every
    // incoming shard is cleaned against it, so ingest cost follows the
    // batch, never corpus × corpus). The corpus's distinct-line table
    // is the standing statistic: buildable offline, maintainable by the
    // change feed exactly like the set-sim prefix index (q201's
    // protocol applies unchanged — the table is one column keyed by
    // line).
    "q206_line_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      lineDedupIncremental(
        docs.filter(col("doc_id") % 10 =!= 7),
        docs.filter(col("doc_id") % 10 === 7)
      ).orderBy("doc_id")
    }),

    // q206 against a MAINTAINED standing line table — q201's protocol
    // applied to the refcounted case (see LineTableMaintenance: the
    // line is not owned by one doc, so maintenance is the IncrementalMv
    // MERGE retraction shape, not an equality delete). The oracle is
    // the naive batch vs SURVIVING corpus: its hash match proves both
    // arrivals landed, the delete decremented refcounts exactly —
    // clique-only lines stopped cleaning, shared lines kept cleaning —
    // and nothing else moved.
    "q207_line_dedup_maintained" -> ((s, dir) => {
      val (_, linesT) = lineMaintainedTables(s, dir)
      cleanAgainstLines(
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 7),
        s.table(linesT)
      ).orderBy("doc_id")
    }))

  /** q202's engine over an arbitrary (doc_id, text) frame — see the
    * q202 entry for the design commentary. */
  /** Per-doc corpus-frequent-line POSITIONS over a (doc_id, chunks)
    * frame: (doc_id, dups: array<int>) for docs holding >= 1 such line;
    * docs with none are absent (consumers left-join).
    *
    * This is the shuffle diet of the whole line-dedup family (guide
    * §2.3/§8; OPTIMIZATION_r16.md O9). The direct formulation shuffled
    * corpus LINE TEXT three times — a two-phase countDistinct(doc_id)
    * per line, a corpus ⋈ dupLines re-shuffle keyed by line, and the
    * reassembly regroup keyed by doc_id. Only the cross-doc line
    * STATISTIC fundamentally needs a text-keyed exchange: per-doc
    * distinct lines (array_distinct map-side, so the count is a plain
    * count(*), one exchange) feed it; the dup-line set is then small
    * (lines repeated across >= LineDupMinDocs docs — boilerplate) and
    * attaches back by size-gated broadcast, so the flag pass shuffles
    * (doc_id, pos) INTEGERS only; reassembly happens inside the doc's
    * own row by position filter, no regroup. */
  private[graft] def dupLinePositions(chunked: DataFrame): DataFrame = {
    val dupLines = graft.engine.Staging.trackCp(
      chunked.select(explode(array_distinct(col("chunks"))).as("line"))
        .groupBy("line").agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= LineDupMinDocs)
        .select("line"))
    joinIds(
      chunked.select(col("doc_id"),
        posexplode(col("chunks")).as(Seq("pos", "line"))),
      dupLines, "line")
      .groupBy("doc_id").agg(collect_set(col("pos")).as("dups"))
  }

  /** Left-join `big` to a small per-doc frame with the [[joinIds]] size
    * gate (broadcast when the small side's rows fit, shuffled-hash
    * fallback otherwise — never a sort-merge of the corpus side). */
  private[graft] def joinDocsLeft(big: DataFrame, small: DataFrame,
      key: String, maxIds: Long = BroadcastMaxIds): DataFrame =
    if (small.count() <= maxIds) big.join(broadcast(small), Seq(key), "left")
    else big.join(small.hint("shuffle_hash"), Seq(key), "left")

  /** `chunks` minus the positions in `dups` (null dups = keep all),
    * rejoined with `sep` — the row-local reassembly of the line-dedup
    * family. */
  private[graft] def keptText(sep: String): Column =
    array_join(when(col("dups").isNull, col("chunks"))
      .otherwise(filter(col("chunks"),
        (_, i) => !array_contains(col("dups"), i))), sep)

  private[graft] def lineDedup(docs: DataFrame): DataFrame = {
    // null gate on the RAW column: line_chunks is null-propagating
    // (null text <=> null chunks), so filtering text pushes IsNotNull
    // into the parquet scan and the chunk kernel runs once per row —
    // filtering the derived chunks column did neither (r16 PlanAudit
    // NO-PUSHDOWN + double kernel eval).
    val chunked = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), lineChunks(col("text"), LineWords).as("chunks"))
    val dupPos = graft.engine.Staging.trackCp(dupLinePositions(chunked))
    joinDocsLeft(chunked, dupPos, "doc_id")
      .select(col("doc_id"),
        size(col("chunks")).cast("long").as("n_lines"),
        coalesce(size(col("dups")), lit(0)).cast("long").as("n_dup_lines"),
        md5(keptText(" ")).as("clean_md5"))
  }

  /** q202's cleaning as a TEXT-producing stage: every doc's line-deduped
    * text (corpus-frequent lines removed, survivors rejoined in order)
    * with `lang` carried through — the first stage of the composed
    * pipeline (q117), same algebra as [[lineDedup]] minus the md5
    * reporting. Docs whose every line is boilerplate come out as the
    * empty string (downstream gates drop them — Gopher's word floor). */
  private[graft] def cleanedDocs(docs: DataFrame): DataFrame = {
    // text.isNotNull, not chunks.isNotNull — see lineDedup's null gate
    val chunked = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        lineChunks(col("text"), LineWords).as("chunks"))
    val dupPos = graft.engine.Staging.trackCp(dupLinePositions(chunked))
    joinDocsLeft(chunked, dupPos, "doc_id")
      .select(col("doc_id"), col("lang"), keptText(" ").as("text"))
  }

  /** Verbatim-leak ids: distinct `train` docs sharing a verified
    * [[SubstrWindow]]-token window with some `evalDocs` doc — q136's
    * asymmetric broadcast join (tiny eval side broadcasts; train never
    * shuffles for candidates; window TEXT verifies candidates only),
    * reduced to the id set a decontamination pass quarantines. */
  private[graft] def verbatimLeakIds(train: DataFrame, evalDocs: DataFrame): DataFrame = {
    val evalHashes = windowHashRows(evalDocs, SubstrWindow)
      .select("wval").distinct()
    // per-call frames (q117's S4): registered in the harness's
    // transient scope so their blocks free when the query's action ends
    val cand = graft.engine.Staging.trackCp(windowHashRows(train, SubstrWindow)
      .join(broadcast(evalHashes), "wval")
      .select("doc_id", "pos"))
    val candDocs = graft.engine.Staging.trackCp(
      cand.select("doc_id").distinct())
    val trainT = windowTextRows(joinIds(train, candDocs, "doc_id"), SubstrWindow)
    val evalT = windowTextRows(evalDocs, SubstrWindow).select("wval").distinct()
    trainT.join(cand, Seq("doc_id", "pos"))
      .join(evalT, Seq("wval"))
      .select("doc_id").distinct()
  }

  /** q206's engine: clean `batch` against `corpus`'s standing distinct
    * line set — see the q206 entry for the design commentary. The
    * corpus side reduces to one distinct-line column before the join,
    * so the shuffle carries corpus lines once and batch lines once;
    * reassembly is q202's null-skipping collect_list. */
  private[graft] def lineDedupIncremental(corpus: DataFrame,
      batch: DataFrame): DataFrame =
    cleanAgainstLines(batch,
      corpus.select(explode(lineChunksOf(col("text"))).as("line")))

  /** Clean `batch` against a standing line set (`corpusLines`: one
    * `line` column; duplicates tolerated) — shared by q206 (inline
    * corpus explode) and q207 (the MAINTAINED line table).
    *
    * Join direction inverted (guide §3.1; OPTIMIZATION_r16.md O9): the
    * BATCH's distinct line set is the small side, so it broadcasts
    * (size-gated) and the corpus-sized line stream is filtered
    * MAP-SIDE to the hit set — the corpus never pays an exchange (the
    * old shape paid a corpus-wide distinct exchange plus the corpus
    * half of a sort-merge join, to clean a batch 10x-1000x smaller).
    * The hit set is bounded by the batch's own line count. */
  private[graft] def cleanAgainstLines(batch: DataFrame,
      corpusLines: DataFrame): DataFrame = {
    val bl = graft.engine.Staging.trackCp(
      batch.select(col("doc_id"),
        posexplode(lineChunksOf(col("text"))).as(Seq("pos", "line"))))
    val blSet = bl.select("line").distinct()
    val hits = graft.engine.Staging.trackCp(
      joinIds(corpusLines, blSet, "line").select("line").distinct())
    joinDocsLeft(bl, hits.select(col("line"), lit(1).as("hit")), "line")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        count(col("hit")).as("n_dropped"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("hit").isNull,
            struct(col("pos"), col("line"))))),
          x => x("line")), " ")).as("clean_md5"))
      .select("doc_id", "n_lines", "n_dropped", "clean_md5")
  }

  /** q203's engine over an arbitrary (doc_id, text) frame — see the
    * q203 entry for the design commentary.
    *
    * The long side's shuffle rows carry the keeper TEXT only on the
    * k = PrefixKeyWords row — the sole case verification reads it. A
    * dup with fewer than PrefixKeyWords words joins at k = |dup|,
    * where the prefix key IS the dup's whole text, so pk equality
    * already proves the word-prefix and the strict char-length test
    * alone proves the keeper continues past it (equal first-k words
    * + more chars forces a word k+1). Without this, the join would
    * shuffle every document's text PrefixKeyWords times — 10× corpus
    * write amplification for bytes nothing reads. */
  private[graft] def prefixDups(docs0: DataFrame,
      dfCap: Int = PrefixDfCap): DataFrame = {
    // explicit null gate: a null text can never pair, and stating it on
    // the raw column (not through derived exprs like length(text), which
    // the join constraints otherwise propagate un-simplified) gives the
    // scan a PUSHABLE IsNotNull instead of an unpushed scan-adjacent
    // filter (PlanAudit's NO-PUSHDOWN smell)
    val docs = docs0.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"), tokens(col("text")).as("ws"))
      .withColumn("nw", size(col("ws")))
    val shortSide = docs.select(col("doc_id").as("dup_id"),
      col("text").as("dup_text"),
      least(lit(PrefixKeyWords), col("nw")).as("k"),
      array_join(slice(col("ws"), lit(1), least(lit(PrefixKeyWords), col("nw"))), " ").as("pk"))
    // df cap: the per-key window counts on the SAME (k, pk) partitioning
    // the join needs, so the exchange is shared; dropping over-cap keys
    // from the keeper side alone starves their dup rows of matches
    val wDf = Window.partitionBy("k", "pk")
    val longSide = docs
      .withColumn("k", explode(sequence(lit(1), least(lit(PrefixKeyWords), col("nw")))))
      .select(col("doc_id").as("keeper_id"),
        when(col("k") === PrefixKeyWords, col("text")).as("keeper_full_text"),
        length(col("text")).cast("long").as("keeper_chars"),
        col("k"), array_join(slice(col("ws"), lit(1), col("k")), " ").as("pk"))
      .withColumn("kdf", count(lit(1)).over(wDf))
      .filter(col("kdf") <= dfCap)
      .drop("kdf")
    val w = Window.partitionBy("dup_id")
      .orderBy(col("keeper_chars").desc, col("keeper_id"))
    shortSide.join(longSide, Seq("k", "pk"))
      .filter(col("keeper_chars") > length(col("dup_text")) &&
        (col("k") < PrefixKeyWords ||
          col("keeper_full_text").startsWith(concat(col("dup_text"), lit(" ")))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("dup_id"), col("keeper_id"),
        length(col("dup_text")).cast("long").as("dup_chars"),
        col("keeper_chars"))
  }

  // ---- DuckDB oracle ------------------------------------------------------

  /** Shared CTE: distinct 3-gram shingle sets per doc. Kept single-line —
    * these fragments are interpolated into stripMargin'd outer strings,
    * and a continuation line starting with `||` would lose a bar. */
  private def setsCteFrom(src: String): String =
    s"""s AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, len(string_split(text,' ')) - 2),
       |    i -> (string_split(text,' '))[i] || ' ' || (string_split(text,' '))[i+1] || ' ' || (string_split(text,' '))[i+2])) AS shingles
       |  FROM $src WHERE len(string_split(text,' ')) >= 3)""".stripMargin.replace("\n", " ")

  private val setsCte = setsCteFrom("documents")

  private val jacSelect =
    """SELECT doc_a, doc_b, inter, uni, CAST(inter * 10000 // uni AS BIGINT) AS jac_bp FROM (
      |  SELECT doc_a, doc_b,
      |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS INTEGER) AS inter,
      |    CAST(len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)) AS INTEGER) AS uni
      |  FROM cand JOIN s sa ON sa.doc_id = doc_a JOIN s sb ON sb.doc_id = doc_b)""".stripMargin.replace("\n", " ")

  /** The full LSH pipeline as a CTE chain ending in `vp(doc_a, doc_b)` —
    * the verified near-dup pairs. Shared with composite pipelines
    * (PipelineOps q117) so their oracles state the IDENTICAL candidate
    * generation. */
  private[operators] def lshVerifiedPairsCtes: String = lshVerifiedPairsCtesFrom("documents")

  /** [[lshVerifiedPairsCtes]] over an arbitrary source CTE/table (the
    * composed pipeline near-dups its line-cleaned survivor CTE). */
  private[operators] def lshVerifiedPairsCtesFrom(src: String): String = {
    val code = md5Code60Sql("sh")
    val affine = affineHashSql("i", "x")
    s"""${setsCteFrom(src)},
       |c AS (SELECT doc_id, list_transform(shingles, sh -> $code) AS codes FROM s),
       |sg AS (SELECT doc_id, list_transform(generate_series(1, $NumHashes),
       |        i -> list_min(list_transform(codes, x -> $affine))) AS sig FROM c),
       |bands AS (SELECT doc_id, j,
       |  array_to_string(sig[j*$RowsPerBand+1 : j*$RowsPerBand+$RowsPerBand], '_') AS bkey
       |  FROM sg, generate_series(0, ${Bands - 1}) t(j)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |  ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |vp AS (SELECT doc_a, doc_b FROM ($jacSelect) x WHERE x.inter * 2 >= x.uni)""".stripMargin
  }

  /** Shared CTE chain ending in `hits(doc_a, doc_b, pos_a, pos_b, w)` —
    * the verified shared-window pairs of the substring-dedup family
    * (q131 aggregates it; q138 builds triangles on it). */
  private def substrHitsCtes: String =
    s"""toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents
       |  WHERE len(string_split(text,' ')) >= $SubstrWindow),
       |wins AS (SELECT doc_id, CAST(i AS INTEGER) AS pos,
       |    list_aggr(t[i:i+${SubstrWindow - 1}], 'string_agg', ' ') AS w
       |  FROM toks, unnest(range(1, len(t) - ${SubstrWindow - 1} + 1)) AS u(i)),
       |keep AS (SELECT w FROM (SELECT w, count(DISTINCT doc_id) AS df
       |  FROM wins GROUP BY w) WHERE df <= $SubstrDfCap),
       |hits AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.pos AS pos_a, b.pos AS pos_b, a.w
       |  FROM wins a JOIN wins b ON a.w = b.w AND a.doc_id < b.doc_id
       |  WHERE a.w IN (SELECT w FROM keep))""".stripMargin

  /** Canonicalize-then-5-shingle CTE pair for the naive set-sim
    * oracles: `${p}s` (per-doc distinct shingles) and `${p}tk`
    * (unnested), over `documents` rows passing `where`. */
  private def shingleCtes(p: String, where: String): String =
    s"""${p}canon AS (SELECT min(doc_id) AS doc_id, text FROM documents
       |               $where GROUP BY text),
       |${p}s AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, len(string_split(text,' ')) - 4),
       |    i -> (string_split(text,' '))[i] || ' ' || (string_split(text,' '))[i+1] || ' ' || (string_split(text,' '))[i+2] || ' ' || (string_split(text,' '))[i+3] || ' ' || (string_split(text,' '))[i+4])) AS shingles
       |  FROM ${p}canon WHERE len(string_split(text,' ')) >= 5),
       |${p}tk AS (SELECT doc_id, unnest(shingles) AS token FROM ${p}s),
       |${p}sz AS (SELECT doc_id, count(*) AS m FROM ${p}tk GROUP BY doc_id)""".stripMargin

  /** The NAIVE self-join algorithm on purpose: every pair sharing ≥1
    * shingle, exact Jaccard, threshold filter — hash-matching this
    * proves the Spark side's candidate filters are lossless on the
    * corpus. Shared by q190 (t=0.8, prefix filter) and q196 (t=0.5,
    * prefix + positional filter). */
  private def naiveSetSimSql(t: Long): String =
    s"""WITH ${shingleCtes("", "")},
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM tk a JOIN tk b ON a.token = b.token AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |j AS (SELECT doc_a, doc_b, sa.m AS size_a, sb.m AS size_b, inter
       |  FROM pairs JOIN sz sa ON sa.doc_id = doc_a
       |             JOIN sz sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b, size_a, size_b, inter,
       |  CAST(inter * 10000 // (size_a + size_b - inter) AS BIGINT) AS jacc_bp
       |FROM j
       |WHERE inter * 10000 >= $t * (size_a + size_b - inter)
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Naive batch×corpus ground truth shared by q198 (inline
    * incremental) and q199 (the same semantics probed from the at-rest
    * index): every cross pair sharing ≥1 shingle, exact Jaccard —
    * proves the asymmetric (frozen-corpus-df-ordered) prefix filter
    * lossless on both paths. */
  private def naiveIncrementalSql: String =
      s"""WITH ${shingleCtes("c", "WHERE doc_id % 10 <> 7")},
         |${shingleCtes("b", "WHERE doc_id % 10 = 7")},
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM btk a JOIN ctk b ON a.token = b.token
         |  GROUP BY a.doc_id, b.doc_id),
         |j AS (SELECT doc_a, doc_b, sa.m AS size_a, sb.m AS size_b, inter
         |  FROM pairs JOIN bsz sa ON sa.doc_id = doc_a
         |             JOIN csz sb ON sb.doc_id = doc_b)
         |SELECT doc_a, doc_b, size_a, size_b, inter,
         |  CAST(inter * 10000 // (size_a + size_b - inter) AS BIGINT) AS jacc_bp
         |FROM j
         |WHERE inter * 10000 >= $SetSimTBp * (size_a + size_b - inter)
         |ORDER BY doc_a, doc_b""".stripMargin

  /** Non-canonicalizing twin of [[shingleCtes]] for the ROW-keyed
    * maintained index (q201): every `documents` row passing `where`
    * shingles individually. `where` must be a full WHERE clause. */
  private def rawShingleCtes(p: String, where: String): String =
    s"""${p}s AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, len(string_split(text,' ')) - 4),
       |    i -> (string_split(text,' '))[i] || ' ' || (string_split(text,' '))[i+1] || ' ' || (string_split(text,' '))[i+2] || ' ' || (string_split(text,' '))[i+3] || ' ' || (string_split(text,' '))[i+4])) AS shingles
       |  FROM documents $where AND len(string_split(text,' ')) >= 5),
       |${p}tk AS (SELECT doc_id, unnest(shingles) AS token FROM ${p}s),
       |${p}sz AS (SELECT doc_id, count(*) AS m FROM ${p}tk GROUP BY doc_id)""".stripMargin

  /** q201's ground truth: the naive batch × corpus join over the rows
    * the maintained source still holds (the CDC delete excluded), with
    * NO canonicalization — the maintained index's row-keyed contract. */
  private def naiveMaintainedSql: String =
    s"""WITH ${rawShingleCtes("c", "WHERE doc_id % 10 <> 7 AND doc_id % 100 <> 11")},
       |${rawShingleCtes("b", "WHERE doc_id % 10 = 7")},
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM btk a JOIN ctk b ON a.token = b.token
       |  GROUP BY a.doc_id, b.doc_id),
       |j AS (SELECT doc_a, doc_b, sa.m AS size_a, sb.m AS size_b, inter
       |  FROM pairs JOIN bsz sa ON sa.doc_id = doc_a
       |             JOIN csz sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b, size_a, size_b, inter,
       |  CAST(inter * 10000 // (size_a + size_b - inter) AS BIGINT) AS jacc_bp
       |FROM j
       |WHERE inter * 10000 >= $SetSimTBp * (size_a + size_b - inter)
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q119's exact/near/new verdict as ONE parameterized ground truth,
    * shared by the per-session path (q119), the at-rest index (q208 —
    * identical corpus, so identical SQL) and the maintained index
    * (q209 — `corpusExtra` injects the CDC-deleted docs' exclusion,
    * applied to BOTH the band-candidate corpus side and the exact-md5
    * corpus side). */
  private def incrementalVerdictSql(
      corpusExtra: String => String = _ => ""): String = {
    val code = md5Code60Sql("sh")
    val affine = affineHashSql("i", "x")
    s"""WITH $setsCte,
       |c AS (SELECT doc_id, list_transform(shingles, sh -> $code) AS codes FROM s),
       |sg AS (SELECT doc_id, list_transform(generate_series(1, $NumHashes),
       |        i -> list_min(list_transform(codes, x -> $affine))) AS sig FROM c),
       |bands AS (SELECT doc_id, j,
       |  array_to_string(sig[j*$RowsPerBand+1 : j*$RowsPerBand+$RowsPerBand], '_') AS bkey
       |  FROM sg, generate_series(0, ${Bands - 1}) t(j)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.j = b.j AND a.bkey = b.bkey
       |  WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7${corpusExtra("b.doc_id")}),
       |nearm AS (SELECT doc_a AS doc_id, min(doc_b) AS near_match
       |  FROM ($jacSelect) x WHERE x.inter * 2 >= x.uni GROUP BY doc_a),
       |exactm AS (SELECT b.doc_id, min(cp.doc_id) AS exact_match
       |  FROM documents b JOIN documents cp ON md5(b.text) = md5(cp.text)
       |  WHERE b.doc_id % 10 = 7 AND cp.doc_id % 10 <> 7${corpusExtra("cp.doc_id")} GROUP BY b.doc_id)
       |SELECT d.doc_id,
       |  CASE WHEN e.exact_match IS NOT NULL THEN 'exact'
       |       WHEN n.near_match IS NOT NULL THEN 'near'
       |       ELSE 'new' END AS verdict,
       |  coalesce(e.exact_match, n.near_match, CAST(-1 AS BIGINT)) AS match_id
       |FROM documents d
       |LEFT JOIN exactm e ON e.doc_id = d.doc_id
       |LEFT JOIN nearm n ON n.doc_id = d.doc_id
       |WHERE d.doc_id % 10 = 7
       |ORDER BY d.doc_id""".stripMargin
  }

  /** From-scratch clustering + canonical-map ground truth, shared by
    * q150 (the inline clustering) and q210 (the two-arrival incremental
    * fold — its hash match against this proves fold == from-scratch). */
  private def clusterCanonicalSql: String = clusterCanonicalSqlFrom("documents")

  /** q150's from-scratch clustering SQL over an arbitrary doc source —
    * `pre` prepends extra CTEs (q213 scopes it to the survivors of the
    * maintained fixture's CDC delete). */
  private def clusterCanonicalSqlFrom(src: String, pre: String = ""): String = {
    val code = md5Code60Sql("sh")
    val affine = affineHashSql("i", "x")
    s"""WITH RECURSIVE $pre${setsCteFrom(src)},
       |c AS (SELECT doc_id, list_transform(shingles, sh -> $code) AS codes FROM s),
       |sg AS (SELECT doc_id, list_transform(generate_series(1, $NumHashes),
       |        i -> list_min(list_transform(codes, x -> $affine))) AS sig FROM c),
       |bands AS (SELECT doc_id, j,
       |  array_to_string(sig[j*$RowsPerBand+1 : j*$RowsPerBand+$RowsPerBand], '_') AS bkey
       |  FROM sg, generate_series(0, ${Bands - 1}) t(j)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |  ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |vp AS (SELECT doc_a, doc_b FROM ($jacSelect) x WHERE x.inter * 2 >= x.uni),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM vp
       |  UNION ALL SELECT doc_b, doc_a FROM vp),
       |reach AS (SELECT doc_id, doc_id AS anc FROM $src
       |  UNION
       |  SELECT e.src, r.anc FROM edges e JOIN reach r ON r.doc_id = e.dst),
       |lbl AS (SELECT doc_id, min(anc) AS rep FROM reach GROUP BY doc_id),
       |can AS (SELECT rep, doc_id AS canon FROM (
       |  SELECT l.rep, d.doc_id,
       |    row_number() OVER (PARTITION BY l.rep ORDER BY d.n_chars DESC, d.doc_id) AS rn
       |  FROM lbl l JOIN $src d USING (doc_id)) WHERE rn = 1)
       |SELECT l.doc_id, l.rep, c.canon,
       |  CAST(CASE WHEN l.doc_id = c.canon THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM lbl l JOIN can c USING (rep) ORDER BY l.doc_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q190_setsim_join" -> naiveSetSimSql(SetSimTBp),
    "q196_setsim_ppjoin" -> naiveSetSimSql(SetSimPpTBp),
    "q198_setsim_incremental" -> naiveIncrementalSql,
    "q199_setsim_index" -> naiveIncrementalSql,
    "q201_setsim_maintained" -> naiveMaintainedSql,

    "q202_line_dedup" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |l AS (SELECT doc_id, j AS pos,
         |    array_to_string(ws[j*$LineWords+1 : j*$LineWords+$LineWords], ' ') AS line
         |  FROM w, unnest(generate_series(0, CAST((len(ws)-1)//$LineWords AS BIGINT))) t(j)),
         |d AS (SELECT line FROM l GROUP BY line
         |  HAVING count(DISTINCT doc_id) >= $LineDupMinDocs)
         |SELECT l.doc_id, count(*) AS n_lines, count(d.line) AS n_dup_lines,
         |  md5(coalesce(string_agg(CASE WHEN d.line IS NULL THEN l.line END,
         |    ' ' ORDER BY l.pos), '')) AS clean_md5
         |FROM l LEFT JOIN d ON l.line = d.line
         |GROUP BY l.doc_id ORDER BY doc_id""".stripMargin,

    "q206_line_dedup_incremental" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |l AS (SELECT doc_id, j AS pos,
         |    array_to_string(ws[j*$LineWords+1 : j*$LineWords+$LineWords], ' ') AS line
         |  FROM w, unnest(generate_series(0, CAST((len(ws)-1)//$LineWords AS BIGINT))) t(j)),
         |cl AS (SELECT DISTINCT line FROM l WHERE doc_id % 10 <> 7),
         |bl AS (SELECT doc_id, pos, l.line, cl.line AS hit
         |  FROM l LEFT JOIN cl ON l.line = cl.line WHERE doc_id % 10 = 7)
         |SELECT doc_id, count(*) AS n_lines, count(hit) AS n_dropped,
         |  md5(coalesce(string_agg(CASE WHEN hit IS NULL THEN line END,
         |    ' ' ORDER BY pos), '')) AS clean_md5
         |FROM bl GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q207_line_dedup_maintained" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |l AS (SELECT doc_id, j AS pos,
         |    array_to_string(ws[j*$LineWords+1 : j*$LineWords+$LineWords], ' ') AS line
         |  FROM w, unnest(generate_series(0, CAST((len(ws)-1)//$LineWords AS BIGINT))) t(j)),
         |cl AS (SELECT DISTINCT line FROM l
         |  WHERE doc_id % 10 <> 7 AND doc_id NOT IN (45, 267, 413)),
         |bl AS (SELECT doc_id, pos, l.line, cl.line AS hit
         |  FROM l LEFT JOIN cl ON l.line = cl.line WHERE doc_id % 10 = 7)
         |SELECT doc_id, count(*) AS n_lines, count(hit) AS n_dropped,
         |  md5(coalesce(string_agg(CASE WHEN hit IS NULL THEN line END,
         |    ' ' ORDER BY pos), '')) AS clean_md5
         |FROM bl GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q203_prefix_dedup" ->
      s"""WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
         |a AS (SELECT doc_id AS dup_id, text AS dup_text,
         |    least($PrefixKeyWords, len(ws)) AS k,
         |    array_to_string(ws[1 : least($PrefixKeyWords, len(ws))], ' ') AS pk FROM w),
         |b0 AS (SELECT doc_id AS keeper_id, text AS keeper_text, k,
         |    array_to_string(ws[1 : k], ' ') AS pk
         |  FROM w, unnest(generate_series(1, least($PrefixKeyWords, CAST(len(ws) AS BIGINT)))) t(k)),
         |b AS (SELECT * FROM (SELECT b0.*,
         |    count(*) OVER (PARTITION BY k, pk) AS kdf FROM b0)
         |  WHERE kdf <= $PrefixDfCap)
         |SELECT dup_id, keeper_id,
         |  CAST(length(dup_text) AS BIGINT) AS dup_chars,
         |  CAST(length(keeper_text) AS BIGINT) AS keeper_chars
         |FROM (
         |  SELECT dup_id, keeper_id, dup_text, keeper_text,
         |    row_number() OVER (PARTITION BY dup_id
         |      ORDER BY length(keeper_text) DESC, keeper_id) AS rn
         |  FROM a JOIN b USING (k, pk)
         |  WHERE length(keeper_text) > length(dup_text)
         |    AND starts_with(keeper_text, dup_text || ' '))
         |WHERE rn = 1 ORDER BY dup_id""".stripMargin,

    "q40_exact_dedup" ->
      """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies, md5(text) AS text_md5
        |FROM documents GROUP BY text ORDER BY keeper_id""".stripMargin,

    "q41_minhash_lsh" -> {
      val code = md5Code60Sql("sh")
      val affine = affineHashSql("i", "x")
      s"""WITH $setsCte,
         |c AS (SELECT doc_id, list_transform(shingles, sh -> $code) AS codes FROM s),
         |sg AS (SELECT doc_id, list_transform(generate_series(1, $NumHashes),
         |        i -> list_min(list_transform(codes, x -> $affine))) AS sig FROM c),
         |bands AS (SELECT doc_id, j,
         |  array_to_string(sig[j*$RowsPerBand+1 : j*$RowsPerBand+$RowsPerBand], '_') AS bkey
         |  FROM sg, generate_series(0, ${Bands - 1}) t(j)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |  ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |$jacSelect
         |WHERE inter * 2 >= uni ORDER BY doc_a, doc_b""".stripMargin
    },

    "q77_dedup_clusters" -> {
      val code = md5Code60Sql("sh")
      val affine = affineHashSql("i", "x")
      s"""WITH RECURSIVE $setsCte,
         |c AS (SELECT doc_id, list_transform(shingles, sh -> $code) AS codes FROM s),
         |sg AS (SELECT doc_id, list_transform(generate_series(1, $NumHashes),
         |        i -> list_min(list_transform(codes, x -> $affine))) AS sig FROM c),
         |bands AS (SELECT doc_id, j,
         |  array_to_string(sig[j*$RowsPerBand+1 : j*$RowsPerBand+$RowsPerBand], '_') AS bkey
         |  FROM sg, generate_series(0, ${Bands - 1}) t(j)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |  ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |vp AS (SELECT doc_a, doc_b FROM ($jacSelect) x WHERE x.inter * 2 >= x.uni),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM vp
         |  UNION ALL SELECT doc_b, doc_a FROM vp),
         |reach AS (SELECT doc_id, doc_id AS anc FROM documents
         |  UNION
         |  SELECT e.src, r.anc FROM edges e JOIN reach r ON r.doc_id = e.dst),
         |lbl AS (SELECT doc_id, min(anc) AS rep FROM reach GROUP BY doc_id)
         |SELECT doc_id, rep, count(*) OVER (PARTITION BY rep) AS cluster_size
         |FROM lbl ORDER BY doc_id""".stripMargin
    },

    // q77's clustering + the split hash: same recursive reachability,
    // final projection assigns hash(rep) % 10
    "q161_leak_safe_split" -> {
      val code = md5Code60Sql("sh")
      val affine = affineHashSql("i", "x")
      val splitHash = md5Code60Sql("'split:' || CAST(rep AS VARCHAR)")
      s"""WITH RECURSIVE $setsCte,
         |c AS (SELECT doc_id, list_transform(shingles, sh -> $code) AS codes FROM s),
         |sg AS (SELECT doc_id, list_transform(generate_series(1, $NumHashes),
         |        i -> list_min(list_transform(codes, x -> $affine))) AS sig FROM c),
         |bands AS (SELECT doc_id, j,
         |  array_to_string(sig[j*$RowsPerBand+1 : j*$RowsPerBand+$RowsPerBand], '_') AS bkey
         |  FROM sg, generate_series(0, ${Bands - 1}) t(j)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |  ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |vp AS (SELECT doc_a, doc_b FROM ($jacSelect) x WHERE x.inter * 2 >= x.uni),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM vp
         |  UNION ALL SELECT doc_b, doc_a FROM vp),
         |reach AS (SELECT doc_id, doc_id AS anc FROM documents
         |  UNION
         |  SELECT e.src, r.anc FROM edges e JOIN reach r ON r.doc_id = e.dst),
         |lbl AS (SELECT doc_id, min(anc) AS rep FROM reach GROUP BY doc_id)
         |SELECT doc_id, rep, CAST(($splitHash) % 10 AS BIGINT) AS split
         |FROM lbl ORDER BY doc_id""".stripMargin
    },

    // q77's clustering + best-of-cluster retention: the keeper is the
    // longest member (ties by doc_id)
    "q150_cluster_canonical" -> clusterCanonicalSql,
    // q210 folds the corpus in two arrivals; its ground truth is the
    // IDENTICAL from-scratch clustering
    "q210_clusters_incremental" -> clusterCanonicalSql,
    "q213_clusters_maintained" -> clusterCanonicalSqlFrom("dsurv",
      "dsurv AS (SELECT * FROM documents WHERE doc_id <> 45), "),

    "q42_simhash" -> {
      val code = md5Code60Sql("t")
      s"""SELECT doc_id,
         |  list_reduce(list_reverse(list_transform(generate_series(0,15), j ->
         |    CAST(CASE WHEN list_reduce(list_transform(codes, c ->
         |        (c // ([1,2,4,8,16,32,64,128,256,512,1024,2048,4096,8192,16384,32768])[j+1]) % 2 * 2 - 1),
         |      (acc, v) -> acc + v) >= 0 THEN 1 ELSE 0 END AS BIGINT))),
         |    (acc, b) -> acc*2 + b) AS simhash,
         |  CAST(len(toks) AS INTEGER) AS n_toks
         |FROM (SELECT doc_id, list_distinct(string_split(text,' ')) AS toks,
         |        list_transform(list_distinct(string_split(text,' ')), t -> ($code) % 65536) AS codes
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin
    },

    "q90_containment" -> {
      val code = md5Code60Sql("sh")
      val affine = affineHashSql("i", "x")
      s"""WITH $setsCte,
         |c AS (SELECT doc_id, list_transform(shingles, sh -> $code) AS codes FROM s),
         |sg AS (SELECT doc_id, list_transform(generate_series(1, $NumHashes),
         |        i -> list_min(list_transform(codes, x -> $affine))) AS sig FROM c),
         |bands AS (SELECT doc_id, j,
         |  array_to_string(sig[j*$RowsPerBand+1 : j*$RowsPerBand+$RowsPerBand], '_') AS bkey
         |  FROM sg, generate_series(0, ${Bands - 1}) t(j)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |  ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |vp AS (SELECT doc_a, doc_b FROM ($jacSelect) x WHERE x.inter * 2 >= x.uni),
         |bothd AS (SELECT doc_a, doc_b FROM vp UNION ALL SELECT doc_b, doc_a FROM vp)
         |SELECT doc_a, doc_b, inter, size_a,
         |  CAST(inter * 10000 // size_a AS BIGINT) AS cont_bp
         |FROM (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS INTEGER) AS inter,
         |    CAST(len(sa.shingles) AS INTEGER) AS size_a
         |  FROM bothd JOIN s sa ON sa.doc_id = doc_a JOIN s sb ON sb.doc_id = doc_b)
         |WHERE inter * 10 >= size_a * 9
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "q43_jaccard_pairs" ->
      s"""WITH $setsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id
         |  WHERE a.doc_id < 30 AND b.doc_id < 30)
         |$jacSelect
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q119_incremental_dedup" -> incrementalVerdictSql(),

    // q208 serves q119's semantics from the at-rest index, so it shares
    // q119's ground truth verbatim; q209's index survived a CDC delete
    // of corpus docs 45 and 134, so its ground truth is the same SQL
    // over the surviving corpus.
    "q208_minhash_index" -> incrementalVerdictSql(),
    "q209_minhash_maintained" ->
      incrementalVerdictSql(a => s" AND $a NOT IN (45, 134)"),

    "q120_minhash_calibration" -> {
      val code = md5Code60Sql("sh")
      val affine = affineHashSql("i", "x")
      s"""WITH $setsCte,
         |c AS (SELECT doc_id, list_transform(shingles, sh -> $code) AS codes FROM s),
         |sg AS (SELECT doc_id, list_transform(generate_series(1, $NumHashes),
         |        i -> list_min(list_transform(codes, x -> $affine))) AS sig FROM c),
         |bands AS (SELECT doc_id, j,
         |  array_to_string(sig[j*$RowsPerBand+1 : j*$RowsPerBand+$RowsPerBand], '_') AS bkey
         |  FROM sg, generate_series(0, ${Bands - 1}) t(j)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |  ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |vj AS (SELECT doc_a, doc_b, jac_bp FROM ($jacSelect) x
         |  WHERE x.inter * 2 >= x.uni),
         |est AS (SELECT v.doc_a, v.doc_b, v.jac_bp,
         |  CAST(len(list_filter(generate_series(1, $NumHashes),
         |    i -> sa.sig[i] = sb.sig[i])) * 10000 // $NumHashes AS BIGINT) AS est_bp
         |  FROM vj v JOIN sg sa ON sa.doc_id = v.doc_a
         |  JOIN sg sb ON sb.doc_id = v.doc_b)
         |SELECT doc_a, doc_b, jac_bp, est_bp,
         |  abs(est_bp - jac_bp) AS err_bp
         |FROM est ORDER BY doc_a, doc_b""".stripMargin
    },

    // window join stated directly on the window text (DuckDB has no need
    // for the hash-first shuffle optimization); df cap identical
    "q131_substring_dedup" ->
      s"""WITH $substrHitsCtes
         |SELECT doc_a, doc_b, count(*) AS n_hits,
         |  count(DISTINCT w) AS n_windows,
         |  min(pos_a) AS first_a, min(pos_b) AS first_b
         |FROM hits GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin,

    // oriented-edge triangle enumeration over the substring-dup graph:
    // doc triples pairwise sharing verbatim runs (copy CLUSTERS, not
    // just pairs). Edges are canonical (a < b), so each triangle is
    // produced exactly once by the a<b<c wedge join.
    "q138_dup_triangles" ->
      s"""WITH $substrHitsCtes,
         |p AS (SELECT DISTINCT doc_a, doc_b FROM hits)
         |SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
         |FROM p e1
         |JOIN p e2 ON e2.doc_a = e1.doc_b
         |JOIN p e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
         |ORDER BY a, b, c""".stripMargin,

    // train-vs-eval window join stated directly on window text
    "q136_substring_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents
         |  WHERE len(string_split(text,' ')) >= $SubstrWindow),
         |wins AS (SELECT doc_id, CAST(i AS INTEGER) AS pos,
         |    list_aggr(t[i:i+${SubstrWindow - 1}], 'string_agg', ' ') AS w
         |  FROM toks, unnest(range(1, len(t) - ${SubstrWindow - 1} + 1)) AS u(i)),
         |tw AS (SELECT * FROM wins WHERE doc_id % 5 <> 0),
         |ew AS (SELECT doc_id AS eval_doc, w FROM wins WHERE doc_id % 5 = 0)
         |SELECT t.doc_id, count(DISTINCT t.w) AS n_leaked_windows,
         |  min(t.pos) AS first_pos, min(e.eval_doc) AS eval_doc
         |FROM tw t JOIN ew e ON t.w = e.w
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)
}
