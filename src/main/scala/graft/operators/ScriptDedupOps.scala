package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.functions.GraftFunctions.tokens
import graft.functions.HashFunctions._

/** SCRIPT-AWARE deduplication — the dedup family's space-free-script
  * wiring (SURVEY.md §2.2 LLM rows; round-15 verdict item 1).
  *
  * q217 proved the failure mode: word-split tokenization sees a whole
  * CJK/Thai document as ONE token, so on a space-free stratum the
  * word-shingled dedup operators are structurally blind — a CJK doc has
  * no word 3-shingles (no MinHash signature, no near-dup pairs), its
  * set-sim shingle set is empty, and line segmentation produces one
  * giant "line". This module re-states the three dedup granularities
  * (near-dup MinHash/LSH, exact set-similarity, line dedup) with
  * per-document script dispatch: detect the script by codepoint range
  * (TextOps.scriptOf — the q216 rule), shingle space-free docs as
  * CODEPOINT n-grams (CharNgramsExpr, the CCNet/SentencePiece
  * character fallback) and spaced docs as word n-grams, then run the
  * UNCHANGED downstream engine (same hash family, same LSH bands, same
  * prefix filter, same verification algebra). Cross-script shingle
  * sets are disjoint by construction (CJK codepoints never occur in
  * Latin text), so a cross-script band collision dies in verification
  * with intersection 0 — no special casing.
  *
  * The mixed-script corpus is DERIVED deterministically in-query (the
  * q216 derivation, shared bit-for-bit with the DuckDB oracle): every
  * doc_id % 3 == 0 doc transliterates its 36-char alphabet into 36
  * contiguous CJK codepoints and drops spaces. The near-dup structure
  * of the fixture survives the transliteration — a pair of near-dup
  * docs that both land in the CJK stratum becomes a planted CJK
  * near-dup pair, which the old space-tokenized path PROVABLY misses
  * (no signature at all — ScriptDedupSpec pins it) and this path finds.
  *
  * q221 composes the whole family END TO END: the q117 flagship
  * pipeline re-run over the mixed-script corpus with every stage
  * script-dispatched (line clean, quality gates, LSH near-dup,
  * decontamination, sequence packing) — the form a real multilingual
  * pretraining run executes.
  *
  * Scale shape: identical to the monoscript operators — signature
  * building stays a map-only projection (the fused ScriptMinHashExpr),
  * candidate generation stays band-/prefix-bounded, verification stays
  * candidate-only. Script dispatch adds one decode pass per document,
  * no exchange.
  */
object ScriptDedupOps {
  type Q = (SparkSession, String) => DataFrame

  /** Codepoint shingle width for space-free near-dup MinHash — sized
    * for TEXT-SPAN parity with the word path: DedupOps.ShingleN = 3
    * words ≈ 13-14 codepoints of space-dropped fixture text, so a
    * 12-codepoint gram covers the same span of content and one word
    * edit destroys a comparable FRACTION of either script's shingle
    * set (the property that makes one Jaccard threshold meaningful
    * across scripts). Diversity check on the fixture (measured): 12-
    * grams have median df 1, max df 115 at sf0.1 — a healthy Zipf tail
    * for the band join. */
  val CjkShingleN = 12

  /** Codepoint shingle width for space-free exact set-similarity — 18,
    * WIDER than near-dup's 12 for the same reason SetSimShingleN (5) is
    * wider than ShingleN (3): the prefix filter needs RARE join keys,
    * and codepoint-gram rarity falls out of how many word boundaries
    * fit under the width (measured on the fixture: 18-grams max df 10
    * at sf0.1 vs 1,313 for 6-grams). The declared trade: per-edit
    * Jaccard decay is steeper than the word path's, so at t = 0.8 the
    * operator catches clones and ≤2-word-edit revisions — the
    * operating point where exact set-sim earns its cost anyway. */
  val CjkSetSimN = 18

  /** Codepoint "line" width for space-free line dedup — the script-
    * aware restatement of DedupOps.LineWords (10 words): the average
    * CJK word is ~2 characters (public segmentation statistics), so a
    * 10-word line ≈ 20 codepoints. */
  val CjkLineCp = 20

  /** Codepoint window width for space-free VERBATIM-LEAK detection —
    * the script twin of DedupOps.SubstrWindow (20 words): 20 two-char
    * CJK words ≈ 40 codepoints, so both scripts quarantine a train doc
    * for sharing the same SPAN of content with an eval doc. */
  val CjkLeakCp = 40

  /** Script-aware DISTINCT shingle set for near-dup verification:
    * codepoint [[CjkShingleN]]-grams for space-free docs, word
    * [[DedupOps.ShingleN]]-shingles otherwise — the relational twin of
    * the fused signature kernel's branch. */
  private def scriptShingles(text: Column): Column =
    when(TextOps.scriptOf(text) === "cjk",
      graft.plans.CharNgramsExpr.charNgramsDistinct(text, CjkShingleN))
      .otherwise(graft.plans.ShinglesExpr.shinglesNative(text, DedupOps.ShingleN))

  /** Script-aware verified near-dup pairs over an arbitrary
    * (doc_id, text) frame — the q218 engine, factored so the composed
    * pipeline (q221) de-dups its gated survivors with the identical
    * algebra. Signatures come off the text scan in ONE fused pass
    * (ScriptMinHashExpr: detect script → codepoint- or word-shingle →
    * MinHash, no exchange); bands/candidates/verification are q41's
    * engine unchanged. Returns (doc_a, doc_b, script, inter, uni,
    * jac_bp), unordered. */
  private[graft] def scriptNearDupPairs(docs: DataFrame): DataFrame = {
    val sigs = docs.select(col("doc_id"),
      graft.plans.ScriptMinHashExpr.sigScriptAware(col("text"),
        TextOps.CjkAlphabet, DedupOps.ShingleN, CjkShingleN,
        DedupOps.NumHashes).as("sig"))
      .filter(col("sig").isNotNull)
    val b = graft.engine.Staging.trackCp(DedupOps.bands(sigs))
    val cand = graft.engine.Staging.trackCp(
      b.as("a").join(b.as("b"),
          col("a.j") === col("b.j") && col("a.bkey") === col("b.bkey") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct())
    val candDocs = graft.engine.Staging.trackCp(
      cand.select(col("doc_a").as("doc_id"))
        .union(cand.select(col("doc_b").as("doc_id"))).distinct())
    // shingle arrays only for candidate-pair members (the near-dup
    // fraction of the corpus) — the nearDupPairsOf contract
    val sets = graft.engine.Staging.trackCp(
      DedupOps.joinIds(docs, candDocs, "doc_id")
        .select(col("doc_id"), TextOps.scriptOf(col("text")).as("script"),
          scriptShingles(col("text")).as("shingles")))
    val sa = sets.select(col("doc_id").as("doc_a"), col("script"),
      col("shingles").as("sh_a"))
    val sb = sets.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("inter", inter)
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - inter)
      .filter(col("inter") * 2 >= col("uni"))
      .withColumn("jac_bp", expr("inter * 10000L div uni"))
      .select("doc_a", "doc_b", "script", "inter", "uni", "jac_bp")
  }

  /** Script-aware set-sim tokens: exact-dup canonicalization first (the
    * clone-quadratic guard, same as DedupOps.setSimTokens), then
    * per-script shingles at the set-sim widths. */
  private def scriptSetSimTokens(docs: DataFrame): (DataFrame, DataFrame) = {
    val tk = scriptSetSimTk(scriptCanon(docs))
    (tk, tk.groupBy("token").agg(count(lit(1)).as("df")))
  }

  /** The canonicalization half of [[scriptSetSimTokens]] — factored so
    * q220 can checkpoint the (text-sized) canon frame and re-derive the
    * (token-sized, ~10× bigger) shingle explode per consumer. */
  private def scriptCanon(docs: DataFrame): DataFrame =
    docs.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))

  /** The shingle-explode half of [[scriptSetSimTokens]] — a map-only
    * projection (native kernels, no exchange) over a canon frame. */
  private def scriptSetSimTk(canon: DataFrame): DataFrame =
    canon.select(col("doc_id"),
      explode(when(TextOps.scriptOf(col("text")) === "cjk",
          graft.plans.CharNgramsExpr.charNgramsDistinct(col("text"), CjkSetSimN))
        .otherwise(graft.plans.ShinglesExpr.shinglesNative(col("text"),
          DedupOps.SetSimShingleN))).as("token"))

  /** Space-free line segmentation: fixed [[CjkLineCp]]-codepoint chunks
    * from position 0, last chunk keeps its partial tail — the codepoint
    * twin of DedupOps.lineChunks. Only evaluated on detected-cjk docs,
    * whose codepoint count is ≥ 1 by the detection rule. */
  private def cjkLineChunks(text: Column): Column =
    graft.plans.CodepointChunksExpr.codepointChunks(text, CjkLineCp)

  /** Script-aware LINE-CLEANED text (the q221 S1 stage): per-script
    * segmentation (10-word chunks for spaced docs, [[CjkLineCp]]-
    * codepoint chunks for space-free docs — q219's rule), corpus-
    * frequent lines removed, survivors rejoined IN ORDER with the
    * script's own separator (" " spaced, "" space-free — the cleaned
    * CJK text must stay space-free for every later stage's tokenizer).
    * Line keys never collide across scripts (disjoint character sets),
    * so one corpus-wide line statistic serves both. Expects
    * (doc_id, lang, script, text); docs whose every line is boilerplate
    * come out as the empty string (the gates drop them). */
  private[graft] def scriptCleanedDocs(mixed: DataFrame): DataFrame = {
    // the DedupOps.cleanedDocs shuffle diet (O9), script-dispatched:
    // per-script chunking and separator, one shared text-keyed exchange
    // for the cross-doc line statistic (keys never collide cross-script)
    // text.isNotNull, not chunks.isNotNull: scriptChunks null-propagates
    // (both branches do), so the raw-column gate pushes down and the
    // chunk kernel runs once per row (DedupOps.lineDedup's null gate)
    val chunked = mixed.filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"), col("script"),
        scriptChunks.as("chunks"))
    val dupPos = graft.engine.Staging.trackCp(
      DedupOps.dupLinePositions(chunked))
    DedupOps.joinDocsLeft(chunked, dupPos, "doc_id")
      .select(col("doc_id"), col("lang"), col("script"),
        when(col("script") === "cjk", DedupOps.keptText(""))
          .otherwise(DedupOps.keptText(" ")).as("text"))
  }

  /** Per-script line chunks: [[CjkLineCp]]-codepoint chunks for
    * space-free docs, LineWords-word chunks otherwise (expects a
    * `script` column alongside `text`). */
  private def scriptChunks: Column =
    when(col("script") === "cjk", cjkLineChunks(col("text")))
      .otherwise(DedupOps.lineChunksOf(col("text")))

  /** The space-free stratum's quality gate (the q221 S2 script twin of
    * the Gopher pack): codepoint-BIGRAM token floor (≥50 tokens — the
    * word-count rule restated in the script's own unit), the q217
    * duplicate-token ceiling (dup ratio ≤ 6000 bp), and the localized
    * stopword rule (≥2 of the stratum's top-8 bigrams — CCNet's
    * per-language connective evidence). The word-FORM rules (mean word
    * length, alpha ratio, symbol/bullet lines) are Latin-orthography
    * priors with no codepoint analogue and are stated latin-only, the
    * same way the English stopword list is a language prior. */
  private[graft] def cjkGateIds(cjkDocs: DataFrame, stops: Seq[String]): DataFrame =
    cjkDocs.select(col("doc_id"),
        graft.plans.CharNgramsExpr.charNgrams(col("text"), 2).as("bg"))
      .select(col("doc_id"), size(col("bg")).cast("long").as("n_tok"),
        size(array_distinct(col("bg"))).cast("long").as("n_uniq"),
        size(array_intersect(array_distinct(col("bg")),
          array(stops.map(lit): _*))).cast("long").as("stop_hits"))
      .filter(col("n_tok") >= 50 && col("n_tok") <= 100000 &&
        expr("(n_tok - n_uniq) * 10000 div n_tok") <= 6000 &&
        col("stop_hits") >= 2)
      .select("doc_id")

  /** Space-free verbatim-leak ids (the q221 S4 script twin of q136):
    * train docs sharing a [[CjkLeakCp]]-codepoint window with some eval
    * doc. Same shape as DedupOps.verbatimLeakIds — candidates from a
    * broadcast of the eval side's window HASHES (8 bytes each, never
    * the window strings), verification re-joins the gram TEXT for
    * candidate rows only, so pair membership never depends on xxhash64
    * being collision-free. */
  private[graft] def cjkVerbatimLeakIds(train: DataFrame, evalC: DataFrame): DataFrame = {
    val evG = evalC.select(explode(
      graft.plans.CharNgramsExpr.charNgramsDistinct(col("text"), CjkLeakCp))
      .as("w")).distinct()
    val evH = evG.select(xxhash64(col("w")).as("h")).distinct()
    // candidate generation hashes each 40-codepoint window IN PLACE
    // (CharNgramHashesExpr) — the unfused explode materialized every
    // window as a ~120-byte string only to hash-and-discard it, ~120x
    // the stratum's text bytes per pass (OPTIMIZATION_r16.md O7)
    val candIds = graft.engine.Staging.trackCp(
      train.select(col("doc_id"), explode(
          graft.plans.CharNgramHashesExpr.charNgramHashes(col("text"), CjkLeakCp))
          .as("h"))
        .join(broadcast(evH), "h")
        .select("doc_id").distinct())
    // verification re-derives gram TEXT for candidate docs only, so
    // pair membership never depends on xxhash64 being collision-free
    DedupOps.joinIds(train, candIds, "doc_id")
      .select(col("doc_id"), explode(
        graft.plans.CharNgramsExpr.charNgramsDistinct(col("text"), CjkLeakCp))
        .as("w"))
      .join(evG, Seq("w")).select("doc_id").distinct()
  }

  /** Script-aware sequence packing (the q221 S5 stage): spaced docs
    * tokenize under the raw-corpus BPE merge table and pack per LANG
    * stratum (q170's algebra verbatim); space-free docs tokenize at the
    * character level (SentencePiece's coverage fallback — one token per
    * codepoint, the honest unit when the merge table was trained on
    * another script) and pack as their own 'cjk' stratum. Offsets are
    * per-stratum windows — never a global sort. */
  private[graft] def scriptPackedSpans(surv: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val latinCounts = surv.filter(col("script") === "latin")
      .select(col("doc_id"), col("lang").as("stratum"),
        explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("doc_id", "stratum")
      .agg(sum(size(graft.plans.BpeApplyExpr.bpeApply(col("word"), merges))
        .cast("long")).as("ntok"))
    val cjkCounts = surv.filter(col("script") === "cjk")
      .select(col("doc_id"), lit("cjk").as("stratum"),
        length(col("text")).cast("long").as("ntok"))
    val psl = PipelineOps.PackSeqLen
    val w = Window.partitionBy("stratum").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    latinCounts.union(cjkCounts)
      .withColumn("off_start", coalesce(sum(col("ntok")).over(w), lit(0L)))
      .withColumn("off_end", col("off_start") + col("ntok"))
      .withColumn("seq_id", explode(sequence(
        expr(s"off_start div $psl"),
        expr(s"(off_end - 1) div $psl"))))
      .withColumn("tok",
        least(col("off_end"), (col("seq_id") + 1) * psl)
          - greatest(col("off_start"), col("seq_id") * psl))
      .select("stratum", "doc_id", "seq_id", "tok")
  }

  val queries: Map[String, Q] = Map(
    // Script-aware MinHash/LSH near-dup over the mixed-script corpus.
    // The CJK stratum's planted near-dup pairs are FOUND here — the
    // word-tokenized q41 path gives those docs no signature at all
    // (ScriptDedupSpec pins both directions).
    "q218_script_neardup" -> ((s, dir) => {
      val mixed = TextOps.scriptMixed(Tables.documents(s, dir))
        .select("doc_id", "text")
      scriptNearDupPairs(mixed).orderBy("doc_a", "doc_b")
    }),

    // Script-aware LINE dedup over the mixed corpus — q202's engine
    // with per-script segmentation: 10-word chunks for spaced docs,
    // 20-codepoint chunks for space-free docs (on the OLD path a CJK
    // doc is one giant "line", so cross-doc boilerplate inside the CJK
    // stratum is invisible unless whole docs match). Line keys never
    // collide across scripts (disjoint character sets).
    "q219_script_line_dedup" -> ((s, dir) => {
      // the null gate sits on the RAW text column, before scriptMixed
      // derives its CASE-WHEN text: scriptMixed/scriptChunks both
      // null-propagate, so the row sets are identical and the IsNotNull
      // pushes into the parquet scan (on the derived column it cannot)
      val mixed = TextOps.scriptMixed(
          Tables.documents(s, dir).filter(col("text").isNotNull))
        .withColumn("script", TextOps.scriptOf(col("text")))
      // the q202 shuffle diet (DedupOps.dupLinePositions), per-script
      // chunking; md5 joins with " " for BOTH scripts (a fingerprint,
      // not the cleaned text — scriptCleanedDocs owns the separator)
      val chunked = mixed.select(col("doc_id"), scriptChunks.as("chunks"))
      val dupPos = graft.engine.Staging.trackCp(
        DedupOps.dupLinePositions(chunked))
      DedupOps.joinDocsLeft(chunked, dupPos, "doc_id")
        .select(col("doc_id"),
          size(col("chunks")).cast("long").as("n_lines"),
          coalesce(size(col("dups")), lit(0)).cast("long").as("n_dup_lines"),
          md5(DedupOps.keptText(" ")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // Script-aware EXACT set-similarity, incremental form (q198's
    // batch-vs-corpus engine over script-aware tokens): the arriving
    // batch joins against the standing corpus statistic at t = 0.8
    // with the prefix filter ranking both sides by the CORPUS df —
    // unchanged machinery, script-dispatched shingles. On the old
    // path every CJK doc's shingle set was EMPTY (no 5-word shingles),
    // so batch CJK clones of corpus docs surfaced nowhere.
    // Checkpoint granularity is the CANON frame (text-sized), never the
    // token tables: the CJK 18-gram token/df frames are corpus×grams
    // (≈10× the text bytes, 54 B per gram), and holding three of them
    // deserialized in the block manager starved the 8 GB session at sf3
    // until a broadcast build failed (bench failed:1 — the same failure
    // shape the ssim index create shed after its sf10 OOM). The canon
    // checkpoint buys the expensive groupBy(text) exchange once; the
    // shingle explode re-derives per consumer as a MAP-ONLY projection
    // (native kernels, no exchange), and the single shared `dfreq`
    // DataFrame keeps its two consumers exchange-reuse-identical.
    // Measured at sf3: token-table checkpoints OOM'd the bench; no
    // checkpoints at all 77.9 s (canon exchange re-ran per consumer);
    // DISK_ONLY token checkpoints 110.9 s (corpus-sized serialize +
    // re-read per consumer); this shape — see OPTIMIZATION_r16.md.
    "q220_script_setsim" -> ((s, dir) => {
      val mixed = TextOps.scriptMixed(Tables.documents(s, dir))
      // §2.6: the two canon checkpoints are independent (disjoint
      // strata of the same scan) — build them concurrently so the
      // small batch-side exchange back-fills the corpus-side job's tail
      val cCanonF = graft.engine.Staging.fork(s)(graft.engine.Staging.trackCp(
        scriptCanon(mixed.filter(col("doc_id") % 10 =!= 7))))
      val bCanonF = graft.engine.Staging.fork(s)(graft.engine.Staging.trackCp(
        scriptCanon(mixed.filter(col("doc_id") % 10 === 7))))
      val cCanon = cCanonF()
      val bCanon = bCanonF()
      val ctk = scriptSetSimTk(cCanon)
      val dfreq = ctk.groupBy("token").agg(count(lit(1)).as("df"))
      val btk = scriptSetSimTk(bCanon)
      DedupOps.setSimIncrementalTk(ctk, dfreq, btk)
        .orderBy("doc_a", "doc_b")
    }),

    // THE SCRIPT-AWARE FLAGSHIP: q117's five-stage corpus pipeline over
    // the MIXED-SCRIPT corpus, every stage script-dispatched — what a
    // real multilingual pretraining run executes. Stage algebra:
    //   S1 line clean: q219's per-script segmentation, corpus-frequent
    //      lines out, survivors rejoined with the script's separator;
    //   S2 quality gates with per-script stop lists derived from the
    //      corpus itself (CCNet localization): spaced docs run the FULL
    //      q186 Gopher pack + q200 repetition rules; space-free docs
    //      run the script twin (bigram floor, q217 dup ceiling, top-8
    //      bigram stopword evidence) — see cjkGateIds for why the
    //      word-FORM rules are stated latin-only;
    //   S3 script-aware LSH near-dup removal (q218's engine) — the CJK
    //      stratum's planted near-dups now actually LEAVE the corpus;
    //   S4 decontamination: eval stratum (doc_id%5=0) out, verbatim
    //      leaks out per script (20-word / 40-codepoint shared
    //      windows), semantic leaks out (q204, script-independent
    //      embeddings);
    //   S5 script-aware packing: BPE tokens per lang stratum for spaced
    //      docs, character-level tokens in a 'cjk' stratum for
    //      space-free docs.
    // On the OLD q117 path the CJK stratum passes through UNTOUCHED
    // except for whole-doc effects (no lines, no shingles, no windows,
    // one giant "word") — ScriptPipelineSpec measures the difference.
    // The oracle recomputes the identical composition in SQL.
    "q221_script_pipeline" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val mixed = TextOps.scriptMixed(docs)
        .withColumn("script", TextOps.scriptOf(col("text")))
      // Guide §2.6 (overlap independent jobs): the two stop-list
      // collects (raw mixed corpus), the semantic-contamination scan
      // (embeddings only) and the BPE merge training share no input
      // with the S1→S3 text chain — launched here, their jobs back-fill
      // the chain's stragglers instead of serializing after it.
      val lstopsF = graft.engine.Staging.fork(s)(
        mixed.filter(col("script") === "latin")
          .select(explode(tokens(col("text"))).as("t"))
          .filter(length(col("t")) >= 1)
          .groupBy("t").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("t")).limit(8)
          .collect().map(_.getString(0)).toSeq)
      val cstopsF = graft.engine.Staging.fork(s)(
        mixed.filter(col("script") === "cjk")
          .select(explode(graft.plans.CharNgramsExpr.charNgrams(col("text"), 2))
            .as("t"))
          .groupBy("t").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("t")).limit(8)
          .collect().map(_.getString(0)).toSeq)
      val sLeaksF = graft.engine.Staging.fork(s)(graft.engine.Staging.trackCp(
        SimilarityOps.semanticContam(s, Tables.embeddings(s, dir),
            col("vec_id") % 10 === 0, SimilarityOps.SemContamBp)
          .select(col("train_id").as("doc_id"))))
      val mergesF = graft.engine.Staging.fork(s)(
        BpeOps.trainedMerges(s, dir).map(m => (m._2, m._3)))
      // S1: script-aware line clean, staged once for its many readers
      val cleaned = graft.engine.Staging.trackCp(scriptCleanedDocs(mixed))
      // S2: per-script stop lists from the raw mixed corpus (tiny,
      // deterministic, bounded driver collects — the trainedMerges
      // pattern), then per-script gates. Every gate is a per-document
      // verdict, so the stage is ONE map-side filter over the cleaned
      // checkpoint (guide §2.4): the old shape re-scanned `cleaned`
      // three times (two latin keep-id frames, one cjk id frame) and
      // joined the union back. The boolean kernels push as single nodes
      // (a filter on the stats structs' fields leaves one stats-kernel
      // copy per field reference after pushdown); ExprPropertySpec pins
      // each against its relational keep.
      val lstops = lstopsF()
      val cstops = cstopsF()
      val gated = graft.engine.Staging.trackCp(cleaned.filter(
        when(col("script") === "cjk",
          graft.plans.CjkGateKeepExpr.cjkGateKeep(col("text"), cstops))
          .otherwise(
            graft.plans.GopherKeepExpr.gopherKeep(col("text"), lstops) &&
              graft.plans.RepKeepExpr.repKeep(col("text")))))
      // S3: script-aware near-dup removal among the gated survivors
      val losers = scriptNearDupPairs(gated.select("doc_id", "text"))
        .select(col("doc_b").as("doc_id")).distinct()
      val deduped = gated.join(losers, Seq("doc_id"), "left_anti")
      // S4: decontamination — eval stratum out, per-script verbatim
      // leaks out, semantic leaks out. vLeaks stays LAZY (one consumer:
      // the surv anti-join — the candidate frames inside both leak
      // helpers are still staged).
      val train = deduped.filter(col("doc_id") % 5 =!= 0)
      val evalC = cleaned.filter(col("doc_id") % 5 === 0)
      val vLat = DedupOps.verbatimLeakIds(
        train.filter(col("script") === "latin").select("doc_id", "text"),
        evalC.filter(col("script") === "latin").select("doc_id", "text"))
      val vCjk = cjkVerbatimLeakIds(
        train.filter(col("script") === "cjk").select("doc_id", "text"),
        evalC.filter(col("script") === "cjk").select("doc_id", "text"))
      val vLeaks = vLat.union(vCjk).distinct()
      val sLeaks = sLeaksF()
      val surv = train.join(vLeaks, Seq("doc_id"), "left_anti")
        .join(sLeaks, Seq("doc_id"), "left_anti")
      // S5: script-aware packing under the raw-corpus merge table
      scriptPackedSpans(surv, mergesF())
        .groupBy("stratum", "seq_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("stratum", "seq_id")
    }))

  // ---- DuckDB oracle ------------------------------------------------------

  /** The q216 mixed-corpus + script-detection CTE pair (m, sc) — kept
    * textually in lockstep with TextOps' scriptMixedSql; `lang` rides
    * along for the stratified consumers. */
  private val mixedScCte =
    s"""m AS (SELECT doc_id, lang,
       |    CASE WHEN doc_id % 3 = 0
       |      THEN translate(text, 'abcdefghijklmnopqrstuvwxyz0123456789 ', '${TextOps.CjkAlphabet}')
       |      ELSE text END AS text
       |  FROM documents),
       |sc AS (SELECT doc_id, lang, text,
       |    CASE WHEN (length(text) - length(translate(text, '${TextOps.CjkAlphabet}', ''))) * 2
       |      > length(text) THEN 'cjk' ELSE 'latin' END AS script
       |  FROM m)""".stripMargin.replace("\n", " ")

  /** Word n-gram expression over `string_split(text,' ')` — the
    * setsCteFrom form at width `n`. */
  private def wordGramSql(n: Int): String =
    (0 until n).map {
      case 0 => "(string_split(text,' '))[i]"
      case k => s"(string_split(text,' '))[i+$k]"
    }.mkString(" || ' ' || ")

  /** Script-aware distinct-shingle CTE `s(doc_id, script, shingles)`
    * over `$src` (which carries doc_id, text, script); consumers filter
    * len(shingles) > 0 (the sig-null / empty-set gate both engines
    * share). */
  private def scriptShinglesCteFrom(src: String, charN: Int, wordN: Int): String =
    s"""s AS (SELECT doc_id, script,
       |  CASE WHEN script = 'cjk'
       |    THEN list_distinct(list_transform(generate_series(1, length(text) - ${charN - 1}),
       |      i -> substring(text, CAST(i AS INTEGER), $charN)))
       |    ELSE list_distinct(list_transform(generate_series(1, len(string_split(text,' ')) - ${wordN - 1}),
       |      i -> ${wordGramSql(wordN)})) END AS shingles
       |  FROM $src)""".stripMargin.replace("\n", " ")

  /** The script-aware LSH chain over `$src` (doc_id, text, script):
    * CTEs s → c → sg → bands → cand → svp, ending in the VERIFIED pair
    * set `svp(doc_a, doc_b)` (Jaccard ≥ 1/2 on script shingles) — the
    * SQL twin of [[scriptNearDupPairs]], shared by q218 and q221. */
  private def scriptLshCtesFrom(src: String): String = {
    val code = md5Code60Sql("sh")
    val affine = affineHashSql("i", "x")
    s"""${scriptShinglesCteFrom(src, CjkShingleN, DedupOps.ShingleN)},
       |c AS (SELECT doc_id, list_transform(shingles, sh -> $code) AS codes
       |  FROM s WHERE len(shingles) > 0),
       |sg AS (SELECT doc_id, list_transform(generate_series(1, ${DedupOps.NumHashes}),
       |        i -> list_min(list_transform(codes, x -> $affine))) AS sig FROM c),
       |bands AS (SELECT doc_id, j,
       |  array_to_string(sig[j*${DedupOps.RowsPerBand}+1 : j*${DedupOps.RowsPerBand}+${DedupOps.RowsPerBand}], '_') AS bkey
       |  FROM sg, generate_series(0, ${DedupOps.Bands - 1}) t(j)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |  ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |svp AS (SELECT doc_a, doc_b, sa.script AS script,
       |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS INTEGER) AS inter,
       |    CAST(len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)) AS INTEGER) AS uni
       |  FROM cand JOIN s sa ON sa.doc_id = doc_a JOIN s sb ON sb.doc_id = doc_b
       |  WHERE len(list_intersect(sa.shingles, sb.shingles)) * 2 >=
       |    len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)))""".stripMargin
  }

  /** Per-stratum canon + script-aware shingle CTEs for the set-sim
    * oracle: `${p}tk` (unnested tokens) and `${p}sz` (set sizes) over
    * `sc` rows passing `where`. */
  private def scriptSetSimCtes(p: String, where: String): String =
    s"""${p}canon AS (SELECT min(doc_id) AS doc_id, text, script FROM sc
       |  $where GROUP BY text, script),
       |${p}s AS (SELECT doc_id,
       |  CASE WHEN script = 'cjk'
       |    THEN list_distinct(list_transform(generate_series(1, length(text) - ${CjkSetSimN - 1}),
       |      i -> substring(text, CAST(i AS INTEGER), $CjkSetSimN)))
       |    ELSE list_distinct(list_transform(generate_series(1, len(string_split(text,' ')) - ${DedupOps.SetSimShingleN - 1}),
       |      i -> ${wordGramSql(DedupOps.SetSimShingleN)})) END AS shingles
       |  FROM ${p}canon),
       |${p}tk AS (SELECT doc_id, unnest(shingles) AS token FROM ${p}s),
       |${p}sz AS (SELECT doc_id, count(*) AS m FROM ${p}tk GROUP BY doc_id)""".stripMargin
      .replace("\n", " ")

  val oracle: Map[String, String] = Map(
    "q218_script_neardup" ->
      s"""WITH $mixedScCte,
         |${scriptLshCtesFrom("sc")}
         |SELECT doc_a, doc_b, script, inter, uni,
         |  CAST(inter * 10000 // uni AS BIGINT) AS jac_bp
         |FROM svp ORDER BY doc_a, doc_b""".stripMargin,

    "q219_script_line_dedup" ->
      s"""WITH $mixedScCte,
         |ch AS (SELECT doc_id,
         |  CASE WHEN script = 'cjk'
         |    THEN list_transform(generate_series(0, CAST((length(text) - 1) // $CjkLineCp AS BIGINT)),
         |      j -> substring(text, CAST(j * $CjkLineCp + 1 AS INTEGER), $CjkLineCp))
         |    ELSE list_transform(generate_series(0, CAST((len(string_split(text,' ')) - 1) // ${DedupOps.LineWords} AS BIGINT)),
         |      j -> array_to_string((string_split(text,' '))[j*${DedupOps.LineWords}+1 : j*${DedupOps.LineWords}+${DedupOps.LineWords}], ' ')) END AS chunks
         |  FROM sc),
         |l AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, chunks[CAST(i AS INTEGER)] AS line
         |  FROM ch, unnest(generate_series(1, len(chunks))) t(i)),
         |d AS (SELECT line FROM l GROUP BY line
         |  HAVING count(DISTINCT doc_id) >= ${DedupOps.LineDupMinDocs})
         |SELECT l.doc_id, count(*) AS n_lines, count(d.line) AS n_dup_lines,
         |  md5(coalesce(string_agg(CASE WHEN d.line IS NULL THEN l.line END,
         |    ' ' ORDER BY l.pos), '')) AS clean_md5
         |FROM l LEFT JOIN d ON l.line = d.line
         |GROUP BY l.doc_id ORDER BY doc_id""".stripMargin,

    "q220_script_setsim" ->
      s"""WITH $mixedScCte,
         |${scriptSetSimCtes("c", "WHERE doc_id % 10 <> 7")},
         |${scriptSetSimCtes("b", "WHERE doc_id % 10 = 7")},
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM btk a JOIN ctk b ON a.token = b.token
         |  GROUP BY a.doc_id, b.doc_id),
         |j AS (SELECT doc_a, doc_b, sa.m AS size_a, sb.m AS size_b, inter
         |  FROM pairs JOIN bsz sa ON sa.doc_id = doc_a
         |             JOIN csz sb ON sb.doc_id = doc_b)
         |SELECT doc_a, doc_b, size_a, size_b, inter,
         |  CAST(inter * 10000 // (size_a + size_b - inter) AS BIGINT) AS jacc_bp
         |FROM j
         |WHERE inter * 10000 >= ${DedupOps.SetSimTBp} * (size_a + size_b - inter)
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Every q221 stage restated in SQL over the previous stage's CTE —
    // per-script line cleaning, the per-script stop lists, the q186+q200
    // latin gate pack, the bigram script gate, the script-aware LSH
    // chain, all three leak sets, and the per-stratum packing. A hash
    // match proves the five-stage script-dispatched DAG end-to-end.
    "q221_script_pipeline" -> {
      val lw = DedupOps.LineWords
      val sw = DedupOps.SubstrWindow
      val psl = PipelineOps.PackSeqLen
      val bpeR = BpeOps.BpeRounds
      s"""WITH $mixedScCte,
         |zch AS (SELECT doc_id, lang, script,
         |  CASE WHEN script = 'cjk'
         |    THEN list_transform(generate_series(0, CAST((length(text) - 1) // $CjkLineCp AS BIGINT)),
         |      j -> substring(text, CAST(j * $CjkLineCp + 1 AS INTEGER), $CjkLineCp))
         |    ELSE list_transform(generate_series(0, CAST((len(string_split(text,' ')) - 1) // $lw AS BIGINT)),
         |      j -> array_to_string((string_split(text,' '))[j*$lw+1 : j*$lw+$lw], ' ')) END AS chunks
         |  FROM sc),
         |zl AS (SELECT doc_id, lang, script, CAST(i - 1 AS INTEGER) AS pos,
         |    chunks[CAST(i AS INTEGER)] AS line
         |  FROM zch, unnest(generate_series(1, len(chunks))) t(i)),
         |zd AS (SELECT line FROM zl GROUP BY line
         |  HAVING count(DISTINCT doc_id) >= ${DedupOps.LineDupMinDocs}),
         |pclean AS MATERIALIZED (SELECT doc_id, lang, script,
         |  coalesce(CASE WHEN script = 'cjk'
         |    THEN string_agg(CASE WHEN d.line IS NULL THEN l.line END, '' ORDER BY l.pos)
         |    ELSE string_agg(CASE WHEN d.line IS NULL THEN l.line END, ' ' ORDER BY l.pos) END,
         |    '') AS text
         |  FROM zl l LEFT JOIN zd d ON l.line = d.line
         |  GROUP BY doc_id, lang, script),
         |lstop AS MATERIALIZED (SELECT word AS token FROM (
         |  SELECT unnest(string_split(text, ' ')) AS word FROM sc WHERE script = 'latin')
         |  WHERE length(word) >= 1
         |  GROUP BY word ORDER BY count(*) DESC, word LIMIT 8),
         |cstop AS MATERIALIZED (SELECT g AS token FROM (
         |  SELECT unnest(list_transform(generate_series(1, length(text) - 1),
         |    i -> substring(text, CAST(i AS INTEGER), 2))) AS g
         |  FROM sc WHERE script = 'cjk')
         |  GROUP BY g ORDER BY count(*) DESC, g LIMIT 8),
         |pcl AS (SELECT doc_id, text FROM pclean WHERE script = 'latin'),
         |${TextOps.gopherKeepCteSql("pcl", "zq", "zqk", "lstop")},
         |${TextOps.repetitionKeepCteSql("pcl", "zr", "zrk")},
         |zcg AS (SELECT doc_id, list_transform(generate_series(1, length(text) - 1),
         |    i -> substring(text, CAST(i AS INTEGER), 2)) AS bg
         |  FROM pclean WHERE script = 'cjk'),
         |zchit AS (SELECT doc_id, count(DISTINCT t) AS stop_hits FROM (
         |    SELECT doc_id, unnest(list_distinct(bg)) AS t FROM zcg) x
         |  JOIN cstop st ON x.t = st.token GROUP BY doc_id),
         |zck AS (SELECT g.doc_id FROM (
         |    SELECT doc_id, CAST(len(bg) AS BIGINT) AS n_tok,
         |      CAST(len(list_distinct(bg)) AS BIGINT) AS n_uniq FROM zcg) g
         |  LEFT JOIN zchit h USING (doc_id)
         |  WHERE n_tok >= 50 AND n_tok <= 100000
         |    AND (n_tok - n_uniq) * 10000 // n_tok <= 6000
         |    AND coalesce(h.stop_hits, 0) >= 2),
         |zkeep AS (SELECT doc_id FROM (
         |  (SELECT doc_id FROM zqk INTERSECT SELECT doc_id FROM zrk)
         |  UNION SELECT doc_id FROM zck)),
         |pgated AS MATERIALIZED (SELECT c.* FROM pclean c JOIN zkeep USING (doc_id)),
         |${scriptLshCtesFrom("pgated")},
         |pded AS MATERIALIZED (SELECT * FROM pgated
         |  WHERE doc_id NOT IN (SELECT doc_b FROM svp)),
         |ptrain AS MATERIALIZED (SELECT * FROM pded WHERE doc_id % 5 <> 0),
         |vtt AS (SELECT doc_id, string_split(text,' ') AS t FROM ptrain
         |  WHERE script = 'latin' AND len(string_split(text,' ')) >= $sw),
         |vtw AS (SELECT doc_id, list_aggr(t[i:i+${sw - 1}], 'string_agg', ' ') AS w
         |  FROM vtt, unnest(range(1, len(t) - ${sw - 1} + 1)) AS u(i)),
         |vet AS (SELECT doc_id, string_split(text,' ') AS t FROM pclean
         |  WHERE doc_id % 5 = 0 AND script = 'latin'
         |    AND len(string_split(text,' ')) >= $sw),
         |vew AS (SELECT DISTINCT list_aggr(t[i:i+${sw - 1}], 'string_agg', ' ') AS w
         |  FROM vet, unnest(range(1, len(t) - ${sw - 1} + 1)) AS u(i)),
         |vleak AS MATERIALIZED (SELECT DISTINCT doc_id FROM vtw JOIN vew USING (w)),
         |cvt AS (SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, length(text) - ${CjkLeakCp - 1}),
         |    i -> substring(text, CAST(i AS INTEGER), $CjkLeakCp))) AS g
         |  FROM ptrain WHERE script = 'cjk' AND length(text) >= $CjkLeakCp),
         |cvw AS (SELECT doc_id, unnest(g) AS w FROM cvt),
         |cve AS (SELECT DISTINCT unnest(g) AS w FROM (
         |  SELECT list_distinct(list_transform(
         |    generate_series(1, length(text) - ${CjkLeakCp - 1}),
         |    i -> substring(text, CAST(i AS INTEGER), $CjkLeakCp))) AS g
         |  FROM pclean WHERE doc_id % 5 = 0 AND script = 'cjk'
         |    AND length(text) >= $CjkLeakCp)),
         |cvleak AS MATERIALIZED (SELECT DISTINCT doc_id FROM cvw JOIN cve USING (w)),
         |${SimilarityOps.semContamIdsCteSql("sleak")},
         |pdec AS MATERIALIZED (SELECT * FROM ptrain
         |  WHERE doc_id NOT IN (SELECT doc_id FROM vleak)
         |    AND doc_id NOT IN (SELECT doc_id FROM cvleak)
         |    AND doc_id NOT IN (SELECT doc_id FROM sleak)),
         |${BpeOps.bpeCtesSql(bpeR)},
         |zdw AS MATERIALIZED (SELECT doc_id, lang AS stratum,
         |    unnest(string_split(text, ' ')) AS word
         |  FROM pdec WHERE script = 'latin'),
         |zdc AS MATERIALIZED (SELECT d.doc_id, d.stratum,
         |    CAST(sum(length(w.word_t)) AS BIGINT) AS ntok
         |  FROM zdw d JOIN w$bpeR w USING (word)
         |  WHERE length(d.word) >= 1 GROUP BY d.doc_id, d.stratum),
         |zcc AS (SELECT doc_id, 'cjk' AS stratum,
         |    CAST(length(text) AS BIGINT) AS ntok
         |  FROM pdec WHERE script = 'cjk'),
         |zac AS (SELECT * FROM zdc UNION ALL SELECT * FROM zcc),
         |zoff AS MATERIALIZED (SELECT doc_id, stratum, ntok,
         |  CAST(coalesce(sum(ntok) OVER (PARTITION BY stratum ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS off_start
         |  FROM zac),
         |zex AS (SELECT stratum, doc_id, off_start, off_start + ntok AS off_end,
         |    unnest(generate_series(off_start // $psl,
         |      (off_start + ntok - 1) // $psl)) AS seq_id
         |  FROM zoff),
         |zspan AS (SELECT stratum, doc_id, CAST(seq_id AS BIGINT) AS seq_id,
         |    least(off_end, (seq_id + 1) * $psl)
         |      - greatest(off_start, seq_id * $psl) AS tok
         |  FROM zex)
         |SELECT stratum, CAST(seq_id AS BIGINT) AS seq_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tok) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM zspan GROUP BY 1, 2 ORDER BY stratum, seq_id""".stripMargin
    })
}
