package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PipelineOps

/** q117's observe() stage counters must reconcile exactly with the
  * pipeline's output and with independently recomputed stage counts —
  * the monitoring contract a production run reads from a listener. */
class PipelineObservabilitySpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}

  test("flagship pipeline emits reconciling per-stage metrics in one pass") {
    val df = PipelineOps.queries("q117_corpus_pipeline")(spark, sfDir)
    val out = df.collect() // one action populates all observed metrics
    val decontam = df.queryExecution.observedMetrics("pipeline_decontam")
    val pack = df.queryExecution.observedMetrics("pipeline_pack")

    // pack-stage totals equal the pipeline's own output totals: every
    // span row lands in exactly one (lang, seq) group
    val outSpanRows = out.map(_.getAs[Long]("n_docs")).sum
    val outTokens = out.map(_.getAs[Long]("n_tokens")).sum
    assert(pack.getAs[Long]("span_rows") == outSpanRows)
    assert(pack.getAs[Long]("tokens_packed") == outTokens)

    // decontam-stage count equals the distinct docs the manifest packs
    // (every surviving doc has >= 1 token, so none drops out of the
    // packer) and the funnel only widens into span rows
    val packedDocs = PipelineOps.queries("q117_corpus_pipeline")(spark, sfDir)
      .agg(sum(col("n_docs"))).head().getLong(0)
    assert(decontam.getAs[Long]("docs_surviving") <= packedDocs,
      "a surviving doc spans >= 1 sequence, so span rows bound survivors")
    // and it equals the independent recompute of the decontamination
    // frame via the same factored stage helpers
    val docs = graft.engine.Tables.documents(spark, sfDir)
    val cleaned = graft.operators.DedupOps.cleanedDocs(docs).localCheckpoint()
    val stops = docs
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) >= 1)
      .groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(8)
      .collect().map(_.getString(0)).toSeq
    val gKeep = graft.operators.TextOps.gopherRulesWith(cleaned, stops)
      .filter(col("keep")).select("doc_id")
    val rKeep = graft.operators.TextOps.repetitionRules(cleaned)
      .filter(col("keep")).select("doc_id")
    val gated = cleaned.join(gKeep, "doc_id").join(rKeep, "doc_id")
      .localCheckpoint()
    val losers = graft.operators.DedupOps.nearDupPairsOf(gated)
      .select(col("doc_b").as("doc_id")).distinct()
    val train = gated.join(losers, Seq("doc_id"), "left_anti")
      .filter(col("doc_id") % 5 =!= 0)
    val vLeaks = graft.operators.DedupOps.verbatimLeakIds(train,
      cleaned.filter(col("doc_id") % 5 === 0)).localCheckpoint()
    val sLeaks = graft.operators.SimilarityOps.semanticContam(spark,
        graft.engine.Tables.embeddings(spark, sfDir),
        col("vec_id") % 10 === 0, graft.operators.SimilarityOps.SemContamBp)
      .select(col("train_id").as("doc_id")).localCheckpoint()
    val expected = train.join(vLeaks, Seq("doc_id"), "left_anti")
      .join(sLeaks, Seq("doc_id"), "left_anti").count()
    assert(decontam.getAs[Long]("docs_surviving") == expected)
  }

  test("RunPipeline CLI executes, publishes via the manifest sink, and reports") {
    val out = java.nio.file.Files.createTempDirectory("pipeline-cli")
    out.toFile.deleteOnExit()
    val json = graft.tools.RunPipeline.run(spark, sfDir, out.toString)
    assert(json.contains(""""pipeline":"corpus""""))
    assert(json.contains(""""docs_surviving""""))
    // published table reads back with the pipeline's shard rows
    val published = spark.read.format("graft.sources.ManifestSink")
      .option("path", out.toString).load()
    val direct = PipelineOps.queries("q117_corpus_pipeline")(spark, sfDir)
    assert(published.collect().map(_.toString).sorted.toSeq
      == direct.collect().map(_.toString).sorted.toSeq)
  }
}
