package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** The engine's CLI entry point — the analog of the reference's
  * `./generate.sh` run (rws_data_ingester generate.sh:1-17: run the
  * pipeline, publish the artifact): execute the flagship corpus pipeline
  * (q117: line dedup → Gopher pack → LSH near-dup removal →
  * verbatim+semantic decontamination → BPE sequence packing) against a
  * table directory, publish the result through the atomically-committed
  * ManifestSink, and print one JSON line with the observe()-collected
  * stage metrics and `classes_compiled`, the number of classes Spark's
  * code generator compiled during the run (0 when every plan class was
  * already in its cache).
  *
  * Usage: runMain graft.tools.RunPipeline <sfDir> <outDir>
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = graft.GraftSession.local()
    println(run(spark, sfDir, outDir))
    spark.stop()
  }

  /** Execute + publish + summarize (separated from main so tests can run
    * it against a shared session). */
  def run(spark: SparkSession, sfDir: String, outDir: String): String = {
    val t0 = System.nanoTime()
    val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val df = graft.operators.PipelineOps.queries("q117_corpus_pipeline")(spark, sfDir)
    // observe() metrics attach to THIS DataFrame's OWN QueryExecution —
    // the write (and even a count()) plan separate executions, so
    // collect() the frame once (it is a per-(lang, shard) rollup, a few
    // dozen rows) and cache so the write reuses the result
    df.persist()
    df.collect()
    df.write.format("graft.sources.ManifestSink")
      .option("path", outDir).mode("overwrite").save()
    df.unpersist()
    val shards = spark.read.format("graft.sources.ManifestSink")
      .option("path", outDir).load().count()
    val decontam = df.queryExecution.observedMetrics("pipeline_decontam")
    val pack = df.queryExecution.observedMetrics("pipeline_pack")
    val secs = (System.nanoTime() - t0) / 1e9
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
    f"""{"pipeline":"corpus","sf_dir":"$sfDir","out":"$outDir",""" +
      s""""docs_surviving":${decontam.getAs[Long]("docs_surviving")},""" +
      s""""span_rows":${pack.getAs[Long]("span_rows")},""" +
      s""""tokens_packed":${pack.getAs[Long]("tokens_packed")},""" +
      f""""seq_rows":$shards,"sec":$secs%.2f,"classes_compiled":$compiled}"""
  }
}
