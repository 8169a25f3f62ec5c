package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Staging
import graft.operators.PipelineOps
import graft.sources.ManifestSink

/** A persisted frame keeps adaptive execution's final-stage coalescing,
  * so a small cached report is one partition rather than the 8 x cores
  * its shuffle starts with, and publishing it through the manifest sink
  * writes one data file, not one per initial partition. The session's
  * extension allows the coalescing (PERF.md "Cached reports and AQE
  * headroom"). */
class CachedReportSpec extends AnyFunSuite {
  import TestSpark.spark

  private def multiset(rows: Seq[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(_.toString).sorted

  test("a persisted groupBy over range is one partition") {
    val df = spark.range(1000).groupBy(col("id") % 7).count()
    df.persist()
    try {
      assert(df.collect().length == 7)
      assert(df.rdd.getNumPartitions == 1)
    } finally df.unpersist()
  }

  test("a persisted q117 report publishes one data file and reads back as collected") {
    val out = Files.createTempDirectory("graft-cached-report").resolve("q117").toString
    Staging.beginTransient()
    try {
      val df = PipelineOps.queries("q117_corpus_pipeline")(spark, TestSpark.sfDir)
      df.persist()
      val rows = try {
        val rows = df.collect()
        df.write.format("graft.sources.ManifestSink").option("path", out).mode("overwrite").save()
        rows
      } finally df.unpersist()
      val files = ManifestSink.committedEntries(Paths.get(out)).size
      assert(files == 1, s"the published version commits $files data files")
      val back = spark.read.format("graft.sources.ManifestSink").option("path", out).load().collect()
      assert(rows.nonEmpty)
      assert(multiset(back.toSeq) == multiset(rows.toSeq))
    } finally Staging.releaseTransient()
  }

  test("RunPipeline reports the published version's one data file") {
    val out = Files.createTempDirectory("graft-cached-report-cli").toString
    val json = graft.tools.RunPipeline.run(spark, TestSpark.sfDir, out)
    assert(json.contains(""""data_files":1"""), json)
  }
}
