package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Staging
import graft.operators.{PipelineOps, ScriptDedupOps}

/** A cron-style rerun of the flagship pass on fresh input compiles no
  * generated class: the second pass's plans are the first pass's, so
  * every class they need is still in Spark's generated-class cache,
  * which the session's extension sizes to hold a whole pass. Both passes
  * run on copies of the fixture under different paths, so every
  * per-directory memo misses and the second pass re-plans and re-runs
  * everything, as a new cron input would. */
class CodegenReuseSpec extends AnyFunSuite {
  import TestSpark.spark

  private def copyFixture(): Path = {
    val dst = Files.createTempDirectory("graft-codegen-reuse")
    val src = java.nio.file.Paths.get(TestSpark.sfDir)
    Files.walk(src).iterator().asScala.foreach { p =>
      val to = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    dst
  }

  /** One q117+q221 pass on `dir`, the RunPipeline sequence: collect,
    * publish through the manifest sink, read back. Returns the classes
    * Spark compiled during it. */
  private def pass(dir: Path): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Staging.beginTransient()
    try Seq(PipelineOps.queries("q117_corpus_pipeline"),
        ScriptDedupOps.queries("q221_script_pipeline")).zipWithIndex.foreach { case (q, i) =>
      val df = q(spark, dir.toString)
      df.persist()
      df.collect()
      val out = dir.resolve(s"published_$i").toString
      df.write.format("graft.sources.ManifestSink").option("path", out).mode("overwrite").save()
      df.unpersist()
      spark.read.format("graft.sources.ManifestSink").option("path", out).load().collect()
    }
    finally Staging.releaseTransient()
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second q117+q221 pass on a new input path compiles no class") {
    val first = pass(copyFixture())
    val second = pass(copyFixture())
    info(s"compiled classes: first pass $first, second pass $second")
    assert(second == 0, s"the second pass recompiled $second of the first pass's $first classes")
  }
}
