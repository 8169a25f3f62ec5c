package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.spark.graft.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables

/** Fixture loads read their schema from a parquet footer on the driver:
  * the same schema Spark's inference gives, without inference's job. */
class FixtureSchemaSpec extends AnyFunSuite {
  import TestSpark.spark

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** A schema's tree, or the error condition that reading it raised. */
  private def outcome(schema: => org.apache.spark.sql.types.StructType): Either[String, String] =
    Try(schema.treeString).toEither.left.map { e =>
      // inference raises inside a job, so its error arrives wrapped
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.reverse.collectFirst {
        case t: org.apache.spark.SparkThrowable if t.getCondition != null => t.getCondition
      }.getOrElse(e.getClass.getName)
    }

  /** A directory table as ScaleGen writes one: several part files plus
    * the `_SUCCESS` marker and the hidden checksum files. */
  private def directoryTable(): String = {
    val dir = Files.createTempDirectory("graft-fixture-schema").resolve("t.parquet").toString
    spark.range(40).repartition(3).selectExpr("id", "cast(id as string) as s",
        "cast(id as decimal(12, 2)) as d", "timestamp_micros(id) as ts",
        "named_struct('a', id, 'b', array(cast(id as int))) as nested",
        "map('k', cast(id as double)) as m")
      .write.parquet(dir)
    dir
  }

  /** A parquet file whose `ts` is INT64 TIMESTAMP(NANOS), the encoding
    * Spark reads only under `nanosAsLong`. */
  private def nanosFile(): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message ev { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val file = Files.createTempDirectory("graft-fixture-nanos").resolve("ev.parquet").toString
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file)).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L)
      .append("ts", 1700000000123456789L))
    finally w.close()
    file
  }

  test("the footer schema is the inferred schema, under both nanosAsLong settings") {
    val paths = Tables.all.map(t => s"${TestSpark.sfDir}/$t.parquet") :+ directoryTable() :+ nanosFile()
    val prior = spark.conf.getOption(NanosAsLong)
    try for (nanos <- Seq("true", "false"); p <- paths) {
      spark.conf.set(NanosAsLong, nanos)
      assert(outcome(spark.read.schema(Tables.footerSchema(spark, p)).parquet(p).schema) ==
        outcome(spark.read.parquet(p).schema), s"$p, nanosAsLong=$nanos")
    } finally prior.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
  }

  test("a fixture load launches no Spark job") {
    val sc = spark.sparkContext
    val group = "fixture-schema-load"
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      try Tables.load(spark, TestSpark.sfDir, "documents").schema
      finally sc.clearJobGroup()
    } finally { TestBus.drain(sc); sc.removeSparkListener(l) }
    assert(jobs.get == 0, s"the load launched ${jobs.get} jobs")
  }
}
