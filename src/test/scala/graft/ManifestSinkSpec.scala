package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 write path: per-task data files become visible only through
  * the atomically-swapped manifest — job/task failure, stray files and
  * append/overwrite semantics are all observable behaviors. */
class ManifestSinkSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val fmt = "graft.sources.ManifestSink"

  private def tmp(): Path = {
    val p = Files.createTempDirectory("manifest-sink")
    p.toFile.deleteOnExit()
    p
  }

  test("round-trip: overwrite then append, nulls and multibyte strings intact") {
    val dir = tmp().toString
    val a = Seq((1L, Some("hellö"), 1.5), (2L, None, -0.25), (3L, Some("tab\tnewline\n"), 0.0))
      .toDF("id", "s", "x")
    a.write.format(fmt).option("path", dir).mode("overwrite").save()
    val read1 = spark.read.format(fmt).option("path", dir).load()
    assert(read1.collect().map(_.toString).sorted.toSeq
      == a.collect().map(_.toString).sorted.toSeq)

    val b = Seq((4L, Some("more"), 9.0)).toDF("id", "s", "x")
    b.write.format(fmt).option("path", dir).mode("append").save()
    assert(spark.read.format(fmt).option("path", dir).load().count() == 4)

    // overwrite truncates: only the new rows remain
    b.write.format(fmt).option("path", dir).mode("overwrite").save()
    assert(spark.read.format(fmt).option("path", dir).load().count() == 1)
  }

  test("stray uncommitted files in the directory are invisible to readers") {
    val dir = tmp()
    Seq((1L, Some("a"), 0.0)).toDF("id", "s", "x")
      .write.format(fmt).option("path", dir.toString).mode("overwrite").save()
    // simulate a crashed writer's leftover: a data file never committed
    Files.writeString(dir.resolve("data-p9-t9-stray.tsv"), "99\tYQ==\t0.0\n")
    val read = spark.read.format(fmt).option("path", dir.toString).load()
    assert(read.count() == 1, "stray file must not be listed via the manifest")
  }

  test("a failing write aborts without corrupting the committed table") {
    val dir = tmp().toString
    Seq((1L, Some("keep"), 1.0)).toDF("id", "s", "x")
      .write.format(fmt).option("path", dir).mode("overwrite").save()

    val poison = Seq((10L, Some("boom"), 0.0), (11L, Some("ok"), 0.0))
      .toDF("id", "s", "x")
      .withColumn("s", when(col("id") === 10L,
        udf((x: String) => { throw new RuntimeException("poison"); x })
          .apply(col("s"))).otherwise(col("s")))
    intercept[Exception] {
      poison.write.format(fmt).option("path", dir).mode("append").save()
    }
    val read = spark.read.format(fmt).option("path", dir).load().collect()
    assert(read.length == 1 && read.head.getLong(0) == 1L,
      "failed append must leave the previously committed table intact")
  }

  test("count(*) is answered from manifest metadata — no data file is read") {
    val dir = tmp()
    spark.range(42).select(col("id"), lit("v").as("s"), lit(1.0).as("x"))
      .repartition(4)
      .write.format(fmt).option("path", dir.toString).mode("overwrite").save()
    // destroy the data files; only the versioned manifests survive
    Files.list(dir).filter(_.getFileName.toString.startsWith("data-"))
      .forEach(p => Files.delete(p))
    val n = spark.read.format(fmt).option("path", dir.toString).load().count()
    assert(n == 42, "metadata-only count must survive missing data files")
    // a zero-column projection also opens no data file: the manifest's
    // per-file row counts drive an empty-row emitter
    val ones = spark.read.format(fmt).option("path", dir.toString).load()
      .select(lit(1).as("one")).collect()
    assert(ones.length == 42, "zero-column scan must be answered from metadata")
    // and a real scan of course cannot
    intercept[Exception] {
      spark.read.format(fmt).option("path", dir.toString).load()
        .agg(sum("id")).collect()
    }
  }

  test("scans are columnar and column-pruned: only requested columns reach the reader") {
    val dir = tmp().toString
    spark.range(200).select(col("id"), lit("v").as("s"), (col("id") * 2.5).as("x"))
      .repartition(2)
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    val df = spark.read.format(fmt).option("path", dir).load()
      .filter(col("id") >= 100).select("x", "id")
    val scans = df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.size == 1)
    assert(scans.head.supportsColumnar,
      "parquet-backed manifest scan must hand ColumnarBatches to Spark")
    assert(scans.head.scan.readSchema().fieldNames.toSet == Set("id", "x"),
      s"projection must prune column s, got ${scans.head.scan.readSchema()}")
    assert(df.count() == 100)
    val total = df.agg(sum("x")).head.getDouble(0)
    assert(total == (100 until 200).map(_ * 2.5).sum)
  }

  /** Files the scan actually plans, unpacked from read bins (binning
    * coalesces small files into shared tasks; file-skipping proofs must
    * count member FILES, not tasks). */
  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.inputPartitions.flatMap {
      case bin: graft.sources.ManifestBinPartition => bin.members
      case p => Seq(p)
    }.size

  test("manifest min/max stats skip files for selective range filters") {
    val dir = tmp().toString
    // 4 files with DISJOINT id ranges (repartitionByRange + sort)
    spark.range(400).select(col("id"), lit("v").as("s"), (col("id") * 1.5).as("x"))
      .repartitionByRange(4, col("id"))
      .sortWithinPartitions("id")
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    val table = spark.read.format(fmt).option("path", dir).load()
    assert(plannedFiles(table) == 4)
    // a one-range filter must plan ONE file, not four
    val narrow = table.filter(col("id") >= 150 && col("id") < 160)
    assert(plannedFiles(narrow) == 1,
      s"expected 1 surviving file, got ${plannedFiles(narrow)}")
    assert(narrow.count() == 10)
    // a filter matching nothing plans zero files
    val none = table.filter(col("id") > 100000)
    assert(plannedFiles(none) == 0 && none.count() == 0)
    // and the row-level residual still applies inside the surviving file
    assert(table.filter(col("id") === 155).count() == 1)
  }

  test("integer IN-lists skip files by min/max range intersection") {
    val dir = tmp().toString
    spark.range(400).select(col("id"), lit("v").as("s"))
      .repartitionByRange(4, col("id"))
      .sortWithinPartitions("id")
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    val table = spark.read.format(fmt).option("path", dir).load()
    // both keys live in one file's range — three files never plan
    val hit = table.filter(col("id").isin(150L, 155L))
    assert(plannedFiles(hit) == 1,
      s"expected 1 surviving file, got ${plannedFiles(hit)}")
    assert(hit.count() == 2)
    // keys in two different ranges plan exactly those two files
    val two = table.filter(col("id").isin(10L, 390L))
    assert(plannedFiles(two) == 2)
    assert(two.count() == 2)
    // keys outside every range plan nothing
    val none = table.filter(col("id").isin(100000L, 200000L))
    assert(plannedFiles(none) == 0 && none.count() == 0)
  }

  test("parallelism follows the DATA: small files bin, bin-rows=0 restores per-file tasks") {
    val dir = tmp().toString
    spark.range(100).select(col("id"), lit("x").as("s"), lit(0.5).as("x"))
      .repartition(8)
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    val read = spark.read.format(fmt).option("path", dir).load()
    // 100 tiny rows in 8 files: fewer binned tasks than files (the
    // adaptive default keeps every core fed), all files still planned
    assert(read.rdd.getNumPartitions < 8 && plannedFiles(read) == 8)
    assert(read.count() == 100)
    spark.conf.set("graft.scan.bin-rows", "0")
    try assert(spark.read.format(fmt).option("path", dir).load()
      .rdd.getNumPartitions == 8)
    finally spark.conf.unset("graft.scan.bin-rows")
  }

  test("a task that receives no rows publishes no data file") {
    val dir = tmp()
    def entries = graft.sources.ManifestSink.committedEntries(dir)
    // 2 rows over 8 partitions: most write tasks receive nothing
    val sparse = spark.range(0, 10).repartition(8).filter(col("id") < 2)
    val nonEmpty = sparse.rdd.mapPartitions(it => Iterator(it.hasNext))
      .collect().count(identity)
    sparse.write.format(fmt).option("path", dir.toString).mode("overwrite").save()
    assert(entries.size == nonEmpty && nonEmpty < 8,
      s"${entries.size} entries for $nonEmpty non-empty partitions")
    assert(entries.map(_.rows).sum == 2L && entries.forall(_.rows > 0L))
    val onDisk = Files.list(dir).toArray.toSeq.map(_.asInstanceOf[Path].getFileName.toString)
      .filter(_.startsWith("data-")).toSet
    assert(onDisk == entries.map(_.name).toSet, s"data files outside the manifest: $onDisk")
    // an overwrite whose every task is empty commits a version with no
    // entries; the table keeps its schema
    spark.range(0, 10).repartition(8).filter(col("id") < 0)
      .write.format(fmt).option("path", dir.toString).mode("overwrite").save()
    assert(entries.isEmpty, s"an all-empty overwrite committed ${entries.size} entries")
    val back = spark.read.format(fmt).option("path", dir.toString).load()
    assert(back.count() == 0)
    assert(back.schema.map(f => f.name -> f.dataType) ==
      Seq("id" -> org.apache.spark.sql.types.LongType))
  }
}
