package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Manifest tables hold parquet data files only: the scan has one
  * reader, so an entry that names any other file must fail the scan
  * loudly — never decode as something else, never answer with rows. */
class DataFileFormatSpec extends AnyFunSuite {
  import graft.TestSpark.spark

  test("a row scan of an entry that names a non-parquet file throws and returns no rows") {
    val root = Files.createTempDirectory("data-format")
    root.toFile.deleteOnExit()
    val schema = StructType(Seq(StructField("id", LongType)))
    // tab-separated text: the encoding of the retired legacy format
    Files.writeString(root.resolve("data-old.tsv"), "1\n2\n3\n")
    ManifestSink.publishCommit(root, schema, truncateFirst = true,
      Seq(ManifestSink.FileEntry("data-old.tsv", 3L, Map.empty, Map.empty)),
      markerUpdate = None, GcPolicy(None, 3600000L))
    val df = spark.read.format("graft.sources.ManifestSink")
      .option("path", root.toString).load()
    var rows: Option[Array[org.apache.spark.sql.Row]] = None
    intercept[Exception] { rows = Some(df.collect()) }
    intercept[Exception] { rows = Some(df.filter("id > 0").collect()) }
    assert(rows.isEmpty, s"the scan returned rows: ${rows.map(_.toSeq)}")
  }
}
