package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Fixture-table loaders for the TPC-H-ish star schema plus the
  * `events` / `documents` / `embeddings` tables described in
  * /root/repo/FIXTURES.md.
  *
  * Every loader is a plain parquet scan so Catalyst predicate pushdown,
  * nested-schema pruning and the vectorized reader all apply. Loaders take
  * the scale-factor directory explicitly — at 100 TB the same call pattern
  * points at a partitioned table root instead of a single file and the
  * plans are unchanged.
  *
  * Mirrors the reference's source layer (rws_data_ingester
  * src/rotterdam_swimming_advice.py:118-155 — fixed-endpoint scans) as
  * declarative scans instead of imperative fetches.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    require(all.contains(name), s"unknown fixture table: $name (expected one of ${all.mkString(", ")})")
    if (name == "events") events(spark, sfDir) else rawScan(spark, sfDir, name)
  }

  /** `spark.read.parquet` with the schema read from the footer on the
    * driver, so a load launches no schema-inference job. */
  private def rawScan(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(footerSchema(spark, path)).parquet(path)
  }

  /** The schema `spark.read.parquet(path)` infers, read on the driver
    * from one footer: the file's own, or for a directory its first data
    * file's in name order (names starting `_` or `.` are not data).
    * Spark's inference without `mergeSchema` (off by default) also reads
    * a single footer, but inside a job. The footer goes through Spark's
    * own footer-to-schema conversion under the session's conf, so the
    * row-metadata schema Spark writes, `nanosAsLong` and the other
    * converter settings apply as in inference. */
  private[graft] def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val st = fs.getFileStatus(root)
    val file = if (!st.isDirectory) st else {
      val data = fs.listStatus(root).filter(f => f.isFile &&
        !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      require(data.nonEmpty, s"no parquet data file in $path")
      data.minBy(_.getPath.getName)
    }
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.NO_FILTER)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = rawScan(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = rawScan(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = rawScan(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = rawScan(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = rawScan(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = rawScan(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = rawScan(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame = rawScan(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = rawScan(spark, sfDir, "embeddings")

  /** `events.ts` arrives in EITHER of two generator encodings, and the
    * loader normalizes both to the same schema (`ts_ns` long, `ts_us`
    * long, `ts` TIMESTAMP) so every downstream operator and oracle
    * comparison is encoding-agnostic:
    *
    *  - INT64 TIMESTAMP(NANOS), which Spark's vectorized reader rejects
    *    ([PARQUET_TYPE_ILLEGAL]): read nanos as a raw long
    *    (`spark.sql.legacy.parquet.nanosAsLong`) and floor to micros with
    *    *integer* division (`div`, never `/` — a double division of an
    *    ~1.7e18 nanos value would lose precision past 2^53);
    *  - TIMESTAMP(MICROS, adjusted=false), which reads natively as
    *    TIMESTAMP_NTZ: take `unix_micros` under the session's UTC zone
    *    (NTZ→TZ cast is identity at UTC) and synthesize `ts_ns` as
    *    micros×1000 (the data carries no sub-microsecond precision).
    *
    * Oracle-facing outputs use `ts_us` ↔ DuckDB `epoch_us(ts)` in both
    * cases. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = rawScan(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts_us", expr("ts_ns div 1000"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
      case _ => // TIMESTAMP_NTZ (micros) or TIMESTAMP
        raw.withColumnRenamed("ts", "ts_raw")
          .withColumn("ts_us", unix_micros(col("ts_raw").cast("timestamp")))
          .withColumn("ts_ns", col("ts_us") * lit(1000L))
          .withColumn("ts", timestamp_micros(col("ts_us")))
          .drop("ts_raw")
          .select("event_id", "ts_ns", "user_id", "event_type", "value",
            "props", "ts_us", "ts")
    }
  }

  /** Register every fixture table as a temp view so `spark.sql` queries can
    * reference them by the same names the DuckDB oracle uses. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
