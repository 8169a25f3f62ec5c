package graft.sources

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetWriteSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet plumbing for the manifest table's DATA files.
  *
  * The manifest table's commit protocol (versioned-manifest CAS, see
  * [[ManifestSink]]) is format-agnostic; this object supplies the
  * data-file format the protocol publishes, the only one manifest
  * tables hold:
  *
  *   - '''write''': each DSv2 task opens a plain parquet-hadoop
  *     [[ParquetWriter]] whose `WriteSupport` is Spark's own
  *     [[ParquetWriteSupport]] — the identical row encoding `df.write
  *     .parquet` produces, configured through a self-contained Hadoop
  *     conf so the executor-side writer needs no SparkSession.
  *   - '''read''': scans go through Spark's
  *     [[VectorizedParquetRecordReader]] — the same columnar decoder
  *     behind native parquet scans — handing whole [[org.apache.spark
  *     .sql.vectorized.ColumnarBatch]]es to DSv2 when the scan allows
  *     it, and per-row views otherwise. Column pruning is
  *     applied at the reader (`initialize(path, columns)`), so a
  *     2-column projection of a 20-column table decodes 2 columns.
  *   - '''compact''': bins merge via [[ParquetFileWriter#appendFile]] —
  *     raw row-group copy, no decode/re-encode, byte-exact.
  */
object ManifestParquet {

  /** Write-side Hadoop conf: every key [[ParquetWriteSupport.init]]
    * requires, set explicitly (there is no session to inherit from on an
    * executor). No timestamp/decimal columns exist in manifest tables
    * (long/int/double/boolean/string only), so the rebase/timestamp
    * settings are inert but must be present. */
  private def writeConf(schema: StructType): Configuration = {
    val conf = new Configuration()
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.defaultValueString)
    conf
  }

  private class RowBuilder(out: org.apache.parquet.io.OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowBuilder](out) {
    override def self(): RowBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** Open a parquet writer for one task's data file. Mode.CREATE: the
    * file name is attempt-unique (UUID), so an existing target means a
    * logic bug, not a retry — fail instead of overwriting.
    * `rowGroupBytes` (table property `write.parquet.row-group-bytes`)
    * sizes row groups — the skip granularity of the row-group-level
    * predicate pushdown in [[openReadFiltered]]: smaller groups skip
    * finer but carry more footer metadata; parquet's 128 MB default is
    * the production sweet spot. */
  def open(file: Path, schema: StructType,
      rowGroupBytes: Long = ParquetWriter.DEFAULT_BLOCK_SIZE.toLong)
      : ParquetWriter[InternalRow] = {
    val conf = writeConf(schema)
    new RowBuilder(HadoopOutputFile.fromPath(new HPath(file.toString), conf))
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.CREATE)
      .withRowGroupSize(rowGroupBytes)
      .build()
  }

  /** Open a vectorized reader over `columns` of `file` (in file-schema
    * order; manifest append enforces a uniform schema, so file order ==
    * table order). `returnBatches` flips between ColumnarBatch handoff
    * (DSv2 columnar scan) and per-row views (row scan / streaming) —
    * the DECODE is vectorized either way. */
  def openRead(file: String, columns: Seq[String],
      returnBatches: Boolean): VectorizedParquetRecordReader = {
    val r = new VectorizedParquetRecordReader(/* useOffHeap = */ false, /* capacity = */ 4096)
    try {
      r.initialize(file, columns.asJava)
      if (returnBatches) r.enableReturningBatches()
      r
    } catch { case t: Throwable => r.close(); throw t }
  }

  /** Open a vectorized reader over `file` with a parquet
    * [[org.apache.parquet.filter2.predicate.FilterPredicate]] applied at
    * ROW-GROUP granularity — the reader consults each group's
    * stats/dictionary/bloom and never decodes (or reads) groups the
    * predicate proves empty, exactly what native parquet scans do via
    * `ParquetInputFormat`. Goes through the production
    * `initialize(split, context)` path instead of the test-oriented
    * `initialize(path, columns)`, which cannot carry a filter:
    *
    *   - the requested schema arrives as a Spark StructType (PHYSICAL
    *     column names) via `SPARK_ROW_REQUESTED_SCHEMA`, clipped against
    *     the file schema by Spark's own `ParquetReadSupport`;
    *   - the filter rides the conf under `ParquetInputFormat`'s key and
    *     is applied by `HadoopReadOptions` when the footer is read —
    *     each EXECUTOR task prunes from its own footer; the driver
    *     never fans out footer reads (the Iceberg division of labor:
    *     manifest stats prune files, footers prune row groups);
    *   - page-level column-index filtering is disabled: whole surviving
    *     groups surface and Spark's residual FilterExec does row-level
    *     work, so a translation can only OVER-deliver, never drop rows.
    *
    * The five converter conf keys are set explicitly — the
    * Configuration-based `ParquetToSparkSchemaConverter` ctor
    * dereferences them without defaults. Values mirror
    * [[writeConf]]'s dialect (no binary-as-string, no INT96). */
  def openReadFiltered(file: String, physSchema: StructType,
      filter: org.apache.parquet.filter2.predicate.FilterPredicate,
      returnBatches: Boolean): VectorizedParquetRecordReader =
    openSplit(file, physSchema, Some(filter), returnBatches)

  /** Split-based open WITHOUT a filter — used when the requested SPARK
    * types must drive decoding rather than the file's own types: a
    * type-WIDENED table (int→long / float→double via ALTER COLUMN TYPE)
    * reads old narrow files through Spark's widening updaters
    * (`ParquetVectorUpdaterFactory.IntegerToLongUpdater` etc.), which
    * only engage on the requested-schema path. */
  def openReadWidened(file: String, physSchema: StructType,
      returnBatches: Boolean): VectorizedParquetRecordReader =
    openSplit(file, physSchema, None, returnBatches)

  private def openSplit(file: String, physSchema: StructType,
      filter: Option[org.apache.parquet.filter2.predicate.FilterPredicate],
      returnBatches: Boolean): VectorizedParquetRecordReader = {
    import org.apache.parquet.hadoop.ParquetInputFormat
    import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
    val conf = new Configuration()
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, physSchema.json)
    conf.set(SQLConf.CASE_SENSITIVE.key, "false")
    conf.set(SQLConf.PARQUET_BINARY_AS_STRING.key, "false")
    conf.set(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, "true")
    conf.set(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, "true")
    conf.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, "false")
    filter.foreach(f => ParquetInputFormat.setFilterPredicate(conf, f))
    conf.setBoolean("parquet.filter.columnindex.enabled", false)
    val split = new org.apache.hadoop.mapred.FileSplit(
      new HPath(file), 0L, java.nio.file.Files.size(java.nio.file.Paths.get(file)),
      Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    val r = new VectorizedParquetRecordReader(/* useOffHeap = */ false, /* capacity = */ 4096)
    try {
      r.initialize(split, ctx)
      if (returnBatches) r.enableReturningBatches()
      r
    } catch { case t: Throwable => r.close(); throw t }
  }

  /** Top-level field names physically present in `file` (one footer
    * read). The scan uses this under schema evolution to decide which
    * requested columns exist in a given file and which must null-fill. */
  def footerFields(file: String): Set[String] = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(file), new Configuration()))
    try r.getFooter.getFileMetaData.getSchema.getFields.asScala
      .map(_.getName).toSet
    finally r.close()
  }

  /** Top-level field name → parquet primitive type name (one footer
    * read) — the type-widening probe: a file whose physical primitive is
    * NARROWER than the table type (INT32 under a BIGINT column after
    * ALTER COLUMN TYPE) must decode through the widening reader. */
  def footerPrimitiveTypes(file: String): Map[String, String] = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(file), new Configuration()))
    try r.getFooter.getFileMetaData.getSchema.getFields.asScala.map { f =>
      f.getName -> (if (f.isPrimitive) f.asPrimitiveType().getPrimitiveTypeName.name
        else "GROUP")
    }.toMap
    finally r.close()
  }

  /** Number of row groups in `file` (one footer read) — fixture/spec
    * support for the row-group skipping proofs. */
  def rowGroupCount(file: String): Int = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(file), new Configuration()))
    try r.getFooter.getBlocks.size
    finally r.close()
  }

  /** Stable string form of a file's physical parquet schema — the
    * compaction grouping key under schema evolution (raw row-group
    * append requires byte-identical schemas within a bin). */
  def footerSchemaString(file: String): String = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(file), new Configuration()))
    try r.getFooter.getFileMetaData.getSchema.toString
    finally r.close()
  }

  /** Merge `members` (all parquet, same schema by the manifest's append
    * invariant) into `dest` by raw row-group append — the compaction
    * rewrite. Returns nothing; the caller publishes the manifest entry.
    * Key-value footer metadata (including Spark's schema annotation) is
    * carried over from the first member so readers of the merged file
    * see exactly what they saw on the originals. */
  def appendMerge(dest: Path, members: Seq[Path]): Unit = {
    val conf = new Configuration()
    val head = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(members.head.toString), conf))
    val (schema, keyValueMeta) =
      try (head.getFooter.getFileMetaData.getSchema,
        head.getFooter.getFileMetaData.getKeyValueMetaData)
      finally head.close()
    val writer = new ParquetFileWriter(
      HadoopOutputFile.fromPath(new HPath(dest.toString), conf),
      schema, ParquetFileWriter.Mode.CREATE,
      ParquetWriter.DEFAULT_BLOCK_SIZE.toLong, ParquetWriter.MAX_PADDING_SIZE_DEFAULT)
    writer.start()
    members.foreach { m =>
      writer.appendFile(HadoopInputFile.fromPath(new HPath(m.toString), conf))
    }
    writer.end(keyValueMeta)
  }
}
