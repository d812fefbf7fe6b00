package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.filter2.predicate.{FilterPredicate, LogicalInverseRewriter}
import org.apache.parquet.filter2.statisticslevel.StatisticsFilter
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFilters,
  ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.sources.{Filter, Not}
import org.apache.spark.sql.types.StructType

/** Parquet metadata and kilobyte-sized tables read on the DRIVER, with
  * Spark's own parquet code and no Spark job.
  *
  * `spark.read.parquet(p)` infers the schema in a job (footer reads
  * fanned out to executors), and a `collect` is a second one: two jobs
  * per control-plane table, which made the config snapshot and the
  * catalog registration the largest part of a service start. Here the
  * footer is read in-process and converted by the same
  * `readSchemaFromFooter` the inference job runs, so the schema is
  * identical (session confs such as `nanosAsLong` included); rows come
  * from `ParquetFileFormat`'s own row reader called on the driver, so
  * every type decodes exactly as a scan would decode it.
  *
  * Tables are a parquet file or a flat directory of part files. Only for
  * control-plane-sized data: every row lands in driver memory.
  */
object DriverParquet {

  /** The data files of `path` as Spark's listing sees them: a file is
    * itself; a directory's `_`/`.`-prefixed entries (`_SUCCESS`, `.crc`,
    * `_temporary`) are skipped. Empty when the path does not exist.
    */
  def files(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
  }

  private def dataFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val found = files(spark, path)
    if (found.isEmpty) throw new java.io.FileNotFoundException(
      s"no parquet data files at $path")
    found
  }

  /** The footer schema of a file; throws if it is not parquet. */
  private def footerSchema(spark: SparkSession, file: FileStatus): StructType = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, spark.sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** What `file`'s row-group statistics prove about `filter`, decided
    * by the code a parquet scan skips row groups with: the predicate is
    * built by `ParquetFilters` as `ParquetFileFormat` builds it (footer
    * schema, the session's pushdown confs, the file's datetime rebase
    * spec) and tested by parquet's `StatisticsFilter.canDrop`.
    *   - `Some(false)`: no row is TRUE (every row group drops `filter`).
    *   - `Some(true)`: every row is TRUE. Every row group drops
    *     `NOT filter`, which must translate whole (a `Not` never pushes
    *     down a partial conjunct); every referenced column has
    *     statistics with a null count of 0 in every row group (a NULL
    *     predicate is not TRUE); and none is float or double (NaN
    *     stays out of min/max).
    *   - `None`: the statistics cannot tell.
    */
  def verdict(spark: SparkSession, file: FileStatus, filter: Filter): Option[Boolean] = {
    val conf = spark.sessionState.conf
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, spark.sessionState.newHadoopConf()),
      ParquetMetadataConverter.NO_FILTER)
    val meta = footer.getFileMetaData
    val rebase = DataSourceUtils.datetimeRebaseSpec(meta.getKeyValueMetaData.get,
      new ParquetOptions(Map.empty[String, String], conf).datetimeRebaseModeInRead)
    val filters = new ParquetFilters(meta.getSchema, conf.parquetFilterPushDownDate,
      conf.parquetFilterPushDownTimestamp, conf.parquetFilterPushDownDecimal,
      conf.parquetFilterPushDownStringPredicate, conf.parquetFilterPushDownInFilterThreshold,
      conf.caseSensitiveAnalysis, rebase)
    val groups = footer.getBlocks.asScala.toSeq.map(_.getColumns)
    // canDrop rejects a Not; a scan's row-group filter collapses it first
    def noGroupMatches(p: Option[FilterPredicate]): Boolean = p.exists { p =>
      val collapsed = LogicalInverseRewriter.rewrite(p)
      groups.forall(StatisticsFilter.canDrop(collapsed, _))
    }
    def sameName(a: String, b: String) =
      if (conf.caseSensitiveAnalysis) a == b else a.equalsIgnoreCase(b)
    def nullFree = filter.references.forall(ref => groups.forall(_.asScala.exists { c =>
      val path = c.getPath.toArray
      val stats = c.getStatistics
      path.length == 1 && sameName(path(0), ref) && stats != null && !stats.isEmpty &&
        stats.isNumNullsSet && stats.getNumNulls == 0L &&
        c.getPrimitiveType.getPrimitiveTypeName != PrimitiveTypeName.FLOAT &&
        c.getPrimitiveType.getPrimitiveTypeName != PrimitiveTypeName.DOUBLE
    }))
    if (noGroupMatches(filters.createFilter(filter))) Some(false)
    else if (nullFree && noGroupMatches(filters.createFilter(Not(filter)))) Some(true)
    else None
  }

  /** Write a parquet file with no rows and `template`'s schema and
    * key-value metadata (Spark's row schema included), so a directory
    * whose every data file went still reads with its schema.
    */
  def writeEmpty(spark: SparkSession, template: FileStatus, dst: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(template, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS).getFileMetaData
    val writer = new ParquetFileWriter(HadoopOutputFile.fromPath(new Path(dst), conf),
      meta.getSchema, ParquetFileWriter.Mode.CREATE, ParquetWriter.DEFAULT_BLOCK_SIZE.toLong,
      ParquetWriter.MAX_PADDING_SIZE_DEFAULT)
    writer.start()
    writer.end(meta.getKeyValueMetaData)
  }

  /** The schema `spark.read.parquet(path)` infers: the first data file's
    * footer (Spark's inference without `mergeSchema` reads one file too),
    * before the file source marks every field nullable.
    */
  def schema(spark: SparkSession, path: String): StructType =
    footerSchema(spark, dataFiles(spark, path).head)

  /** Every row of every data file of `path`, in file-name order.
    * `columns` narrows the read like a pruned scan; a column a file lacks
    * reads as null. Throws on a missing path or a non-parquet file.
    */
  def rows(spark: SparkSession, path: String,
      columns: Option[StructType] = None): Seq[Row] =
    read(spark, path, columns)._2

  /** [[rows]] as a local DataFrame: its plans run as a `LocalTableScan`,
    * so a later `collect` needs no job either.
    */
  def table(spark: SparkSession, path: String): DataFrame = {
    val (schema, rows) = read(spark, path, None)
    spark.createDataFrame(rows.asJava, schema)
  }

  private def read(spark: SparkSession, path: String,
      columns: Option[StructType]): (StructType, Seq[Row]) = {
    val found = dataFiles(spark, path)
    val schema = footerSchema(spark, found.head)
    val required = columns.getOrElse(schema)
    val reader = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, schema, new StructType(), required, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())
    // the converter builds fresh JVM values, so the reader's reused row
    // buffer never leaks into the result
    val toRow = CatalystTypeConverters.createToScalaConverter(required)
    (required, found.flatMap { f =>
      reader(PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(f), 0L, f.getLen))
        .map(r => toRow(r).asInstanceOf[Row]).toVector
    })
  }
}
