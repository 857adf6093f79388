package org.apache.spark.sql

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge between graft's native Catalyst expressions and the public
  * Column API. `classic.ExpressionUtils` is `private[sql]`, so the
  * (two-line) accessor lives in this package — the same pattern Spark
  * extension libraries (e.g. spark-daria, frameless) use.
  */
object GraftGlue {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Spark's standard WRONG_NUM_ARGS AnalysisException (the thrower is
    * `private[sql]`, hence surfaced here).
    */
  def wrongNumArgs(fn: String, expected: Int, actual: Int): Throwable =
    errors.QueryCompilationErrors.wrongNumArgsError(fn, Seq(expected), actual)

  /** The parsed, unresolved plan of a SQL statement; runs no analyzer. */
  def parsePlan(spark: SparkSession,
                sqlText: String): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    spark.sessionState.sqlParser.parsePlan(sqlText)

  /** The analyzed (resolved) logical plan of a DataFrame. */
  def analyzed(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** A function builder for a typed `Aggregator`, the expression
    * `spark.udf.register(name, udaf(agg, enc))` would build, for
    * `SparkSessionExtensions.injectFunction` (`ScalaAggregator` is
    * internal to Spark SQL, hence surfaced here).
    */
  def aggregator[IN, BUF, OUT](name: String, agg: expressions.Aggregator[IN, BUF, OUT],
      enc: Encoder[IN]): Seq[Expression] => Expression = {
    val udaf = expressions.UserDefinedAggregator(agg, enc, Some(name))
    args => execution.aggregate.ScalaAggregator(udaf, args)
  }

  /** The data schema `spark.read.parquet(path)` would infer, read from
    * one footer on the driver instead of by Spark's one-task inference
    * job (partition columns are not in the footer; the reader still
    * discovers them from the directory names).
    * The footer is picked as `ParquetUtils.inferSchema` picks it
    * (`_common_metadata`, then `_metadata`, then the first data file by
    * path, hidden and `_`-prefixed names skipped) and converted by
    * `ParquetFileFormat.readSchemaFromFooter` with the converter
    * settings `ParquetFileFormat.mergeSchemasInParallel` takes from the
    * session conf, then made nullable as the file source relation makes
    * its data schema.
    *
    * `None` wherever the result could differ from Spark's own
    * inference, so the caller lets Spark infer: schema merging on (every
    * footer must be read), a glob, a missing path (Spark raises the
    * error), no data file, or a footer that does not read.
    */
  def parquetFooterSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    val root = new Path(path)
    if (conf.isParquetSchemaMergingEnabled || SparkHadoopUtil.get.isGlobPath(root)) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(hadoopConf)
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
        .flatMap(leaves)
    val files =
      if (fs.exists(root)) leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString) else Nil
    val summaries = Seq(
      ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
    val footerFile = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    footerFile.flatMap { f =>
      try {
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)
        Some(ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta), converter)
          .asNullable)
      } catch { case NonFatal(_) => None }
    }
  }
}
