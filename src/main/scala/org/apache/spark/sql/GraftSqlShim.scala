package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType

/** Bridge between graft's custom Catalyst expressions and the public
  * Column API. Spark 4 made Column construction go through ColumnNode;
  * the classic converters live behind `private[sql]`, so this one-file
  * shim in the sql package is the supported-by-convention way for a
  * library to wrap its native expressions (same pattern frameworks like
  * connectors use).
  */
object GraftSqlShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The schema `spark.read.parquet(path)` infers, read on the driver.
    * Without schema merging, Spark's inference reads the footer of the
    * first data file in path order (names starting with `_` or `.` are
    * hidden) in a one-task job and converts it with the session's
    * parquet settings (`ParquetFileFormat.mergeSchemasInParallel`); this
    * does the same read and conversion without the job. None, so the
    * caller lets Spark infer, where inference does more than that: schema
    * merging on, a summary file (`_metadata`, `_common_metadata`), a
    * directory below `path` (partition discovery), no data file, or a
    * footer that does not read.
    */
  def parquetFooterSchema(spark: SparkSession, path: Path): Option[StructType] = {
    val conf = SessionStateHelper.getSqlConf(spark)
    if (conf.isParquetSchemaMergingEnabled) None
    else scala.util.Try {
      val hadoopConf = spark.sparkContext.hadoopConfiguration
      val fs = path.getFileSystem(hadoopConf)
      val root = fs.getFileStatus(path)
      val listing = if (root.isDirectory) fs.listStatus(path).toSeq else Seq(root)
      def name(f: FileStatus) = f.getPath.getName
      val summary = listing.exists(f =>
        name(f).startsWith("_metadata") || name(f).startsWith("_common_metadata"))
      val visible = listing.filterNot { f =>
        (name(f).startsWith("_") && !name(f).contains("=")) || name(f).startsWith(".") ||
          name(f).endsWith("._COPYING_")
      }
      val first =
        if (summary || visible.exists(_.isDirectory)) None
        else visible.sortBy(_.getPath.toString).headOption
      first.map { f =>
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
        val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, hadoopConf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer), converter)
      }
    }.toOption.flatten
  }
}
