package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge to the package-private pieces of Spark's parquet schema
  * inference, so `graft.Tables.readParquet` can resolve a table's schema on
  * the driver exactly as Spark's one-task inference job would: the same
  * hidden-file rule as Spark's file listing, the same session Hadoop conf,
  * and Spark's own footer reader and footer→schema converter (built from
  * the session conf, so `binaryAsString`, `int96AsTimestamp`,
  * `inferTimestampNTZ` and `nanosAsLong` apply unchanged). Like
  * [[org.apache.spark.sql.GraftColumnBridge]], it only forwards.
  */
object GraftParquetBridge {
  def hadoopConf(spark: SparkSession): Configuration = SessionStateHelper.getHadoopConf(spark)

  def mergeSchema(spark: SparkSession): Boolean =
    SessionStateHelper.getSqlConf(spark).isParquetSchemaMergingEnabled

  def isGlob(path: Path): Boolean = SparkHadoopUtil.get.isGlobPath(path)

  /** Names Spark's file listing skips (`_x`, `.x`, `x._COPYING_`); keeps
    * `k=v` partition directories and `_metadata`/`_common_metadata`.
    */
  def isHidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** The schema Spark infers from `file`'s footer. Throws if the footer
    * cannot be read.
    */
  def footerSchema(spark: SparkSession, file: FileStatus): Option[StructType] =
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(
        hadoopConf(spark), Seq(file), ignoreCorruptFiles = false),
      spark)
}
