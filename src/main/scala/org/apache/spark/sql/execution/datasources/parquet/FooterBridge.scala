package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Spark keeps its driver-side parquet footer read `private[parquet]`;
  * this bridge re-exports it, the same pattern as
  * `org.apache.spark.sql.graft.ColumnBridge`. `schemaOf` returns the
  * schema Spark's parquet source infers from `file` (its own row
  * metadata first, else the footer converted under the session's
  * parquet settings), without the one-task job that inference runs. */
object FooterBridge {
  def schemaOf(spark: SparkSession, file: FileStatus): Option[StructType] =
    ParquetFileFormat.readSchema(ParquetFileFormat.readParquetFootersInParallel(
      spark.sessionState.newHadoopConf(), Seq(file),
      spark.sessionState.conf.ignoreCorruptFiles), spark)
}
