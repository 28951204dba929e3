package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge to `ParquetFileFormat`'s package-private footer reader. */
object GraftParquetShim {

  /** The Spark schema a parquet read reports for `file`, from its
    * footer, read on the driver — `spark.read.parquet` infers the same
    * schema with a Spark job.
    */
  def footerSchema(spark: SparkSession, file: FileStatus): StructType =
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(
        spark.sparkContext.hadoopConfiguration, Seq(file), ignoreCorruptFiles = false),
      spark).get
}
