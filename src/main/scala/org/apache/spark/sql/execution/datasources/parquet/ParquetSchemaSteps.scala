package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.Footer

import org.apache.spark.sql.types.StructType

/** The steps of Spark's parquet schema inference, for a caller that
  * runs them on the driver over memoized footers: the footer reader
  * and the schema merge are package-private to Spark SQL. */
object ParquetSchemaSteps {

  def footers(conf: Configuration, files: Seq[FileStatus]): Seq[Footer] =
    ParquetFileFormat.readParquetFootersInParallel(conf, files,
      ignoreCorruptFiles = false)

  def merge(left: StructType, right: StructType,
      caseSensitive: Boolean): StructType =
    left.merge(right, caseSensitive)
}
