package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.Footer

import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  InMemoryFileIndex}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

/** The steps of Spark's parquet read resolution, for a caller that
  * runs them on the driver over memoized footers and file statuses:
  * the footer reader, the schema merge and the relation's schema
  * checks are package-private to Spark SQL. */
object ParquetSchemaSteps {

  def footers(conf: Configuration, files: Seq[FileStatus]): Seq[Footer] =
    ParquetFileFormat.readParquetFootersInParallel(conf, files,
      ignoreCorruptFiles = false)

  def merge(left: StructType, right: StructType,
      caseSensitive: Boolean): StructType =
    left.merge(right, caseSensitive)

  /** The relation `spark.read.schema(schema).parquet(...)` resolves to
    * over `index`: partition columns as the index infers them, the
    * rest of `schema` as nullable data columns, no options. */
  def relation(spark: SparkSession, index: InMemoryFileIndex,
      schema: StructType): HadoopFsRelation = {
    val resolver = spark.sessionState.conf.resolver
    val parts = index.partitionSchema
    val data = StructType(schema.filterNot(f =>
      parts.exists(p => resolver(p.name, f.name)))).asNullable
    SchemaUtils.checkSchemaColumnNameDuplication(data, resolver)
    SchemaUtils.checkSchemaColumnNameDuplication(parts, resolver)
    HadoopFsRelation(index, parts, data, None, new ParquetFileFormat,
      Map.empty)(spark)
  }
}
