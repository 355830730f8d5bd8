package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.Footer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  InMemoryFileIndex}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

/** The steps of Spark's parquet read resolution, for a caller that
  * runs them on the driver over memoized footers and file statuses:
  * the footer reader, the schema merge, the relation's schema checks
  * and a local relation over internal rows are package-private to
  * Spark SQL. */
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

  /** A local frame of `schema` over `rows` already in Spark's internal
    * form, with no per-row conversion. */
  def localFrame(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    Dataset.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema),
      rows))
}
