package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4 split `Column` from catalyst `Expression` (columns now wrap
  * ColumnNodes); the official converters live in
  * `org.apache.spark.sql.classic.ExpressionUtils` but are `private[sql]`.
  * This tiny bridge — placed in the `org.apache.spark.sql` package for
  * access — is the one sanctioned way for a library to register custom
  * Catalyst expressions as Columns without forking Spark.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a function on a live session (sessionState is private[sql]). */
  def registerFunction(spark: SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(id, info, builder)

  /** A session that shares `spark`'s context and copies its state,
    * runtime confs included (`newSession()` would drop them), so confs
    * set on the copy never reach `spark` (`cloneSession` is private[sql]). */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** The schema Spark's Parquet inference reads from one file's footer,
    * under `spark`'s Parquet confs: the Spark schema the writer stored in
    * the footer, else the Parquet schema converted as inference converts it
    * (`ParquetFileFormat.mergeSchemasInParallel`, which runs a job to read
    * the footer). */
  def parquetFooterSchema(spark: SparkSession, path: String,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(new org.apache.hadoop.fs.Path(path), footer), converter)
  }
}
