package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression and LogicalPlan → DataFrame bridges. Spark 4 moved
  * these behind `private[sql]` members of the classic module; a one-file
  * package-qualified shim is the standard way for extension libraries to
  * construct Columns from custom Expressions and DataFrames from custom
  * LogicalPlans.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** DataFrame over an already-computed InternalRow RDD — the lineage
    * fence iterative algorithms need: the new DataFrame's logical plan is
    * a single scan node, so per-round plan size stays constant instead of
    * multiplying (each star round references its input several times;
    * without a fence the tree grows exponentially). */
  def fromInternalRows(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Register a temp SQL function backed by an Expression builder on a
    * live session (FunctionRegistry is private[sql]). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** A parquet footer's data schema as Spark's schema inference reads
    * it (its footer reader is private to the parquet package): the
    * schema a Spark writer stored in the footer, else the parquet schema
    * converted under the session's parquet confs. */
  def parquetSchema(spark: SparkSession,
      meta: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetReadSupport, ParquetToSparkSchemaConverter}
    import org.apache.spark.sql.types.{DataType, StructType}
    val fm = meta.getFileMetaData
    Option(fm.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption)
      .collect { case s: StructType => s }
      .getOrElse(new ParquetToSparkSchemaConverter(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .sessionState.conf).convert(fm.getSchema))
  }

  /** The physical InternalRow RDD of a DataFrame (lazy — no job). */
  def internalRdd(df: DataFrame): org.apache.spark.rdd.RDD[
      org.apache.spark.sql.catalyst.InternalRow] =
    df.queryExecution.toRdd
}
