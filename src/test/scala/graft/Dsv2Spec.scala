package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Attribute, GreaterThan,
  IsNotNull, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Connectors.JsonLinesSource

/** The `file` adaptor's pushdown, asserted at the PLAN level: the
  * `FileSourceScanExec` under `JsonLinesSource.read` carries the pushed
  * filters and the pruned read schema — not by string-matching explain
  * output. `MongoV2Spec` holds the same asserts for the DSv2 connector. */
class Dsv2Spec extends SparkSpec {

  private lazy val dir: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-dsv2").toString
    graft.core.Tables.table(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .repartition(3).write.json(s"$tmp/events")
    s"$tmp/events"
  }

  private val schema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def readFile: DataFrame =
    JsonLinesSource(dir, "events", Some(schema)).read(spark)

  /** The one file scan node of a plan (descending through AQE). */
  private def scanOf(df: DataFrame): FileSourceScanExec = {
    val base = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = base.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, base)
    scans.head
  }

  /** The filters the scan hands to the JSON reader (its `dataFilters`),
    * each matched as a comparison of a column with a literal. */
  private def pushedOf(df: DataFrame): Set[(String, String, Any)] =
    scanOf(df).dataFilters.map {
      case GreaterThan(a: Attribute, Literal(v, _)) => (a.name, ">", v)
      case LessThanOrEqual(a: Attribute, Literal(v, _)) => (a.name, "<=", v)
      case IsNotNull(a: Attribute) => (a.name, "is not null", null)
      case e => (e.sql, "", null)
    }.toSet

  /** Every row of the dir, filtered on the driver: no pushdown applies. */
  private def plainRows(keep: Row => Boolean): Set[Row] =
    spark.read.schema(schema).json(dir).collect().filter(keep).toSet

  test("filter pushdown is plan-visible and evaluated in the scan") {
    val df = readFile.filter(col("event_id") > 600L)
    val pushed = pushedOf(df)
    assert(pushed.contains(("event_id", ">", 600L)), pushed)
    assert(pushed.contains(("event_id", "is not null", null)), pushed)
    val got = df.select(schema.fieldNames.map(col).toSeq: _*).collect().toSet
    val expect = plainRows(r => !r.isNullAt(0) && r.getLong(0) > 600L)
    assert(got == expect && got.nonEmpty)
  }

  test("a contains predicate returns the same rows; user_id <= 50 pushes") {
    val df = readFile.filter(col("event_type").contains("ck") &&
      col("user_id") <= 50L)
    val pushed = pushedOf(df)
    assert(pushed.contains(("user_id", "<=", 50L)), pushed)
    val got = df.select(schema.fieldNames.map(col).toSeq: _*).collect().toSet
    val expect = plainRows(r => !r.isNullAt(1) && !r.isNullAt(2) &&
      r.getString(2).contains("ck") && r.getLong(1) <= 50L)
    assert(got == expect && got.nonEmpty)
  }

  test("column pruning reaches the scan's read schema") {
    val df = readFile.select("event_id", "value")
    assert(scanOf(df).requiredSchema.fieldNames.toSeq == Seq("event_id", "value"))
  }

  test("resumable scan = pushed GreaterThan (reference cursor semantics)") {
    val resumed = readFile.filter(col("event_id") > 500L)
      .select("event_id").orderBy("event_id")
    assert(pushedOf(resumed).contains(("event_id", ">", 500L)))
    // pruning composes with pushdown
    assert(scanOf(resumed).requiredSchema.fieldNames.toSeq == Seq("event_id"))
  }
}
