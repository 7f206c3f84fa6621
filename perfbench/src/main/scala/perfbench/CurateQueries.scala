package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** A fixed list of `SparkEntry` gate queries over the generated tables,
  * each run to the `noop` sink. */
final class CurateQueries {
  /** Gate queries whose oracle is SQL over the tables and cheap for
    * DuckDB to run at this size (pinned-row oracles only hold on the
    * fixture data, so they cannot check a seeded corpus). */
  val queries: Seq[String] = Seq("sql_late_supplier_q21", "dedup_semantic_kept")

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Off-clock build and warm-up pass; its results are the ones the
    * reporter checks against the gate's oracle SQL in DuckDB. */
  def setup(c: Ctx, tables: String): Unit = {
    val missing = queries.filterNot(q =>
      SparkEntry.queries.contains(q) && SparkEntry.oracleSql.contains(q))
    require(missing.isEmpty, s"no query or oracle for ${missing.mkString(", ")}")
    queries.foreach { q =>
      c.tracer.span(s"warm.$q", "queries")(
        SparkEntry.queries(q)(c.spark, tables).coalesce(1).write
          .mode("overwrite").parquet(c.path("results", q)))
    }
    Files.writeString(Paths.get(c.work, "oracle_sql.json"),
      Json.write(queries.map(q => q -> SparkEntry.oracleSql(q)).toMap))
  }

  /** Untraced: construct and execute. Traced: the construction (and the
    * jobs it fires), forcing the physical plan, and the execution apart. */
  def timedQuery(c: Ctx, q: String, tables: String): Unit =
    c.op(s"q.$q") {
      if (!c.traced) noop(SparkEntry.queries(q)(c.spark, tables))
      else {
        val j0 = c.runtime.snapshot().jobs
        val (df, cms) = c.tracer.timed(s"construct.$q", "queries")(
          SparkEntry.queries(q)(c.spark, tables))
        c.layerSample(s"queries.$q.construct_s", cms / 1e3)
        c.layerSample(s"queries.$q.construct_jobs",
          (c.runtime.snapshot().jobs - j0).toDouble)
        val (_, pms) = c.tracer.timed(s"plan.$q", "queries")(
          df.queryExecution.executedPlan)
        c.layerSample(s"queries.$q.plan_s", pms / 1e3)
        val (_, ems) = c.tracer.timed(s"exec.$q", "operators")(noop(df))
        c.layerSample(s"queries.$q.exec_s", ems / 1e3)
      }
    }
}
