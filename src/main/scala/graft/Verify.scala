package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val spark = graft.tools.Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Queries are independent (separate output dirs, thread-safe session;
    // the SqlSurface temp views are same-name-same-definition per run) —
    // run them on a small pool so the local[n] cores stay busy while any
    // one query sits in planning/small-job scheduling.
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "6").toInt
    // SPARK_GRAFT_VERIFY_ONLY=a,b,c dumps a subset — targeted re-checks
    // without the full 10-minute sweep
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = only match {
      case Some(names) => SparkEntry.queries.filter(q => names(q._1))
      case None => SparkEntry.queries
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    val done = new java.util.concurrent.CountDownLatch(queries.size)
    queries.foreach { case (name, fn) =>
      pool.execute(() => {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        } finally done.countDown()
      })
    }
    done.await()
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
