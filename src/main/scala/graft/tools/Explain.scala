package graft.tools

/** Plan inspector for the gate-query surface:
  *
  *   sbt "runMain graft.tools.Explain q1_pricing [dedup_minhash_pairs …]"
  *
  * prints each named query's `explain("formatted")` over
  * `SPARK_GRAFT_SF_DIR` (default sf0.001) — the audit loop the scale
  * work runs on (is the filter pushed, is the small side broadcast, how
  * wide are the WholeStageCodegen spans) without writing a scratch
  * main. `all` lists every registered query name.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val spark = Sessions.local("graft-explain")
    try {
      val names = graft.SparkEntry.queries.keys.toSeq.sorted
      if (args.isEmpty || args.sameElements(Array("all"))) {
        println(s"${names.size} queries:")
        names.grouped(4).foreach(g => println("  " + g.mkString(", ")))
        return
      }
      args.foreach { name =>
        graft.SparkEntry.queries.get(name) match {
          case Some(q) =>
            println(s"\n==== $name ($sfDir) ====")
            q(spark, sfDir).explain("formatted")
          case None =>
            System.err.println(
              s"unknown query '$name' — run with no args for the list")
        }
      }
    } finally spark.stop()
  }
}
