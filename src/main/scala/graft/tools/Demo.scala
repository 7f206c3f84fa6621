package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.Transforms
import graft.multimodal.Multimodal
import graft.operators.Similarity
import graft.pipeline.Pipeline
import graft.sources.Connectors._

/** End-to-end demo CLI: builds a file→file pipeline through the public DSL
  * and runs the multimodal→ANN flow. The runnable analogue of
  * `transporter test` + a smoke of the extension operators.
  *
  * usage: runMain graft.tools.Demo [sfDir]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.local("graft-demo")

    // pipeline DSL: multi-table source, fan-out to two sinks
    val tmp = java.nio.file.Files.createTempDirectory("graft-demo").toString
    val p = Pipeline.builder("demo")
      .source("fixtures", MultiTableSource(sfDir, Seq("region", "nation")))
      .transform("rename", Transforms.rename(Map("r_name" -> "name",
        "n_name" -> "name2")))
      .save("json-out", JsonLinesSink(s"$tmp/out"), ns = "region")
      .save("parquet-out", ParquetSink(s"$tmp/out2", partitionByNs = true))
      .build()
    print(p.describe)
    p.run(spark)
    println(s"[demo] json-out rows: ${spark.read.json(s"$tmp/out").count()}")
    println(s"[demo] parquet-out rows: ${spark.read.parquet(s"$tmp/out2").count()}")

    // multimodal → feature extraction → ANN
    val media = Multimodal.syntheticMedia(spark,
      spark.range(50).toDF("doc_id"), "doc_id")
    val feats = Multimodal.extractFeatures(media, dim = 16).toDF()
      .select(col("media_id").as("vec_id"), col("features").as("embedding"))
    val knn = Similarity.bruteForceTopK(feats, feats.limit(3),
      "vec_id", "embedding", 2)
    println(s"[demo] knn rows: ${knn.count()}")
    spark.stop()
  }
}
