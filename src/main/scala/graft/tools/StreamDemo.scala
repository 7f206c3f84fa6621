package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.StatefulSessionize

/** Runnable streaming demo: stateful gap-sessionization over a file-backed
  * event stream. usage: runMain graft.tools.StreamDemo [sfDir] [gapSeconds]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val gap = args.lift(1).map(_.toLong).getOrElse(1800L)
    val spark = Sessions.local("graft-stream-demo")

    val tmp = java.nio.file.Files.createTempDirectory("graft-sdemo").toString
    val ev = graft.core.Tables.table(spark, sfDir, "events")
      .select("user_id", "ts", "event_id", "value")
    ev.filter(col("event_id") < 800).coalesce(1)
      .write.mode("append").json(s"$tmp/in")
    Thread.sleep(1100)
    // far-future sentinel advances the watermark so all real sessions close
    ev.select(col("user_id")).distinct()
      .withColumn("ts", lit("2030-01-01 00:00:00").cast("timestamp"))
      .withColumn("event_id", lit(999999L) + col("user_id"))
      .withColumn("value", lit(0.0))
      .coalesce(1).write.mode("append").json(s"$tmp/in")

    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_id", LongType), StructField("value", DoubleType)))
    import StatefulSessionize._
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(s"$tmp/in").as[Ev](evEnc)
    val q = StatefulSessionize.sessions(stream, gap)
      .writeStream.outputMode("append")
      .format("memory").queryName("sdemo")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    q.awaitTermination(180000)
    val closed = spark.table("sdemo")
      .filter(col("session_start") < lit("2029-01-01").cast("timestamp"))
    println(s"[stream-demo] gap=${gap}s closed sessions: ${closed.count()}")
    closed.orderBy(col("n_events").desc).show(5, truncate = false)
    spark.stop()
  }
}
