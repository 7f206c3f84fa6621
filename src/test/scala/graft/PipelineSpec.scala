package graft

import org.apache.spark.sql.functions._
import graft.core.Envelope
import graft.functions.Transforms
import graft.pipeline.Pipeline
import graft.sources.Connectors._

class PipelineSpec extends SparkSpec {

  test("file-to-file minimum slice (TestFileToFile analogue)") {
    // mirror of pipeline/pipeline_integration_test.go:32-133
    val tmp = java.nio.file.Files.createTempDirectory("graft-p2p").toString
    val in = s"$tmp/in"
    spark.range(10).selectExpr("id AS _id", "concat('doc-', id) AS test")
      .write.mode("overwrite").json(in)
    val sink = new MemorySink
    val p = Pipeline.builder("filecopy")
      .source("src", JsonLinesSource(in, "file.in"))
      .transform("pick", Transforms.pick(Seq("_id", "test")))
      .save("out", sink)
      .build()
    p.run(spark)
    assert(sink.rows.size == 10)
    assert(sink.rows.head.schema.fieldNames.toSeq ==
      Seq("op", "ts", "ns", "_id", "test"))
  }

  test("fan-out: one source, two sinks with independent transform chains") {
    val sinkA = new MemorySink
    val sinkB = new MemorySink
    val p = Pipeline.builder("fanout")
      .source("fixtures", MultiTableSource(sf, Seq("region", "nation")))
      // reference semantics: a transform's ns filter SKIPS the transform
      // for other namespaces — it does not drop them (node.go:596-619)
      .transform("geo-rename", Transforms.rename(Map("r_name" -> "geo")),
        ns = "region")
      .save("a", sinkA)
      .transform("rename", Transforms.rename(Map("n_name" -> "name")))
      .save("b", sinkB, ns = "nation")
      .build()
    p.run(spark)
    assert(sinkA.rows.size == 30)  // nations pass through untransformed
    val aByNs = sinkA.rows.groupBy(_.getAs[String]("ns"))
    assert(aByNs("region").forall(_.getAs[String]("geo") != null))
    assert(aByNs("nation").forall(r =>
      r.isNullAt(r.fieldIndex("geo")) && r.getAs[String]("n_name") != null))
    assert(sinkB.rows.size == 25)  // nations only (SINK ns filter drops)
    assert(sinkB.rows.head.schema.fieldNames.contains("name"))
  }

  test("command messages bypass transforms (node.go:597)") {
    import org.apache.spark.sql.functions._
    val sink = new MemorySink
    val p = Pipeline.builder("cmd")
      .source("fixtures", MultiTableSource(sf, Seq("region")))
      .transform("drop-all", (df: org.apache.spark.sql.DataFrame) =>
        df.filter(lit(false)))
      .save("out", sink)
      .build()
    // rewrite two rows to op=command before the transform by injecting a
    // pre-transform via a custom source wrapper
    val src = MultiTableSource(sf, Seq("region")).read(spark)
      .withColumn("op", when(col("r_regionkey") < 2, "command")
        .otherwise(col("op")))
    val compiled = p.copy(source = new graft.sources.Connectors.Source {
      def read(s: org.apache.spark.sql.SparkSession) = src
    }).compile(spark)("out")
    // drop-all removes every non-command row; the 2 commands survive
    assert(compiled.count() == 2)
    assert(compiled.select("op").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("command"))
  }

  test("pick, rename and omit narrow a snapshot sink's columns") {
    val p = Pipeline.builder("narrow")
      .source("fixtures", MultiTableSource(sf, Seq("nation")))
      .transform("pick", Transforms.pick(Seq("n_nationkey", "n_name")))
      .save("picked", new MemorySink)
      .transform("rename", Transforms.rename(Map("n_name" -> "name")))
      .save("renamed", new MemorySink)
      .transform("omit", Transforms.omit(Seq("n_regionkey")))
      .save("omitted", new MemorySink)
      .build()
    val out = p.compile(spark)
    val env = Seq("op", "ts", "ns")
    assert(out("picked").columns.toSeq == env ++ Seq("n_nationkey", "n_name"))
    assert(out("renamed").columns.toSeq ==
      env ++ Seq("n_nationkey", "name", "n_regionkey"))
    assert(out("omitted").columns.toSeq == env ++ Seq("n_nationkey", "n_name"))
    assert(out("renamed").count() == 25)
  }

  test("run narrows each sink's columns when sibling sinks share the source") {
    // two sinks = the source is persisted before the sinks compile; the
    // narrowing must not depend on that
    val picked = new MemorySink
    val renamed = new MemorySink
    Pipeline.builder("narrow-run")
      .source("fixtures", MultiTableSource(sf, Seq("nation")))
      .transform("pick", Transforms.pick(Seq("n_nationkey", "n_name")))
      .save("picked", picked)
      .transform("rename", Transforms.rename(Map("n_name" -> "name")))
      .save("renamed", renamed)
      .build()
      .run(spark)
    val env = Seq("op", "ts", "ns")
    assert(picked.rows.size == 25 && renamed.rows.size == 25)
    assert(picked.rows.head.schema.fieldNames.toSeq ==
      env ++ Seq("n_nationkey", "n_name"))
    assert(renamed.rows.head.schema.fieldNames.toSeq ==
      env ++ Seq("n_nationkey", "name", "n_regionkey"))
  }

  test("run writes every sink at once, each with the caller's session, " +
      "local properties and job tags") {
    import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
    // each sink waits for the other to start: a serial fan-out times out
    val both = new CountDownLatch(2)
    val seen = new ConcurrentHashMap[String, String]()
    final class Meeting(name: String) extends Sink {
      def write(df: org.apache.spark.sql.DataFrame): Unit = {
        df.count()
        val sc = df.sparkSession.sparkContext
        seen.put(name, Seq(
          org.apache.spark.sql.SparkSession.getActiveSession.exists(_ eq spark),
          sc.getLocalProperty("graft.test.prop"),
          sc.getJobTags().contains("graft-test-tag")).mkString(","))
        both.countDown()
        assert(both.await(60, TimeUnit.SECONDS), s"$name's sibling never started")
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    sc.setLocalProperty("graft.test.prop", "p")
    sc.addJobTag("graft-test-tag")
    try Pipeline.builder("meet")
      .source("fixtures", MultiTableSource(sf, Seq("region")))
      .save("a", new Meeting("a"))
      .save("b", new Meeting("b"))
      .build().run(spark)
    finally {
      sc.setLocalProperty("graft.test.prop", null)
      sc.removeJobTag("graft-test-tag")
    }
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toMap == Map("a" -> "true,p,true", "b" -> "true,p,true"))
  }

  test("a failing sink fails the run only after its siblings have " +
      "finished; events keep node order") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val thrown = new CountDownLatch(1)
    val boom1 = new IllegalStateException("boom1")
    val boom2 = new IllegalArgumentException("boom2")
    val late = new MemorySink
    final class Failing(e: Exception, first: Boolean) extends Sink {
      def write(df: org.apache.spark.sql.DataFrame): Unit = {
        df.count()
        if (first) thrown.countDown()
        throw e
      }
    }
    // writes only once the first sink has thrown
    object Late extends Sink {
      def write(df: org.apache.spark.sql.DataFrame): Unit = {
        assert(thrown.await(60, TimeUnit.SECONDS), "the failing sink never ran")
        late.write(df)
      }
    }
    val em = new graft.events.Events.BufferingEmitter
    val spec = Pipeline.builder("fail")
      .source("fixtures", MultiTableSource(sf, Seq("region")))
      .save("boom1", new Failing(boom1, first = true))
      .save("late", Late)
      .save("boom2", new Failing(boom2, first = false))
      .build()
    val e = intercept[IllegalStateException](spec.run(spark, em))
    // the first failure in node order, unwrapped, the other suppressed
    assert(e eq boom1)
    assert(e.getSuppressed.toSeq == Seq(boom2))
    assert(late.rows.size == 5)
    assert(em.events.map(ev => (ev.name, ev.path, ev.records)) == Seq(
      ("boot", "", -1L), ("error", "fail/boom1", -1L),
      ("metrics", "fail/late", 5L), ("error", "fail/boom2", -1L),
      ("exit", "", -1L)))
    assert(em.ofKind("error").map(_.message) == Seq("boom1", "boom2"))
  }

  test("describe renders the node tree; build without sinks fails") {
    val d = Pipeline.builder("t")
      .source("s", MultiTableSource(sf, Seq("region")))
      .transform("f", identity)
      .save("k", new MemorySink)
      .build().describe
    assert(d.contains("Source: s") && d.contains("Sink: k") &&
      d.contains("Transform: f"))
    intercept[IllegalArgumentException] {
      Pipeline.builder("empty")
        .source("s", MultiTableSource(sf, Seq("region"))).build()
    }
  }

  test("csv and orc sources round-trip through the envelope") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fmt").toString
    val df = spark.range(7).selectExpr("id", "concat('n', id) AS name")
    df.write.option("header", "true").csv(s"$tmp/csv")
    df.write.orc(s"$tmp/orc")
    val c = CsvSource(s"$tmp/csv", "csv_ns").read(spark)
    val o = OrcSource(s"$tmp/orc", "orc_ns").read(spark)
    assert(c.count() == 7 && o.count() == 7)
    assert(c.columns.take(3).toSeq == Seq("op", "ts", "ns"))
    assert(o.select("ns").distinct().collect().head.getString(0) == "orc_ns")
    // ...and back out through the csv/orc SINKS
    CsvSink(s"$tmp/csv_out").write(graft.core.Envelope.unwrap(c))
    OrcSink(s"$tmp/orc_out").write(o)
    assert(spark.read.option("header", "true").csv(s"$tmp/csv_out").count() == 7)
    assert(spark.read.orc(s"$tmp/orc_out").count() == 7)
  }

  test("csv round-trip is content-exact for newline-bearing and " +
      "whitespace-padded text") {
    // Spark CSV defaults LOSE both shapes: write-side ignoreLeading/
    // TrailingWhiteSpace trim padded cells, and a non-multiLine read
    // splits quoted embedded newlines into broken rows. CsvSink/CsvSource
    // override all three, so sink→source is the identity on text.
    import spark.implicits._
    val rows = Seq(
      (1L, "plain"),
      (2L, "  leading and trailing pad  "),
      (3L, "line one\nline two\nline three"),
      (4L, "quote \" comma , and\nnewline"),
      (5L, "\ttab padded\t"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-csvrt").toString
    CsvSink(s"$tmp/out").write(rows.toDF("id", "text"))
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("id long, text string")
    val back = graft.core.Envelope.unwrap(
      CsvSource(s"$tmp/out", "csv", schema = Some(schema)).read(spark))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(back.toSeq == rows, back.mkString("; "))
  }

  test("resumable TableSource pushes id > last to the scan") {
    val df = TableSource(sf, "orders", Some("o_orderkey"), Some(1400L))
      .read(spark)
    assert(df.filter(col("o_orderkey") <= 1400).count() == 0)
    assert(df.count() > 0)
    // predicate must reach the parquet scan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(o_orderkey,1400)"), plan.take(2000))
  }
}
