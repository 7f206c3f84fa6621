package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.pipeline.{PipelineSpec, Registry, SinkNode}
import graft.sources.Connectors.MemorySink

/** The one change-log reader (`sources.ChangeLog`) and the one document
  * boundary (`Envelope.unwrap`), each driven through the registry the
  * way a config pipeline drives them. */
class ChangeLogSpec extends SparkSpec {

  private def log(files: Seq[String]*): String = {
    val dir = Files.createTempDirectory("graft-changelog")
    files.zipWithIndex.foreach { case (lines, i) =>
      Files.write(dir.resolve(f"$i%03d.txt"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    dir.toString
  }

  // `id` keys every document sink: rethink's primary key is literally
  // `id`, the mongodb sink hoists it to `_id`
  private val binlogColumns = Map("db.recipes" -> Seq(
    Seq("id", "int"), Seq("name", "varchar")))
  private def binlog(uri: String) = Map("uri" -> uri,
    "ns" -> "^db\\.recipes$", "columns" -> binlogColumns)
  private val binlogLines = Seq(
    Seq("""{"type":"WRITE_ROWS_EVENTv2","schema":"db","table":"recipes","pos":100,"ts":1700000010,"rows":[["1","Tacos"],["2","Soup"]]}""",
      """{"type":"WRITE_ROWS_EVENTv2","schema":"db","table":"other","pos":150,"ts":1700000010,"rows":[["9","Pie"]]}"""),
    Seq("""{"type":"UPDATE_ROWS_EVENTv2","schema":"db","table":"recipes","pos":200,"ts":1700000011,"rows":[["1","Tacos"],["1","Nachos"]]}""",
      """{"type":"WRITE_ROWS_EVENTv2","schema":"db","table":"recipes","pos":300,"ts":1700000012,"rows":[["3","Stew"]]}"""))

  /** (adaptor, params) per tail source, over a fixture log of two files. */
  private def tails: Seq[(String, String, Map[String, Any])] = {
    val queues = Files.createTempDirectory("graft-changelog-q")
    Seq("orders" -> Seq("""{"id":1,"v":"a"}""", "not json", """{"id":2,"v":"b"}"""),
        "users" -> Seq("""{"id":9,"v":"z"}""")).foreach { case (q, lines) =>
      Files.createDirectories(queues.resolve(q))
      Files.write(queues.resolve(q).resolve("m0.txt"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    Seq(
      ("postgres-cdc", "postgres-cdc", Map("ns" -> "^public\\.", "uri" -> log(
        Seq("BEGIN 1",
          "table public.users: INSERT: id[integer]:1 name[text]:'ann'",
          "table audit.log: INSERT: id[integer]:99", "COMMIT 1"),
        Seq("table public.users: UPDATE: id[integer]:1 name[text]:'an''n'",
          "table public.users: DELETE: id[integer]:1")))),
      ("mongodb-oplog", "mongodb-oplog", Map("ns" -> "^db\\.users$",
        "uri" -> log(
          Seq("""{"ts":{"$timestamp":{"t":1700000010,"i":1}},"h":1,"v":2,"op":"i","ns":"db.users","o":{"_id":1,"name":"ann"}}""",
            """{"ts":{"$timestamp":{"t":1700000010,"i":2}},"h":1,"v":2,"op":"n","ns":"","o":{}}"""),
          Seq("""{"ts":{"$timestamp":{"t":1700000011,"i":1}},"h":1,"v":2,"op":"u","ns":"db.users","o":{"$set":{"name":"bo"}},"o2":{"_id":1}}""",
            """{"ts":{"$timestamp":{"t":1700000012,"i":1}},"h":1,"v":2,"op":"d","ns":"db.users","o":{"_id":1}}""")))),
      ("mysql-binlog", "mysql-binlog", binlog(log(binlogLines: _*))),
      ("mysql-binlog decode_table", "mysql-binlog",
        binlog(log(binlogLines: _*)) + ("decode_table" -> "db.recipes")),
      ("rabbitmq", "rabbitmq", Map("uri" -> queues.toString)))
  }

  for ((label, adaptor, params) <- tails)
    test(s"LogSource read == runStream drain: $label") {
      val drained = Registry.sources(adaptor)(params).read(spark)
      val mem = new MemorySink
      val ckpt = Files.createTempDirectory("graft-changelog-ck").toString
      PipelineSpec(label, Registry.sources(adaptor)(params), adaptor,
        Seq(SinkNode("mem", ".*", Nil, mem)))
        .runStream(spark, ckpt).awaitTermination()
      val rows = (rs: Seq[org.apache.spark.sql.Row]) =>
        rs.map(_.toSeq.mkString("|")).sorted
      val read = drained.collect().toSeq
      assert(read.nonEmpty)
      assert(mem.rows.head.schema.fieldNames.toSeq == drained.columns.toSeq)
      assert(rows(mem.rows) == rows(read))
    }

  /** Top-level field names of every JSON-lines document under `dir`. */
  private def storedFields(dir: String): Seq[String] = {
    val files = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("part-")).toList
    files.flatMap((p: Path) => Files.readAllLines(p).asScala)
      .filter(_.nonEmpty).flatMap { line =>
        org.json4s.jackson.JsonMethods.parse(line) match {
          case org.json4s.JObject(fs) => fs.map(_._1)
          case other => fail(s"not a document: $other")
        }
      }
  }

  // (sink adaptor, params, fields of the stored documents)
  private def documentSinks: Seq[(String, Map[String, Any], () => Seq[String])] = {
    val rethink = Files.createTempDirectory("graft-leak-rt").toString
    val queues = Files.createTempDirectory("graft-leak-q").toString
    val mongo = Files.createTempDirectory("graft-leak-mongo").toString
    val url = s"jdbc:derby:memory:leak${System.nanoTime()};create=true"
    Seq(
      ("rethinkdb", Map("uri" -> rethink, "table" -> "recipes",
        "order_by" -> "__seq"), () => storedFields(rethink)),
      ("rabbitmq", Map("uri" -> queues), () => storedFields(queues)),
      ("mongodb", Map("uri" -> mongo, "collection" -> "recipes",
        "id_col" -> "id"), () => storedFields(mongo)),
      ("jdbc", Map("uri" -> url, "table" -> "recipes", "mode" -> "overwrite"),
        () => spark.read.format("jdbc").option("url", url)
          .option("dbtable", "recipes").load().columns.toSeq))
  }

  for ((adaptor, params, fields) <- documentSinks)
    test(s"document boundary: no envelope metadata stored by $adaptor") {
      val batch = Registry.sources("mysql-binlog")(
        binlog(log(binlogLines: _*)) + ("decode_table" -> "db.recipes"))
        .read(spark)
      assert(batch.columns.toSeq.contains(graft.core.Envelope.SeqCol))
      Registry.sinks(adaptor)(params).write(batch)
      val stored = fields()
      assert(stored.exists(_.equalsIgnoreCase("name")), stored)
      assert(!stored.exists(_.startsWith("__")), stored)
    }
}
