package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.CopyOnWriteArrayList

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.sinks.EsBulkSink

/** Drives the ES bulk sink against a real in-JVM HTTP server speaking
  * the `_bulk` response format — the wire protocol itself is under test:
  * NDJSON framing, action/doc line pairing, flush thresholds, per-item
  * error surfacing. */
class EsSinkSpec extends SparkSpec {
  import spark.implicits._

  /** Records every _bulk body; responds per `mode`. */
  private class BulkServer {
    val bodies = new CopyOnWriteArrayList[String]()
    @volatile var mode: String = "ok" // ok | item_error | http_500
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/_bulk", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(),
          StandardCharsets.UTF_8)
        bodies.add(body)
        val nActions = body.linesIterator.count(l =>
          l.startsWith("{\"index\"") || l.startsWith("{\"update\"") ||
            l.startsWith("{\"delete\""))
        val resp = mode match {
          case "http_500" =>
            ex.sendResponseHeaders(500, -1); ex.close(); return
          case "item_error" =>
            val items = (0 until nActions).map { i =>
              if (i == 1)
                """{"index":{"_id":"bad","status":400,"error":{"type":"mapper_parsing_exception"}}}"""
              else """{"index":{"_id":"x","status":201}}"""
            }.mkString("[", ",", "]")
            s"""{"took":1,"errors":true,"items":$items}"""
          case _ =>
            val items = (0 until nActions)
              .map(_ => """{"index":{"_id":"x","status":201}}""")
              .mkString("[", ",", "]")
            s"""{"took":1,"errors":false,"items":$items}"""
        }
        val bytes = resp.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    // cluster-root version probe (determineVersion, elasticsearch.go:139)
    @volatile var versionJson: String =
      """{"name":"node-1","version":{"number":"5.6.16"}}"""
    @volatile var rootStatus: Int = 200
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (ex.getRequestURI.getPath != "/") {
          ex.sendResponseHeaders(404, -1); ex.close(); return
        }
        if (rootStatus != 200) {
          ex.sendResponseHeaders(rootStatus, -1); ex.close(); return
        }
        val bytes = versionJson.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.setExecutor(null)
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}"
    def stop(): Unit = server.stop(0)
    def actionLines: Seq[JValue] = {
      import scala.jdk.CollectionConverters._
      bodies.asScala.toSeq.flatMap(_.linesIterator).filter(_.nonEmpty)
        .map(JsonMethods.parse(_))
    }
  }

  private def withServer(f: BulkServer => Unit): Unit = {
    val s = new BulkServer
    try f(s) finally s.stop()
  }

  test("bulk index: NDJSON framing, ids, docs, flush at bulkActions") {
    withServer { srv =>
      val df = (1 to 10).map(i => (i.toLong, s"doc $i", i * 2))
        .toDF("id", "text", "n").repartition(1)
      EsBulkSink(srv.url, "corpus", "id", bulkActions = 4).write(df)
      // 10 actions, threshold 4 → 3 POSTs (4+4+2)
      assert(srv.bodies.size == 3)
      val lines = srv.actionLines
      assert(lines.size == 20) // action + doc line per row
      val actions = lines.grouped(2).map(_.head).toSeq
      assert(actions.forall(a => (a \ "index" \ "_index") == JString("corpus")))
      val ids = actions.map(a => (a \ "index" \ "_id").values.toString).toSet
      assert(ids == (1 to 10).map(_.toString).toSet)
      val docs = lines.grouped(2).map(_.last).toSeq
      // doc body excludes the id column
      assert(docs.forall(d => (d \ "id") == JNothing))
      assert(docs.exists(d => (d \ "text") == JString("doc 3")))
    }
  }

  test("flush by bytes: oversized docs split into multiple bulks") {
    withServer { srv =>
      val big = "x" * 4000
      val df = (1 to 6).map(i => (i.toLong, big)).toDF("id", "text")
        .repartition(1)
      EsBulkSink(srv.url, "corpus", "id", bulkActions = 1000,
        bulkBytes = 10000).write(df)
      assert(srv.bodies.size >= 2) // ~4 KB docs, 10 KB cap → ≥2 POSTs
      assert(srv.actionLines.size == 12)
    }
  }

  test("CDC ops map to index/update/delete; delete has no doc line") {
    withServer { srv =>
      val df = Seq(
        (1L, "a", "insert"), (1L, "b", "update"), (2L, "c", "delete"))
        .toDF("id", "text", "op").repartition(1)
      EsBulkSink(srv.url, "corpus", "id", opCol = Some("op")).write(df)
      val lines = srv.actionLines
      // 2 action+doc pairs + 1 bare delete action = 5 lines
      assert(lines.size == 5)
      assert(lines.count(l => (l \ "delete") != JNothing) == 1)
      assert(lines.count(l => (l \ "update") != JNothing) == 1)
      // update doc is wrapped in {"doc": ...}
      assert(lines.exists(l => (l \ "doc" \ "text") == JString("b")))
    }
  }

  test("an enveloped frame indexes its document, not the envelope") {
    withServer { srv =>
      val df = Seq(("insert", 5L, "db.t", "sync", 1L, 1L, "a"),
          ("update", 6L, "db.t", "sync", 2L, 2L, "b"))
        .toDF("op", "ts", "ns", "__mode", "__seq", "id", "text")
        .repartition(1)
      EsBulkSink(srv.url, "corpus", "id", opCol = Some("op")).write(df)
      val docs = srv.actionLines.filter(l =>
        (l \ "index") == JNothing && (l \ "update") == JNothing)
        .map(l => if ((l \ "doc") != JNothing) l \ "doc" else l)
      assert(docs.size == 2)
      docs.foreach { d =>
        val keys = d.asInstanceOf[JObject].obj.map(_._1).toSet
        assert(keys == Set("text"), keys)
      }
    }
  }

  test("per-item errors and HTTP failures fail the job loudly") {
    withServer { srv =>
      val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text")
        .repartition(1)
      srv.mode = "item_error"
      val e1 = intercept[org.apache.spark.SparkException] {
        EsBulkSink(srv.url, "corpus", "id").write(df)
      }
      assert(e1.getMessage.contains("failed items") ||
        Option(e1.getCause).exists(_.getMessage.contains("failed items")))
      srv.mode = "http_500"
      val e2 = intercept[org.apache.spark.SparkException] {
        EsBulkSink(srv.url, "corpus", "id").write(df)
      }
      assert(e2.getMessage.contains("HTTP 500") ||
        Option(e2.getCause).exists(_.getMessage.contains("HTTP 500")))
    }
  }

  test("a delete flushes pending writes first (writer.go:98-101)") {
    withServer { srv =>
      // thresholds far away: the ONLY flush boundaries are the delete's
      // pre-flush and the end-of-partition close
      val df = Seq(
        (1L, "a", "insert"), (2L, "b", "insert"),
        (1L, "", "delete"), (3L, "c", "insert"))
        .toDF("id", "text", "op").coalesce(1)
      EsBulkSink(srv.url, "corpus", "id", opCol = Some("op"),
        bulkActions = 100).write(df)
      assert(srv.bodies.size == 2, srv.bodies)
      val first = srv.bodies.get(0).linesIterator.filter(_.nonEmpty).toSeq
      val second = srv.bodies.get(1).linesIterator.filter(_.nonEmpty).toSeq
      // bulk 1: the two buffered inserts, flushed BY the delete
      assert(first.count(_.startsWith("{\"index\"")) == 2, first)
      assert(!first.exists(_.startsWith("{\"delete\"")), first)
      // bulk 2: the delete then the trailing insert
      assert(second.head.startsWith("{\"delete\""), second)
      assert(second.count(_.startsWith("{\"index\"")) == 1, second)
    }
  }

  test("parent routing (legacy v5): hoisted from doc; routing on deletes too") {
    withServer { srv =>
      val df = Seq(
        (1L, "p9", "a", "insert"), (2L, "p9", "b", "update"),
        (3L, "p7", "", "delete"))
        .toDF("id", "pid", "text", "op").coalesce(1)
      EsBulkSink(srv.url, "corpus", "id", opCol = Some("op"),
        parentCol = Some("pid"), legacyParent = true).write(df)
      val lines = srv.actionLines
      val idxAction = lines.find(l => (l \ "index") != JNothing).get \ "index"
      assert((idxAction \ "parent") == JString("p9"), idxAction)
      assert((idxAction \ "routing") == JString("p9"), idxAction)
      val updAction = lines.find(l => (l \ "update") != JNothing).get \ "update"
      assert((updAction \ "parent") == JString("p9"), updAction)
      assert((updAction \ "routing") == JString("p9"), updAction)
      // delete: routing only, no parent (`writer.go:103-106`)
      val delAction = lines.find(l => (l \ "delete") != JNothing).get \ "delete"
      assert((delAction \ "routing") == JString("p7"), delAction)
      assert((delAction \ "parent") == JNothing, delAction)
      // the parent id is hoisted OUT of the document body
      val docLine = lines.find(l => (l \ "text") == JString("a")).get
      assert((docLine \ "pid") == JNothing, docLine)
    }
  }

  test("parent routing default (ES 6+): routing only, no parent key") {
    withServer { srv =>
      val df = Seq(
        (1L, "p9", "a", "insert"), (2L, "p9", "b", "update"),
        (3L, "p7", "", "delete"))
        .toDF("id", "pid", "text", "op").coalesce(1)
      EsBulkSink(srv.url, "corpus", "id", opCol = Some("op"),
        parentCol = Some("pid")).write(df)
      val lines = srv.actionLines
      // ES 6+ rejects the whole _bulk on "unknown parameter [parent]" —
      // the modern default must never emit it
      for (verb <- Seq("index", "update", "delete")) {
        val action = lines.find(l => (l \ verb) != JNothing).get \ verb
        assert((action \ "parent") == JNothing, action)
        assert((action \ "routing") != JNothing, action)
      }
    }
  }

  test("version sniff picks the writer line (elasticsearch.go:84-137)") {
    import graft.sinks.EsVersionRegistry
    withServer { srv =>
      // 5.x → legacy line: parent emitted when parentCol is set
      srv.versionJson = """{"name":"n","version":{"number":"5.6.16"}}"""
      val v5 = EsVersionRegistry.sinkFor(srv.url, "corpus", "id",
        opCol = Some("op"), parentCol = Some("pid"))
      assert(v5.legacyParent)
      v5.write(Seq((1L, "p9", "a", "insert"))
        .toDF("id", "pid", "text", "op").coalesce(1))
      val idx5 = srv.actionLines.find(l => (l \ "index") != JNothing).get \ "index"
      assert((idx5 \ "parent") == JString("p9"), idx5)
      srv.bodies.clear()
      // 7.x → modern line: routing only
      srv.versionJson = """{"name":"n","version":{"number":"7.17.0"}}"""
      val v7 = EsVersionRegistry.sinkFor(srv.url, "corpus", "id",
        opCol = Some("op"), parentCol = Some("pid"))
      assert(!v7.legacyParent)
      v7.write(Seq((1L, "p9", "a", "insert"))
        .toDF("id", "pid", "text", "op").coalesce(1))
      val idx7 = srv.actionLines.find(l => (l \ "index") != JNothing).get \ "index"
      assert((idx7 \ "parent") == JNothing, idx7)
      assert((idx7 \ "routing") == JString("p9"), idx7)
      // constraint floor: < 1.4 is "unsupported client"
      srv.versionJson = """{"name":"n","version":{"number":"1.2.0"}}"""
      val e1 = intercept[EsVersionRegistry.VersionError] {
        EsVersionRegistry.sinkFor(srv.url, "i", "id")
      }
      assert(e1.getMessage.contains("unsupported client"))
      // probe failure shapes (determineVersion, elasticsearch.go:160-173)
      srv.versionJson = """{"name":"n"}"""
      val e2 = intercept[EsVersionRegistry.VersionError] {
        EsVersionRegistry.sinkFor(srv.url, "i", "id")
      }
      assert(e2.getMessage.contains("missing version"))
      srv.versionJson = "not json"
      val e3 = intercept[EsVersionRegistry.VersionError] {
        EsVersionRegistry.sinkFor(srv.url, "i", "id")
      }
      assert(e3.getMessage.contains("malformed JSON"))
      srv.rootStatus = 503
      val e4 = intercept[EsVersionRegistry.VersionError] {
        EsVersionRegistry.sinkFor(srv.url, "i", "id")
      }
      assert(e4.getMessage.contains("bad status code"))
      srv.rootStatus = 200
      // registry row: sniff_version routes through the registry
      srv.versionJson = """{"name":"n","version":{"number":"2.4.6"}}"""
      val sniffed = graft.pipeline.Registry.sinks("elasticsearch")(Map(
        "uri" -> srv.url, "index" -> "reg", "id_col" -> "id",
        "parent_col" -> "pid", "sniff_version" -> true))
      assert(sniffed.asInstanceOf[graft.sinks.EsBulkSink].legacyParent)
    }
  }

  test("registry wires the elasticsearch sink with thresholds") {
    withServer { srv =>
      val sink = graft.pipeline.Registry.sinks("elasticsearch")(Map(
        "uri" -> srv.url, "index" -> "reg", "id_col" -> "id",
        "bulk_actions" -> 2))
      sink.write(Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "v")
        .repartition(1))
      assert(srv.bodies.size == 2)
      assert(srv.actionLines.exists(l =>
        (l \ "index" \ "_index") == JString("reg")))
    }
  }
}
