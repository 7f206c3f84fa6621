package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.{ConfigLoader, PipelineSpec}
import graft.sources.Connectors.{EpochSink, Sink}

/** Times each call the pipeline makes into one of its sinks. */
final class TimedSink(name: String, inner: Sink, c: Ctx) extends EpochSink {
  def writeEpoch(df: DataFrame, epochId: Long): Unit = {
    val (_, ms) = c.tracer.timed(s"sink.$name", "sinks") {
      inner match {
        case es: EpochSink => es.writeEpoch(df, epochId)
        case s => s.write(df)
      }
    }
    c.layerSample(s"sinks.$name.call_ms", ms)
    c.sampleHeld()
  }
  override def write(df: DataFrame): Unit = {
    val (_, ms) = c.tracer.timed(s"sink.$name", "sinks")(inner.write(df))
    c.layerSample(s"sinks.$name.call_ms", ms)
    c.sampleHeld()
  }
}

/** transporter's lifecycle, repeated while the clock runs: a Copy of a
  * JSON-lines lineitem dump through skip → rename → pick to a parquet
  * sink and (a filtered subset) a Derby JDBC upsert sink, then a Sync
  * drain of a MySQL binlog change log through the `mode: stream` config
  * path into the same JDBC database and a maintained search index. */
final class SyncWorkload extends Workload {
  private var iteration = 0
  private val checks = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
  /** Noop passes over the scan and each sink's lineage in a breakdown;
    * the first is cold. */
  private val BreakdownRounds = 4

  private val renames =
    """{"l_orderkey": "orderkey", "l_linenumber": "linenumber",
      | "l_quantity": "quantity", "l_extendedprice": "extendedprice",
      | "l_discount": "discount", "l_returnflag": "returnflag",
      | "l_shipdate": "shipdate"}""".stripMargin

  private def copyConfig(c: Ctx): String = {
    val m = c.manifest
    s"""{"name": "copy-lineitem",
       | "source": {"adaptor": "file", "uri": "$${SRC}", "ns": "lineitem",
       |            "schema": "${m.get("copy_schema").asText}"},
       | "sinks": [
       |  {"name": "lake", "adaptor": "parquet", "uri": "$${LAKE}",
       |   "transforms": [
       |    {"fn": "skip", "field": "l_quantity", "operator": ">", "match": 0},
       |    {"fn": "rename", "field_map": $renames},
       |    {"fn": "pick", "fields": ["orderkey", "linenumber", "quantity",
       |      "extendedprice", "discount", "returnflag", "shipdate"]}]},
       |  {"name": "hot", "adaptor": "jdbc", "uri": "$${URL}",
       |   "table": "lineitem_hot", "mode": "upsert",
       |   "id_cols": ["orderkey", "linenumber"],
       |   "transforms": [
       |    {"fn": "skip", "field": "l_extendedprice", "operator": ">",
       |     "match": ${m.get("hot_price").asInt}},
       |    {"fn": "rename", "field_map": $renames},
       |    {"fn": "pick", "fields": ["orderkey", "linenumber", "quantity",
       |      "extendedprice", "shipdate"]}]}]}""".stripMargin
  }

  private def tailConfig(c: Ctx): String = {
    val cols = c.manifest.get("tail_columns").toString
    s"""{"name": "tail-events", "mode": "stream", "checkpoint": "$${CKPT}",
       | "source": {"adaptor": "mysql-binlog", "uri": "$${LOG}",
       |            "ns": "^db\\\\.events$$", "decode_table": "db.events",
       |            "columns": {"db.events": $cols}},
       | "sinks": [
       |  {"name": "db", "adaptor": "jdbc", "uri": "$${URL}", "table": "events",
       |   "mode": "upsert", "id_cols": ["event_id"], "order_by": ["__seq"]},
       |  {"name": "idx", "adaptor": "search-index", "dir": "$${IDX}",
       |   "id_col": "event_id", "text_col": "note", "hash_buckets": 8,
       |   "maintain_every": ${c.manifest.get("tail_epochs").asInt},
       |   "transforms": [{"fn": "opfilter", "whitelist": ["insert"]}]}]}"""
      .stripMargin
  }

  private def jdbc[A](url: String)(f: java.sql.Connection => A): A = {
    val conn = java.sql.DriverManager.getConnection(url)
    try f(conn) finally conn.close()
  }

  private def count(url: String, table: String): Long = jdbc(url) { conn =>
    val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
    rs.next(); rs.getLong(1)
  }

  /** Parse a config and hand the pipeline timed sinks and transforms. */
  private def instrumented(c: Ctx, json: String, env: Map[String, String])
      : PipelineSpec = {
    val (spec, parseMs) = c.tracer.timed("ConfigLoader.parse", "pipeline")(
      ConfigLoader.parse(json, env))
    c.layerSample("pipeline.parse_ms", parseMs)
    spec.copy(sinks = spec.sinks.map(n => n.copy(
      sink = new TimedSink(n.name, n.sink, c),
      transforms = n.transforms.map(t => t.copy(fn = (df: DataFrame) =>
        c.tracer.span(s"transform.${n.name}.${t.name}", "functions")(t.fn(df)))))))
  }

  /** One Copy-then-Sync lifecycle into fresh targets; `epochs` limits
    * the drain (the warm-up drains none). */
  private def lifecycle(c: Ctx, copySrc: String, epochs: Int,
      timed: Boolean): Unit = {
    iteration += 1
    val it = c.path(s"it$iteration")
    val url = s"jdbc:derby:memory:sync$iteration;create=true"
    jdbc(url) { conn =>
      val st = conn.createStatement()
      // every column any step of the chain produced: PipelineSpec routes
      // `command` rows around each transform and unions the branches by
      // name, so a transformed sink still carries the untransformed
      // columns (null on the transformed rows)
      st.executeUpdate("CREATE TABLE lineitem_hot (orderkey BIGINT, " +
        "linenumber BIGINT, quantity DOUBLE, extendedprice DOUBLE, " +
        "shipdate VARCHAR(10), discount DOUBLE, returnflag VARCHAR(1), " +
        "l_orderkey BIGINT, l_partkey BIGINT, " +
        "l_suppkey BIGINT, l_linenumber BIGINT, l_quantity DOUBLE, " +
        "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
        "l_returnflag VARCHAR(1), l_linestatus VARCHAR(1), " +
        "l_shipdate VARCHAR(10), PRIMARY KEY (orderkey, linenumber))")
      st.executeUpdate("CREATE TABLE events (event_id BIGINT PRIMARY KEY, " +
        "user_id BIGINT, event_type VARCHAR(16), amount DOUBLE, " +
        "note VARCHAR(400))")
    }
    val env = Map("SRC" -> copySrc, "LAKE" -> s"$it/lake", "URL" -> url,
      "LOG" -> s"$it/binlog", "CKPT" -> s"$it/ckpt", "IDX" -> s"$it/idx")

    // ---- Copy
    val copy = instrumented(c, copyConfig(c), env)
    if (timed) c.op("copy")(copy.run(c.spark)) else copy.run(c.spark)

    // ---- Sync: a catch-up drain, one binlog file per epoch, each placed
    // when the previous epoch has committed
    val staged = Files.list(Paths.get(c.inputs, "binlog-staged")).iterator
      .asScala.toSeq.map(_.toString).sorted.take(epochs)
    if (staged.isEmpty) { dropDb(url); return }
    val log = Paths.get(it, "binlog")
    Files.createDirectories(log)
    def place(f: String): Unit = {
      val tmp = Paths.get(it, "." + Paths.get(f).getFileName)
      Files.copy(Paths.get(f), tmp)
      Files.move(tmp, log.resolve(Paths.get(f).getFileName),
        StandardCopyOption.ATOMIC_MOVE)
    }
    val tail = instrumented(c, tailConfig(c), env)
    c.progress.take()
    val drainStart = Clock.nowMs
    place(staged.head)
    val q = c.tracer.span("PipelineSpec.runStream", "pipeline")(
      tail.runStream(c.spark, env("CKPT"), Trigger.ProcessingTime(0L)))
    var gensSeen = 0
    val maintEpochs = scala.collection.mutable.ArrayBuffer.empty[Int]
    try {
      staged.indices.foreach { e =>
        val deadline = Clock.nowMs + 120000
        while (!c.progress.awaitBatch(100)) {
          if (!q.isActive || Clock.nowMs > deadline)
            throw new IllegalStateException(s"epoch $e did not commit" +
              q.exception.map(x => s": ${x.getMessage}").getOrElse(""))
        }
        if (e + 1 < staged.size) place(staged(e + 1))
        if (timed && c.traced) {
          // epochs in which the index folded a new generation
          val g = IndexLayout.generations(env("IDX")).size
          if (g > gensSeen) maintEpochs += e
          gensSeen = g
        }
      }
    } finally {
      q.stop()
      q.awaitTermination(60000)
    }
    val drainMs = Clock.nowMs - drainStart
    val batches = c.progress.take()
    if (timed) {
      c.attempted += batches.size
      batches.foreach { b =>
        c.sample("epoch.ms", b.getOrElse("triggerExecution", 0L).toDouble)
        Seq("addBatch", "walCommit", "getBatch", "latestOffset",
            "queryPlanning", "commitOffsets").foreach(k =>
          b.get(k).foreach(v => c.layerSample(s"streaming.${k.toLowerCase}_ms",
            v.toDouble)))
      }
      c.sample("drain.ms", drainMs)
      c.sample("drain.rows", batches.map(_.getOrElse("rows", 0L)).sum.toDouble)
      maintEpochs.filter(_ < batches.size).foreach(e => c.layerSample(
        "streaming.maint_epoch_ms",
        batches(e).getOrElse("triggerExecution", 0L).toDouble))
      c.layerSample("streaming.maint_passes",
        IndexLayout.generations(env("IDX")).size.toDouble)
      val p = graft.streaming.Maintenance.pressure(c.spark, env("IDX"),
        Seq("postings"), IndexLayout.epochs(env("IDX")), withFiles = true)
      c.layerSample("streaming.remainder_epochs", p.remainderEpochs.toDouble)
      c.layerSample("streaming.live_files", p.liveFiles.toDouble)
    }

    // ---- output checks (off the clock, run after the timed part)
    val m = c.manifest
    val check = () => {
      val lake = c.spark.read.parquet(s"$it/lake").count()
      val hot = count(url, "lineitem_hot")
      c.check(s"it$iteration lake rows")(
        lake == m.get("expect_lake_rows").asLong, s"$lake rows")
      c.check(s"it$iteration hot rows")(
        hot == m.get("expect_hot_rows").asLong, s"$hot rows")
      c.layerSample("sinks.lake.rows", lake.toDouble)
      c.layerSample("sinks.hot.rows", hot.toDouble)
      c.layerSample("copy.rows_landed", (lake + hot).toDouble)
      val committed = IndexLayout.epochs(env("IDX")).size
      c.check(s"it$iteration index epochs")(committed == staged.size,
        s"$committed committed, ${staged.size} generated")
      val docs = c.spark.read.parquet(s"${env("IDX")}/stats")
        .agg(org.apache.spark.sql.functions.sum("n_docs")).head().getLong(0)
      c.check(s"it$iteration index docs")(
        docs == m.get("expect_index_docs").asLong, s"$docs docs")
      checkEvents(c, url, s"it$iteration")
      dropDb(url)
    }
    // the warm-up's targets are not checked, only torn down
    if (timed) checks += check else dropDb(url)
  }

  /** Derby reports a successful drop of an in-memory database by
    * throwing SQLState 08006; anything else is a real failure. */
  private def dropDb(url: String): Unit =
    try jdbc(url.replace(";create=true", ";drop=true")) { _ => () }
    catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }

  /** The JDBC end state must equal the last write per key, which the
    * generator computed from its own log. */
  private def checkEvents(c: Ctx, url: String, tag: String): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val expected = Files.readAllLines(Paths.get(c.inputs,
        "expected_events.jsonl")).asScala.filter(_.nonEmpty).map { l =>
      val n = mapper.readTree(l)
      (n.get(0).asLong, n.get(1).asLong, n.get(2).asText, n.get(3).asDouble,
        n.get(4).asText)
    }.toVector
    val got = jdbc(url) { conn =>
      val rs = conn.createStatement().executeQuery(
        "SELECT event_id, user_id, event_type, amount, note FROM events " +
          "ORDER BY event_id")
      val b = Vector.newBuilder[(Long, Long, String, Double, String)]
      while (rs.next()) b += ((rs.getLong(1), rs.getLong(2), rs.getString(3),
        rs.getDouble(4), rs.getString(5)))
      b.result()
    }
    c.check(s"$tag events end state")(got == expected,
      s"${got.size} rows vs ${expected.size} expected; first difference " +
        got.zipAll(expected, null, null).find { case (a, b) => a != b })
  }

  def setup(c: Ctx): Unit = {
    System.setProperty("derby.stream.error.file", c.path("derby.log"))
    Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
    // warm-up: a small copy through the same config; the drain's first
    // epoch pays the stream's start in every lifecycle anyway
    lifecycle(c, Paths.get(c.inputs, "copy-warm").toString, epochs = 0,
      timed = false)
  }

  def run(c: Ctx): Unit = {
    val t0 = Clock.nowMs
    do lifecycle(c, Paths.get(c.inputs, "copy").toString,
      c.manifest.get("tail_epochs").asInt, timed = true)
    while (Clock.nowMs - t0 < c.seconds * 1000)
  }

  def check(c: Ctx): Unit = checks.foreach(_())

  /** Splits one Copy into scan, per-sink transform lineage and write. */
  override def breakdown(c: Ctx): Unit = {
    val env = Map("SRC" -> Paths.get(c.inputs, "copy").toString,
      "LAKE" -> c.path("bd-lake"), "URL" -> "jdbc:derby:memory:bd")
    val spec = ConfigLoader.parse(copyConfig(c), env)
    def noop(df: DataFrame): Double = {
      val t0 = Clock.nowMs
      df.write.format("noop").mode("overwrite").save()
      Clock.nowMs - t0
    }
    val j0 = c.runtime.snapshot().jobs
    val (compiled, compileMs) = c.tracer.timed("PipelineSpec.compile",
      "pipeline")(spec.compile(c.spark))
    c.layers("pipeline.compile_ms") = compileMs
    c.layers("pipeline.compile_jobs") = (c.runtime.snapshot().jobs - j0).toDouble
    // warm rounds, scan and lineages interleaved, so the first (cold)
    // read is not charged to the scan alone; medians over the rounds
    val rounds = (1 to BreakdownRounds).map { _ =>
      val scanMs = c.tracer.span("noop(source.read)", "sources")(
        noop(spec.source.read(c.spark)))
      scanMs -> compiled.map { case (sink, df) =>
        sink -> c.tracer.span(s"noop(compiled.$sink)", "functions")(noop(df))
      }.toMap
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
    val scanMs = median(rounds.map(_._1))
    c.layers("sources.copy_scan_s") = scanMs / 1e3
    // a difference, negative when the chain drops rows before the write
    compiled.keys.foreach { sink =>
      c.layers(s"functions.$sink.copy_transform_s") =
        (median(rounds.map(_._2(sink))) - scanMs) / 1e3
    }
  }
}
