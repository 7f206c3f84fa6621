package graft

import java.sql.DriverManager

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Envelope
import graft.sources.Jdbc

/** Live JDBC connector against embedded Derby — the same DriverManager /
  * metadata / MERGE / Spark-JDBC-relation code paths a deployed
  * postgres/mysql URL exercises (reference: `adaptor/postgres/reader.go`,
  * `writer.go`).
  */
class JdbcSpec extends SparkSpec {

  private val dbName = s"graftjdbc${System.nanoTime()}"
  private val url = s"jdbc:derby:memory:$dbName;create=true"
  // Derby's driver autoloads through DriverManager (JDBC 4); no explicit
  // driver class is needed on either the Spark or the raw-JDBC path.
  private val opts = Map.empty[String, String]

  private lazy val seeded: Unit = {
    val c = DriverManager.getConnection(url)
    val s = c.createStatement()
    s.execute("""CREATE TABLE users (
      user_id BIGINT NOT NULL PRIMARY KEY,
      name VARCHAR(64),
      score DOUBLE,
      active BOOLEAN,
      joined DATE,
      updated TIMESTAMP)""")
    s.execute("""CREATE TABLE orders (
      order_id BIGINT NOT NULL PRIMARY KEY,
      user_id BIGINT,
      total DOUBLE)""")
    (1 to 20).foreach { i =>
      s.execute(f"""INSERT INTO users VALUES ($i, 'user$i', ${i * 1.5},
        ${i % 2 == 0}, DATE('2024-01-${10 + i % 20}'),
        TIMESTAMP('2024-01-01 ${i % 10}%02d:00:00'))""")
    }
    (1 to 30).foreach { i =>
      s.execute(s"INSERT INTO orders VALUES ($i, ${i % 20 + 1}, ${i * 10.0})")
    }
    c.close()
  }

  test("snapshot read: typed columns arrive through the driver (no casify)") {
    seeded
    val df = Jdbc.JdbcTableSource(url, "users", options = opts).read(spark)
    assert(Envelope.isEnveloped(df))
    val doc = Envelope.unwrap(df)
    val byName = doc.schema.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
    assert(byName("user_id") == LongType)
    assert(byName("name") == StringType)
    assert(byName("score") == DoubleType)
    assert(byName("active") == BooleanType)
    assert(byName("joined") == DateType)
    assert(byName("updated") == TimestampType)
    assert(df.count() == 20)
    val r = doc.filter(col("user_id") === 2).collect()(0)
    assert(r.getAs[String]("NAME") == "user2")
    assert(r.getAs[Double]("SCORE") == 3.0)
    assert(r.getAs[Boolean]("ACTIVE"))
  }

  test("multi-table scan lists tables and prunes by ns regex before reading") {
    seeded
    val all = Jdbc.JdbcMultiTableSource(url, ".*", options = opts).read(spark)
    assert(all.select(Envelope.NsCol).distinct().collect()
      .map(_.getString(0)).toSet == Set("users", "orders"))
    assert(all.count() == 50)
    val justUsers = Jdbc.JdbcMultiTableSource(url, "^users$", options = opts)
      .read(spark)
    assert(justUsers.count() == 20)
    intercept[IllegalArgumentException] {
      Jdbc.JdbcMultiTableSource(url, "^nothing$", options = opts).read(spark)
    }
  }

  test("resumable scan: id > last is pushed into the remote JDBC query") {
    seeded
    val resumed = Jdbc.JdbcTableSource(url, "users",
      resumeIdCol = Some("user_id"), resumeAfter = Some(15L), options = opts)
      .read(spark)
    assert(resumed.count() == 5)
    // the filter must reach the JDBC scan node (the database skips the
    // synced prefix — Spark never sees those rows), not run post-scan
    val plan = resumed.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("\\s", "").matches("(?s).*GreaterThan\\(USER_ID,15\\).*"),
      plan)
  }

  test("primary-key discovery from connector metadata") {
    seeded
    assert(Jdbc.primaryKeys(url, "USERS", opts) == Seq("USER_ID"))
    assert(Jdbc.primaryKeys(url, "ORDERS", opts) == Seq("ORDER_ID"))
  }

  test("CDC upsert round-trip: merge semantics, PK-discovered, idempotent") {
    seeded
    import spark.implicits._
    // envelope CDC: new key (insert), existing key (update; insert-dup
    // semantics too), delete, and a same-key in-epoch overwrite where the
    // LAST op must win
    val cdc = Seq(
      ("insert", 5L, 100L, "newbie", 1.0),
      ("update", 6L, 100L, "newbie2", 2.0), // same key, later ts → wins
      ("update", 7L, 3L, "renamed", 99.0), // existing row replaced
      ("insert", 8L, 4L, "dupkey", 7.0), // dup of seeded id 4 → update
      ("delete", 9L, 10L, "", 0.0)
    ).toDF("op", "ts", "USER_ID", "NAME", "SCORE")

    val sink = Jdbc.JdbcUpsertSink(url, "USERS", options = opts)
    sink.write(cdc)

    def state(): Map[Long, (String, Double)] = {
      val c = DriverManager.getConnection(url)
      val rs = c.createStatement()
        .executeQuery("SELECT user_id, name, score FROM users")
      val b = Map.newBuilder[Long, (String, Double)]
      while (rs.next()) b += rs.getLong(1) -> (rs.getString(2), rs.getDouble(3))
      c.close()
      b.result()
    }

    val s1 = state()
    assert(s1(100L) == ("newbie2", 2.0)) // last-per-key within the epoch
    assert(s1(3L) == ("renamed", 99.0))
    assert(s1(4L) == ("dupkey", 7.0)) // insert on existing key → update
    assert(!s1.contains(10L)) // deleted
    assert(s1.size == 20) // 20 seeded - 1 deleted + 1 new
    // other columns of merged rows are untouched only for NEW columns we
    // didn't carry — this sink writes the columns the CDC frame carries

    // at-least-once replay: applying the SAME epoch again converges
    sink.write(cdc)
    assert(state() == s1)
  }

  test("streaming CDC tail into the JDBC sink == batch applyCdc end state") {
    seeded
    val c0 = DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE stream_target (
        |  user_id BIGINT NOT NULL PRIMARY KEY,
        |  value DOUBLE,
        |  event_id BIGINT)""".stripMargin)
    c0.close()

    val tmp = java.nio.file.Files.createTempDirectory("graft-jdbc-stream").toString
    val cdc = graft.core.CdcFixtures.eventsCdc(spark, sf)
      .withColumn("ts", unix_timestamp(col("ts")))
    cdc.filter(col("event_id") < 500).coalesce(1)
      .write.mode("append").json(s"$tmp/in")
    Thread.sleep(1200)
    cdc.filter(col("event_id") >= 500).coalesce(1)
      .write.mode("append").json(s"$tmp/in")

    val envSchema = StructType(Seq(
      StructField("op", StringType), StructField("ts", LongType),
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType)))
    val sink = Jdbc.JdbcUpsertSink(url, "STREAM_TARGET",
      idCols = Seq("USER_ID"),
      orderCols = Seq("ts", "event_id"), options = opts)
    val stream = spark.readStream.schema(envSchema)
      .option("maxFilesPerTrigger", 1).json(s"$tmp/in")
      .select(col("op"), col("ts"),
        col("event_id").as("EVENT_ID"), col("user_id").as("USER_ID"),
        col("value").as("VALUE"))
    val q = stream.writeStream
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the sink's last-per-key MERGE is idempotent — at-least-once
        // epoch replay converges, same contract as the parquet sink
        sink.write(batch)
        ()
      }
      .start()
    q.awaitTermination(120000)

    val c = DriverManager.getConnection(url)
    val rs = c.createStatement()
      .executeQuery("SELECT user_id, value FROM stream_target ORDER BY user_id")
    val got = Iterator.continually(rs)
      .takeWhile(_.next()).map(r => (r.getLong(1), r.getDouble(2))).toSeq
    c.close()

    val expect = graft.operators.Upsert.applyCdc(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("user_id", LongType),
            StructField("value", DoubleType)))),
        cdc, "user_id", Seq(col("ts"), col("event_id")))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expect)
    assert(got.nonEmpty)
  }

  private def exec(sql: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try sql.foreach(c.createStatement().execute(_)) finally c.close()
  }

  /** `(id, name, qty)` rows of `table`, by id. */
  private def rowsOf(table: String): Map[Long, (String, Int)] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        s"SELECT id, name, qty FROM $table")
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => r.getLong(1) -> (r.getString(2), r.getInt(3))).toMap
    } finally c.close()
  }

  private type Event = (String, Long, Long, String, Int)

  /** An epoch frame of `(op, ts, ID, NAME, QTY)` events over 4 partitions. */
  private def epochOf(events: Seq[Event]) =
    spark.createDataFrame(events).toDF("op", "ts", "ID", "NAME", "QTY")
      .repartition(4)

  /** The last write per key of `events` applied over `base`. */
  private def lastWrite(base: Map[Long, (String, Int)],
      events: Seq[Event]): Map[Long, (String, Int)] =
    events.groupBy(_._3).values.map(_.maxBy(_._2)).foldLeft(base) {
      case (m, (op, _, k, _, _)) if op == "delete" => m - k
      case (m, (_, _, k, name, qty)) => m + (k -> (name, qty))
    }

  /** Inserts every key in `keys`, updates each third and deletes each
    * seventh, later in the epoch; every eleventh name is NULL. */
  private def churn(keys: Range, tag: String): Seq[Event] = keys.flatMap { k =>
    val name = if (k % 11 == 0) null else s"$tag$k"
    Seq(("insert", 1L, k.toLong, name, k % 100)) ++
      (if (k % 3 == 0) Seq(("update", 2L, k.toLong, s"$tag-u$k", k % 50))
       else Nil) ++
      (if (k % 7 == 0) Seq(("delete", 3L, k.toLong, name, 0)) else Nil)
  }

  private def stageTables(): Seq[String] =
    Jdbc.listTables(url).filter(_.endsWith("_GRAFT_STAGE"))

  test("20,000-row epoch over 4 partitions applies, and its replay converges") {
    seeded
    exec("""CREATE TABLE big_target (id BIGINT NOT NULL PRIMARY KEY,
      name VARCHAR(32), qty INT)""")
    val sink = Jdbc.JdbcUpsertSink(url, "BIG_TARGET", options = opts)
    val seed = (1 to 20000).map(k => ("insert", 0L, k.toLong, s"a$k", 1))
    sink.write(epochOf(seed))
    val s0 = lastWrite(Map.empty, seed)
    assert(rowsOf("big_target") == s0)
    val events = churn(1 to 20000, "b")
    val epoch = epochOf(events)
    val expect = lastWrite(s0, events)
    sink.write(epoch)
    assert(rowsOf("big_target") == expect)
    sink.write(epoch) // at-least-once replay of the same epoch
    assert(rowsOf("big_target") == expect)
    assert(stageTables().isEmpty)
  }

  test("an epoch is atomic: a failing row leaves the previous state") {
    seeded
    exec("""CREATE TABLE checked_target (id BIGINT NOT NULL PRIMARY KEY,
      name VARCHAR(32), qty INT CHECK (qty >= 0))""")
    val sink = Jdbc.JdbcUpsertSink(url, "CHECKED_TARGET", options = opts)
    val seed = (1 to 500).map(k => ("insert", 0L, k.toLong, s"a$k", 1))
    sink.write(epochOf(seed))
    val before = rowsOf("checked_target")
    assert(before == lastWrite(Map.empty, seed))
    val valid = churn(1 to 3000, "b")
    val bad = ("insert", 1L, 3001L, "bad", -1)
    intercept[Exception](sink.write(epochOf(valid :+ bad)))
    assert(rowsOf("checked_target") == before)
    sink.write(epochOf(valid))
    assert(rowsOf("checked_target") == lastWrite(before, valid))
  }

  test("a stage left behind by a crash is replaced, then dropped") {
    seeded
    exec("""CREATE TABLE restaged (id BIGINT NOT NULL PRIMARY KEY,
      name VARCHAR(32) NOT NULL, qty INT)""",
      // what a crash between fill and apply leaves: a stage with rows
      """CREATE TABLE restaged_graft_stage (id BIGINT NOT NULL,
      name VARCHAR(32), qty INT, op VARCHAR(16))""",
      """INSERT INTO restaged_graft_stage VALUES (1, 'junk', 9, 'insert'),
      (999, 'junk', 9, 'insert'), (2, 'junk', 9, 'delete')""")
    val sink = Jdbc.JdbcUpsertSink(url, "RESTAGED", options = opts)
    // deletes carry no name, although the column is NOT NULL
    val events = (1 to 100).map(k => ("insert", 1L, k.toLong, s"a$k", k)) ++
      (7 to 100 by 7).map(k => ("delete", 2L, k.toLong, null, 0))
    sink.write(epochOf(events))
    assert(rowsOf("restaged") == lastWrite(Map.empty, events))
    assert(stageTables().isEmpty)
  }

  test("registry: postgres/mysql/jdbc names resolve to the live connector") {
    seeded
    val src = graft.pipeline.Registry.sources("postgres")(Map(
      "uri" -> url, "table" -> "users"))
    assert(src.read(spark).count() == 20)
    val multi = graft.pipeline.Registry.sources("jdbc")(Map(
      "uri" -> url, "ns" -> "^orders$"))
    assert(multi.read(spark).count() == 30)
    import spark.implicits._
    val sink = graft.pipeline.Registry.sinks("mysql")(Map(
      "uri" -> url, "table" -> "ORDERS"))
    sink.write(Seq(("insert", 1L, 999L, 1L, 5.0))
      .toDF("op", "ts", "ORDER_ID", "USER_ID", "TOTAL"))
    val c = DriverManager.getConnection(url)
    val rs = c.createStatement()
      .executeQuery("SELECT total FROM orders WHERE order_id = 999")
    assert(rs.next() && rs.getDouble(1) == 5.0)
    c.close()
  }
}
