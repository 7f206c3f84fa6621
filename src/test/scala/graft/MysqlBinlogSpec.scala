package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.operators.Upsert
import graft.sources.MysqlBinlog

/** MySQL binlog tailer + casifyValue contract
  * (`adaptor/mysql/tailer.go:222-352`, `reader.go:205-261`): RowsEvent
  * classification, update-keeps-after-image, and the mysql type quirks —
  * bit → binary string (with the reference's base-10-hex-parse bug),
  * spatial WKB(+SRID) → WKT. */
class MysqlBinlogSpec extends SparkSpec {
  import spark.implicits._

  // ---- casifyValue ----

  test("casify: int/float families, errors → 0 (reader.go:239-244)") {
    assert(MysqlBinlog.casifyValue("42", "int") == 42L)
    assert(MysqlBinlog.casifyValue("9", "tinyint") == 9L)
    assert(MysqlBinlog.casifyValue("not-a-number", "bigint") == 0L)
    assert(MysqlBinlog.casifyValue("2.5", "double") == 2.5)
    assert(MysqlBinlog.casifyValue("x", "decimal") == 0.0)
    assert(MysqlBinlog.casifyValue("null", "int") == null)
    assert(MysqlBinlog.casifyValue("plain", "varchar") == "plain")
  }

  test("casify: bit → hex-encode then base-TEN parse then base-2 format") {
    // 0x05 → hex "05" → decimal parse 5 → binary "101" (reader.go:216-223)
    assert(MysqlBinlog.casifyValue("\u0005", "bit") == "101")
    // 0x13 → hex "13" → decimal 13 → "1101" (the reference's bug, kept)
    assert(MysqlBinlog.casifyValue("\u0013", "bit") == "1101")
    // 0xAB → hex "ab" → base-10 parse FAILS → 0 → "0"
    assert(MysqlBinlog.casifyValue("«", "bit") == "0")
  }

  private def wkbPoint(x: Double, y: Double, srid: Int = 0): String = {
    val b = ByteBuffer.allocate(4 + 1 + 4 + 16)
      .order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(srid) // mysql internal format: 4-byte SRID prefix
    b.put(1.toByte).putInt(1).putDouble(x).putDouble(y)
    new String(b.array(), "ISO-8859-1")
  }

  test("casify: spatial WKB+SRID → WKT (reader.go:224-236)") {
    assert(MysqlBinlog.casifyValue(wkbPoint(1, 2), "point") == "POINT (1 2)")
    assert(MysqlBinlog.casifyValue(wkbPoint(-3.5, 7.25), "geometry") ==
      "POINT (-3.5 7.25)")
    // linestring, big-endian flavor
    val ls = ByteBuffer.allocate(4 + 1 + 4 + 4 + 32)
      .order(ByteOrder.BIG_ENDIAN)
    ls.putInt(0).put(0.toByte).putInt(2).putInt(2)
      .putDouble(0).putDouble(0).putDouble(4).putDouble(4)
    assert(MysqlBinlog.casifyValue(new String(ls.array(), "ISO-8859-1"),
      "linestring") == "LINESTRING (0 0, 4 4)")
    // polygon with one ring
    val pg = ByteBuffer.allocate(4 + 1 + 4 + 4 + 4 + 64)
      .order(ByteOrder.LITTLE_ENDIAN)
    pg.putInt(0).put(1.toByte).putInt(3).putInt(1).putInt(4)
      .putDouble(0).putDouble(0).putDouble(4).putDouble(0)
      .putDouble(4).putDouble(4).putDouble(0).putDouble(0)
    assert(MysqlBinlog.casifyValue(new String(pg.array(), "ISO-8859-1"),
      "polygon") == "POLYGON ((0 0, 4 0, 4 4, 0 0))")
    // garbage bytes → null (the reference prints and carries a nil geom)
    assert(MysqlBinlog.casifyValue("junk", "point") == null)
  }

  test("casify: timestamp and date parse; unparseable → null") {
    val ts = MysqlBinlog.casifyValue("2015-08-21 16:09:02.988058", "timestamp")
    assert(ts.isInstanceOf[java.sql.Timestamp])
    assert(ts.asInstanceOf[java.sql.Timestamp].toInstant ==
      java.time.Instant.parse("2015-08-21T16:09:02.988058Z"))
    assert(MysqlBinlog.casifyValue("2015-08-21 16:09:02", "timestamp")
      .isInstanceOf[java.sql.Timestamp]) // fraction optional (layout .9)
    assert(MysqlBinlog.casifyValue("nope", "timestamp") == null)
    assert(MysqlBinlog.casifyValue("2015-08-21", "date") ==
      java.sql.Date.valueOf("2015-08-21"))
  }

  // ---- RowsEvent processing ----

  private val cols = Map("db.recipes" -> Seq(
    ("recipe_id", "int"), ("recipe_name", "varchar")))

  test("events classify; update drops ONLY row 0 (tailer.go:317-320)") {
    val lines = Seq(
      """{"type":"WRITE_ROWS_EVENTv2","schema":"db","table":"recipes","rows":[["1","Tacos"],["2","Soup"]]}""",
      """{"type":"UPDATE_ROWS_EVENTv1","schema":"db","table":"recipes","rows":[["1","Tacos"],["1","Nachos"]]}""",
      """{"type":"DELETE_ROWS_EVENTv2","schema":"db","table":"recipes","rows":[["2","Soup"]]}""",
      """{"type":"XID_EVENT","schema":"db","table":"recipes","rows":[]}""",
      """garbage""").toDF("value")
    val env = MysqlBinlog.changes(lines, cols)
    val out = env.select("op", "data").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out.length == 4) // 2 inserts + 1 after-image update + 1 delete
    assert(out.count(_._1 == "insert") == 2)
    val upd = out.filter(_._1 == "update")
    assert(upd.size == 1 && upd.head._2.contains("Nachos")) // after-image
    assert(out.count(_._1 == "delete") == 1)
    // typed decode round-trips through the mejson envelope
    val schema = StructType(Seq(StructField("recipe_id", LongType),
      StructField("recipe_name", StringType)))
    val typed = graft.functions.Transforms.decode(schema)(env)
    assert(typed.filter(col("op") === "update")
      .select("recipe_name").head.getString(0) == "Nachos")
    // ns filter (tailer.go:246-251)
    assert(MysqlBinlog.changes(lines, cols, "^other\\.").count() == 0)
  }

  test("snapshot-then-tail: stream end-state == batch applyCdc") {
    val tmp = Files.createTempDirectory("graft-binlog-st").toString
    Files.createDirectories(Paths.get(tmp, "binlog"))
    val snapshot = Seq((1L, "Tacos"), (2L, "Soup"))
      .toDF("recipe_id", "recipe_name")
    Files.write(Paths.get(tmp, "binlog", "000.jsonl"), Seq(
      """{"type":"UPDATE_ROWS_EVENTv2","schema":"db","table":"recipes","pos":100,"rows":[["1","Tacos"],["1","Nachos"]]}""",
      """{"type":"WRITE_ROWS_EVENTv2","schema":"db","table":"recipes","pos":200,"rows":[["3","Grilled Cheese"]]}""")
      .mkString("\n").getBytes)
    Files.write(Paths.get(tmp, "binlog", "001.jsonl"), Seq(
      """{"type":"DELETE_ROWS_EVENTv1","schema":"db","table":"recipes","pos":300,"rows":[["2","Soup"]]}""")
      .mkString("\n").getBytes)
    val schema = StructType(Seq(StructField("recipe_id", LongType),
      StructField("recipe_name", StringType)))

    var state = snapshot
    val q = MysqlBinlog.changes(spark.readStream.option("maxFilesPerTrigger", "1")
        .text(s"$tmp/binlog"), cols)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        state = MysqlBinlog.applyCdc(state, batch, schema, "recipe_id")
          .localCheckpoint(true)
        ()
      }.start()
    q.awaitTermination()

    val batchEnd = MysqlBinlog.applyCdc(snapshot, MysqlBinlog.changes(
      spark.read.text(s"$tmp/binlog"), cols), schema, "recipe_id")
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("recipe_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(dump(state) == dump(batchEnd))
    assert(dump(state) == Seq((1L, "Nachos"), (3L, "Grilled Cheese")))
  }

  test("seq = binlog order: delete-then-insert one id in ONE batch → insert") {
    // The reference applies RowsEvents sequentially in binlog-stream order
    // (tailer.go:313-352); seq = (LogPos << 16) | rowIndex reproduces that
    // total order for a batched apply, like MongoOplog's raw-ts seq.
    val snapshot = Seq((5L, "Old")).toDF("recipe_id", "recipe_name")
    val lines = Seq(
      """{"type":"DELETE_ROWS_EVENTv2","schema":"db","table":"recipes","pos":100,"rows":[["5","Old"]]}""",
      """{"type":"WRITE_ROWS_EVENTv2","schema":"db","table":"recipes","pos":200,"rows":[["5","Reborn"]]}""")
      .toDF("value")
    val schema = StructType(Seq(StructField("recipe_id", LongType),
      StructField("recipe_name", StringType)))
    val env = MysqlBinlog.changes(lines, cols)
    // repartition scrambles any physical ordering: only seq may decide
    val end = MysqlBinlog.applyCdc(snapshot, env.repartition(8), schema,
      "recipe_id")
    assert(end.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((5L, "Reborn")))
    // the reverse binlog order resolves to the delete
    val flipped = Seq(
      """{"type":"WRITE_ROWS_EVENTv2","schema":"db","table":"recipes","pos":100,"rows":[["5","Reborn"]]}""",
      """{"type":"DELETE_ROWS_EVENTv2","schema":"db","table":"recipes","pos":200,"rows":[["5","Old"]]}""")
      .toDF("value")
    val end2 = MysqlBinlog.applyCdc(snapshot,
      MysqlBinlog.changes(flipped, cols).repartition(8), schema, "recipe_id")
    assert(end2.count() == 0)
    // intra-event row order: two writes of one id inside ONE event — the
    // later row wins (rowIndex low bits)
    val oneEvent = Seq(
      """{"type":"WRITE_ROWS_EVENTv2","schema":"db","table":"recipes","pos":100,"rows":[["5","First"],["5","Second"]]}""")
      .toDF("value")
    val end3 = MysqlBinlog.applyCdc(snapshot,
      MysqlBinlog.changes(oneEvent, cols).repartition(8), schema, "recipe_id")
    assert(end3.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((5L, "Second")))
  }

  test("seq spans binlog rotation: file ordinal outranks a RESET LogPos") {
    // LogPos resets when the server rotates binlog files: a delete at
    // pos 900 of bin.000001 followed by an insert at pos 50 of
    // bin.000002 must resolve to the insert. Position alone would order
    // them backwards; the file ordinal in seq's high bits restores the
    // stream order (a real syncer learns the file from ROTATE_EVENT —
    // the textual producer emits it per line to keep the parse
    // parallel).
    val snapshot = Seq((5L, "Old")).toDF("recipe_id", "recipe_name")
    val lines = Seq(
      """{"type":"DELETE_ROWS_EVENTv2","schema":"db","table":"recipes","file":"mysql-bin.000001","pos":900,"rows":[["5","Old"]]}""",
      """{"type":"WRITE_ROWS_EVENTv2","schema":"db","table":"recipes","file":"mysql-bin.000002","pos":50,"rows":[["5","Reborn"]]}""")
      .toDF("value")
    val schema = StructType(Seq(StructField("recipe_id", LongType),
      StructField("recipe_name", StringType)))
    val end = MysqlBinlog.applyCdc(snapshot,
      MysqlBinlog.changes(lines, cols).repartition(8), schema, "recipe_id")
    assert(end.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((5L, "Reborn")))
    // the same two events in reverse stream order resolve to the delete
    val flipped = Seq(
      """{"type":"WRITE_ROWS_EVENTv2","schema":"db","table":"recipes","file":"mysql-bin.000001","pos":900,"rows":[["5","Reborn"]]}""",
      """{"type":"DELETE_ROWS_EVENTv2","schema":"db","table":"recipes","file":"mysql-bin.000002","pos":50,"rows":[["5","Old"]]}""")
      .toDF("value")
    assert(MysqlBinlog.applyCdc(snapshot,
      MysqlBinlog.changes(flipped, cols).repartition(8), schema,
      "recipe_id").count() == 0)
  }

  test("rowSeq: saturating rowIndex, ordinal/pos bit layout") {
    // no file field → ordinal 0 → seq identical to the pre-rotation form
    assert(MysqlBinlog.rowSeq("", 100L, 2) == (100L << 16 | 2L))
    assert(MysqlBinlog.fileOrdinal("mysql-bin.000042") == 42L)
    assert(MysqlBinlog.fileOrdinal("no-suffix") == 0L)
    // rotation: (file 2, pos 50) > (file 1, pos 900)
    assert(MysqlBinlog.rowSeq("b.000002", 50L, 0) >
      MysqlBinlog.rowSeq("b.000001", 900L, 0xffff))
    // rowIndex SATURATES at 0xffff — no wrap into the pos bits: row
    // 70000 still orders after every row of an earlier event and never
    // collides with row 0 of its own event
    val e1row0 = MysqlBinlog.rowSeq("", 100L, 0)
    val e1row70k = MysqlBinlog.rowSeq("", 100L, 70000)
    val e2row0 = MysqlBinlog.rowSeq("", 200L, 0)
    assert(e1row70k > e1row0 && e1row70k < e2row0)
    assert(e1row70k == MysqlBinlog.rowSeq("", 100L, 0xffff))
    // seq stays positive even at the ordinal cap
    assert(MysqlBinlog.rowSeq("b.9999999", 0xffffffffL, 0xffff) > 0L)
  }

  test("registry: mysql-binlog source with a columns map") {
    val tmp = Files.createTempDirectory("graft-binlog-reg").toString
    Files.write(Paths.get(tmp, "log.jsonl"),
      """{"type":"WRITE_ROWS_EVENTv2","schema":"db","table":"recipes","rows":[["7","Pie"]]}"""
        .getBytes)
    val src = graft.pipeline.Registry.sources("mysql-binlog")(Map(
      "uri" -> tmp,
      "columns" -> Map("db.recipes" -> Seq(
        Seq("recipe_id", "int"), Seq("recipe_name", "varchar")))))
    val env = src.read(spark)
    assert(env.count() == 1)
    // casify typed "7" as int → Long → the mejson $numberLong wrapper
    assert(env.head.getAs[String]("data")
      .contains(""""recipe_id":{"$numberLong":"7"}"""))
  }
}
