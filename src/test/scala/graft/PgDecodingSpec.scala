package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.core.Envelope
import graft.operators.Upsert
import graft.sources.PgDecoding

/** Postgres test_decoding CDC parser (`adaptor/postgres/tailer.go:139-288`):
  * fixture lines reproduce the reference's parser cases — quoted strings
  * with '' escapes, integer/varchar arrays, json, timestamps — and the
  * stream path must land on the same end-state as a batch apply. */
class PgDecodingSpec extends SparkSpec {

  test("parses the basicSchema insert line (id, colvar, coltimestamp)") {
    val line = "table public.tailer_test_table: INSERT: id[integer]:11 " +
      "colvar[character varying]:'Wonder Woman' " +
      "coltimestamp[timestamp without time zone]:'2017-02-15 21:10:00.266244'"
    val c = PgDecoding.parseLine(line).get
    assert(c.ns == "public.tailer_test_table" && c.op == "insert")
    assert(c.doc("id") == 11L)
    assert(c.doc("colvar") == "Wonder Woman")
    val ts = c.doc("coltimestamp").asInstanceOf[java.sql.Timestamp]
    assert(ts.toInstant == java.time.Instant.parse("2017-02-15T21:10:00.266244Z"))
  }

  test("quoted strings: '' escapes collapse, inner spaces survive") {
    val c = PgDecoding.parseLine("table public.t: UPDATE: " +
      "colvar[character varying]:'it''s here' colvar2[text]:'a b  c' " +
      "colempty[text]:''").get
    assert(c.op == "update")
    assert(c.doc("colvar") == "it's here")
    assert(c.doc("colvar2") == "a b  c")
    assert(c.doc("colempty") == "")
  }

  test("arrays: integer[] and varchar[] CSV semantics incl quoted commas") {
    val c = PgDecoding.parseLine("table public.t: INSERT: " +
      "colarrayint[integer[]]:'{1,2,3,4}' " +
      """colarraystring[character varying[]]:'{"one","two,three",plain}'""").get
    assert(c.doc("colarrayint") == List(1L, 2L, 3L, 4L))
    assert(c.doc("colarraystring") == List("one", "two,three", "plain"))
  }

  test("json parses to a map with Go number semantics; jsonb stays string") {
    val c = PgDecoding.parseLine("table public.t: INSERT: " +
      """coljson[json]:'{"name": "batman", "rank": 1}' """ +
      """coljsonb[jsonb]:'{"a": 1}'""").get
    assert(c.doc("coljson") ==
      Map("name" -> "batman", "rank" -> 1.0)) // encoding/json → float64
    assert(c.doc("coljsonb") == """{"a": 1}""") // reference branch order
  }

  test("casify: null, money, boolean, smallint/bigint, double, date") {
    val c = PgDecoding.parseLine("table public.t: INSERT: " +
      "colbytea[bytea]:null colmoney[money]:'$8.99' " +
      "colboolean[boolean]:true colsmall[smallint]:3 " +
      "colbig[bigint]:9007199254740993 " +
      "coldp[double precision]:2.5 coldate[date]:'2015-08-21' " +
      "colbad[integer]:notanint").get
    assert(c.doc("colbytea") == null)
    assert(c.doc("colmoney") == 8.99)
    assert(c.doc("colboolean") == true)
    assert(c.doc("colsmall") == 3L)
    assert(c.doc("colbig") == 9007199254740993L)
    assert(c.doc("coldp") == 2.5)
    assert(c.doc("coldate") == java.sql.Date.valueOf("2015-08-21"))
    assert(c.doc("colbad") == 0L) // strconv error ignored → 0
  }

  test("non-change rows, (no-tuple-data), and ns filtering are skipped") {
    assert(PgDecoding.parseLine("BEGIN 526").isEmpty)
    assert(PgDecoding.parseLine("COMMIT 526").isEmpty)
    assert(PgDecoding.parseLine(
      "table public.t: DELETE: (no-tuple-data)").isEmpty)
    val del = PgDecoding.parseLine("table public.t: DELETE: id[integer]:4").get
    assert(del.op == "delete" && del.doc("id") == 4L)
  }

  test("changes() batch frame: envelopes with mejson data + ns regex") {
    val tmp = Files.createTempDirectory("graft-pgdec").toString
    Files.write(Paths.get(tmp, "wal.txt"), Seq(
      "BEGIN 1",
      "table public.users: INSERT: id[integer]:1 name[text]:'ann'",
      "table public.users: INSERT: id[integer]:2 name[text]:'bob'",
      "table audit.log: INSERT: id[integer]:99",
      "COMMIT 1").mkString("\n").getBytes("UTF-8"))
    val env = PgDecoding.changes(
      spark.read.text(tmp), nsRegex = "^public\\.")
    val rows = env.orderBy("data").collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[String]("ns") == "public.users"))
    assert(rows.forall(_.getAs[String]("__mode") == "sync"))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    val typed = graft.functions.Transforms.decode(schema)(env).orderBy("id")
    assert(typed.select("id", "name").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "ann"), (2L, "bob")))
  }

  test("snapshot-then-tail: stream end-state == batch applyCdc") {
    val tmp = Files.createTempDirectory("graft-pgdec-st").toString
    Files.createDirectories(Paths.get(tmp, "wal"))
    // snapshot (Copy phase): the batch reader's output
    import spark.implicits._
    val snapshot = Seq((1L, "ann", 10.0), (2L, "bob", 20.0), (3L, "cyd", 30.0))
      .toDF("id", "name", "score")
    // tail (Sync phase): two decoding-log files = two micro-batches
    Files.write(Paths.get(tmp, "wal", "000.txt"), Seq(
      "BEGIN 10",
      "table public.users: UPDATE: id[integer]:2 name[text]:'bobby' score[double precision]:25",
      "table public.users: INSERT: id[integer]:4 name[text]:'dee' score[double precision]:40",
      "COMMIT 10").mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(tmp, "wal", "001.txt"), Seq(
      "table public.users: DELETE: id[integer]:1 name[text]:'ann' score[double precision]:10",
      "table public.users: UPDATE: id[integer]:4 name[text]:'dea' score[double precision]:41")
      .mkString("\n").getBytes("UTF-8"))
    val docSchema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("score", DoubleType)))

    // stream drive: foreachBatch applies each epoch's changes in order
    var state = snapshot
    val q = PgDecoding.changes(spark.readStream.option("maxFilesPerTrigger", "1")
        .text(s"$tmp/wal"), nsRegex = "^public\\.users$")
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val typed = graft.functions.Transforms.decode(docSchema)(batch)
          .withColumn("seq", monotonically_increasing_id())
        state = Upsert.applyCdc(state, typed, "id", Seq(col("seq")))
          .localCheckpoint(true)
        ()
      }.start()
    q.awaitTermination()

    // batch apply of the same log in one shot
    val allTyped = graft.functions.Transforms.decode(docSchema)(PgDecoding.changes(
        spark.read.text(s"$tmp/wal"), "^public\\.users$"))
      .withColumn("seq", monotonically_increasing_id())
    val batchEnd = Upsert.applyCdc(snapshot, allTyped, "id", Seq(col("seq")))

    val got = state.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val want = batchEnd.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == want)
    assert(got == Seq((2L, "bobby", 25.0), (3L, "cyd", 30.0),
      (4L, "dea", 41.0)))
  }

  test("fuzz: parseLine/parseTuples/casify are total over garbage") {
    // the parser consumes UNTRUSTED wire text with a hand-rolled state
    // machine — like the container probes, every mangled input must
    // RETURN (None or a partial doc), never throw (ContainerProbeProps'
    // totality contract)
    val rnd = new scala.util.Random(31337)
    val alphabet = "ab:[]'{}, \\\"0.x-n"
    def rand(n: Int) =
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val q3 = "'" * 3
    val crafted = Seq(
      "", "table", "table p.t: INSERT:", "table p.t: INSERT: ",
      "table p.t: INSERT: a[", "table p.t: INSERT: a[x",
      "table p.t: INSERT: a[x]:", "table p.t: INSERT: a[x]:'unclosed",
      "table p.t: INSERT: a[x]:'it''", "table p.t: INSERT: :[]:",
      "table p.t: UPDATE: a[integer[]]:{1,",
      "table p.t: DELETE: a[json]:{bad json",
      "table p.t: INSERT: " + q3,
      "table p.t: INSERT: a[money]:$", "table p.t: INSERT: a[date]:xx")
    (crafted ++
      (0 until 400).map(_ => "table p.t: INSERT: " + rand(rnd.nextInt(60))) ++
      (0 until 200).map(_ => rand(rnd.nextInt(80)))).foreach { line =>
      graft.sources.PgDecoding.parseLine(line) // must not throw
    }
  }
}
