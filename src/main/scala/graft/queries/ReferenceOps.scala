package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{CdcFixtures, Envelope, Tables}
import graft.functions.Transforms
import graft.operators.{Compaction, Memo, Upsert}

/** Oracle-checked queries covering SURVEY §2.9's operator contract — the
  * reference's own relational surface (scan/union, ns-filter, pick/omit/
  * rename/remap, skip, opfilter, resumable scan, compaction, upsert, casts).
  *
  * Every query is deterministic (total ORDER BY or exact-valued aggregates)
  * so the driver's hash compare against DuckDB is stable.
  */
object ReferenceOps {

  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String) =
    Tables.table(s, dir, name)

  /** Fanned read for the CDC-parser slots: the per-row render+parse
    * chain is the cost (one flatMap, no shuffle), and the single-row-
    * group fixture otherwise runs it on one core
    * ([[Tables.fannedTable]]'s contract). */
  private def tf(s: SparkSession, dir: String, name: String) =
    Tables.fannedTable(s, dir, name)

  private val unionTables =
    Seq(("region", "r_regionkey", "r_name"), ("nation", "n_nationkey", "n_name"))

  private val unionSql =
    """SELECT 'region' AS ns, CAST(r_regionkey AS BIGINT) AS tkey, CAST(r_name AS VARCHAR) AS tname FROM region
      |UNION ALL
      |SELECT 'nation' AS ns, CAST(n_nationkey AS BIGINT) AS tkey, CAST(n_name AS VARCHAR) AS tname FROM nation""".stripMargin

  private def taggedUnion(s: SparkSession, dir: String): DataFrame =
    Tables.taggedUnion(s, dir, unionTables)
      .withColumnRenamed("key", "tkey").withColumnRenamed("name", "tname")

  val queries: Map[String, Q] = Map(
    // the file-format sink/source matrix round-trip (r11): the documents
    // table written through the registry's CsvSink and OrcSink, read
    // back through CsvSource/OrcSource (explicit CSV schema — no
    // inference pass), and summarized per format. count(distinct
    // md5(text)) witnesses content fidelity — a CSV quoting or
    // null-handling bug changes the md5 set; the oracle recomputes every
    // cell from the parquet table for BOTH format rows.
    "format_roundtrip" -> ((s, dir) => {
      import graft.sources.Connectors
      // written once per dir to a per-JVM temp dir; bench iterations
      // and the threaded verify dump read the same copies
      val out = Memo.shared.once(Some(dir), "format-copies") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-fmt").toString
        val d = t(s, dir, "documents")
          .select("doc_id", "lang", "n_chars", "text")
        Connectors.CsvSink(s"$tmp/csv").write(d)
        Connectors.OrcSink(s"$tmp/orc").write(d)
        tmp
      }
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id long, lang string, n_chars long, text string")
      def summarize(df: DataFrame, fmt: String): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
            sum(col("doc_id")).as("sum_id"),
            sum(col("n_chars")).as("sum_chars"),
            sum(length(col("text")).cast("bigint")).as("sum_text_len"),
            countDistinct(md5(col("text").cast("binary")))
              .as("n_text_md5"),
            countDistinct(col("lang")).as("n_langs"))
          .withColumn("fmt", lit(fmt))
      val csv = Envelope.unwrap(Connectors.CsvSource(s"$out/csv", "csv",
        schema = Some(schema)).read(s))
      val orc = Envelope.unwrap(Connectors.OrcSource(s"$out/orc", "orc")
        .read(s))
      summarize(csv, "csv").unionByName(summarize(orc, "orc"))
        .select("fmt", "n_rows", "sum_id", "sum_chars", "sum_text_len",
          "n_text_md5", "n_langs")
        .orderBy("fmt")
    }),

    // §2.9(1) scan + tagged union
    "scan_union" -> ((s, dir) =>
      taggedUnion(s, dir).orderBy(col("ns"), col("tkey"))),

    // §2.9(2) namespace regex filter
    "ns_filter" -> ((s, dir) =>
      Transforms.nsFilter("/^nat/")(taggedUnion(s, dir))
        .orderBy(col("ns"), col("tkey"))),

    // §2.9(3) pick / omit / rename
    "pick_project" -> ((s, dir) =>
      Transforms.pick(Seq("c_custkey", "c_name"))(t(s, dir, "customer"))
        .orderBy("c_custkey")),
    "omit_drop" -> ((s, dir) =>
      Transforms.omit(Seq("c_acctbal", "c_mktsegment"))(t(s, dir, "customer"))
        .orderBy("c_custkey")),
    "rename_fields" -> ((s, dir) =>
      Transforms.rename(Map("c_name" -> "customer_name",
        "c_acctbal" -> "balance"))(
        Transforms.pick(Seq("c_custkey", "c_name", "c_acctbal"))(
          t(s, dir, "customer"))).orderBy("c_custkey")),

    // §2.9(6) remap of the ns column
    "remap_ns" -> ((s, dir) =>
      Transforms.remap(Map("region" -> "geo_region"))(taggedUnion(s, dir))
        .orderBy(col("ns"), col("tkey"))),

    // §2.9(4) skip-filter: eq / regex / numeric-coerced compare
    "skip_eq" -> ((s, dir) =>
      Transforms.skip("c_mktsegment", "==", "BUILDING")(t(s, dir, "customer"))
        .select("c_custkey", "c_mktsegment").orderBy("c_custkey")),
    "skip_regex" -> ((s, dir) =>
      Transforms.skip("c_name", "=~", "00$")(t(s, dir, "customer"))
        .select("c_custkey", "c_name").orderBy("c_custkey")),
    // value arrives as a STRING and is numerically coerced
    // (function/skip/skipper.go:88-111)
    "skip_gt_coerce" -> ((s, dir) =>
      Transforms.skip("c_acctbal", ">", "1000.5")(t(s, dir, "customer"))
        .select("c_custkey", "c_acctbal").orderBy("c_custkey")),

    // §2.9(5) opfilter on a CDC envelope
    "opfilter_whitelist" -> ((s, dir) =>
      Transforms.opFilter(whitelist = Seq(Envelope.Op.Insert, Envelope.Op.Delete))(
        CdcFixtures.eventsCdc(s, dir))
        .select("event_id", "op", "user_id").orderBy("event_id")),
    "opfilter_blacklist" -> ((s, dir) =>
      Transforms.opFilter(blacklist = Seq(Envelope.Op.Noop))(
        CdcFixtures.eventsCdc(s, dir))
        .select("event_id", "op", "user_id").orderBy("event_id")),

    // §2.9(8) resumable ordered scan (mongo catQuery semantics:
    // adaptor/mongodb/reader.go:172-181)
    "resumable_scan" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") > 700)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(500)),

    // §2.9(9) last-per-key compaction (commitlog/compactor.go:35-104)
    "compact_last_per_key" -> ((s, dir) =>
      Compaction.lastPerKey(Seq("user_id"), Seq(col("ts"), col("event_id")))(
        t(s, dir, "events").select("user_id", "ts", "event_id", "event_type", "value"))
        .orderBy("user_id")),

    // same semantics via single-shuffle max_by (the at-scale plan)
    "compact_max_by" -> ((s, dir) =>
      Compaction.lastPerKeyMaxBy(Seq("user_id"), "event_id")(
        t(s, dir, "events").select("user_id", "event_id", "event_type", "value"))
        .orderBy("user_id")),

    // §2.9(10) idempotent upsert: final state after applying the CDC batch
    // to an empty base (insert/update write full doc, delete removes, noop
    // ignored — adaptor/mongodb/writer.go:53-67)
    "upsert_state" -> ((s, dir) => {
      val cdc = CdcFixtures.eventsCdc(s, dir)
      val base = cdc.select("user_id", "value").limit(0)
      Upsert.applyCdc(base, cdc, "user_id", Seq(col("ts"), col("event_id")))
        .orderBy("user_id")
    }),

    // §2.9(7) arbitrary row-UDF over the envelope (goja/otto analogue:
    // rewrite doc fields, derive new ones, drop rows by returning None)
    "row_udf" -> ((s, dir) => {
      val env = Envelope.wrap(t(s, dir, "customer"), "customer")
      graft.functions.RowUdf.transform(env, m => {
        val bal = m.doc.get("c_acctbal").map(_.toDouble).getOrElse(0.0)
        if (bal < 0) None // drop (nil/Skip semantics)
        else Some(m.copy(doc = m.doc +
          ("c_mktsegment" -> m.doc("c_mktsegment").toUpperCase) +
          ("tier" -> (if (bal > 5000) "gold" else "std"))))
      }, Seq("c_custkey", "c_mktsegment", "tier"))
        .orderBy(col("c_custkey").cast("long"))
    }),

    // Live JDBC round-trip (adaptor/postgres reader+writer): parquet →
    // df.write.jdbc into embedded Derby → snapshot read back through the
    // JDBC relation with the resume predicate pushed into the remote
    // query. The oracle sees only the parquet table — equality proves the
    // store round-trip is lossless and the pushdown correct.
    "jdbc_roundtrip" -> ((s, dir) => {
      val url = s"jdbc:derby:memory:oracle${System.nanoTime()};create=true"
      t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
        .write.format("jdbc").mode("overwrite")
        .option("url", url).option("dbtable", "nation").save()
      val back = graft.sources.Jdbc.JdbcTableSource(url, "nation",
        resumeIdCol = Some("n_nationkey"), resumeAfter = Some(9L)).read(s)
      Envelope.unwrap(back).orderBy("n_nationkey")
    }),

    // Oplog-parser throughput + identity (adaptor/mongodb
    // reader.go:216-333): every event row is rendered as a literal
    // oplog.rs insert document, then pushed through the full
    // MongoOplog.changes parse + typed decode. Build→parse is the
    // identity, so the oracle is a plain projection of the base table —
    // equality proves the parser inverts the wire shape exactly (incl.
    // the ts>>32 seconds rule and double round-tripping), and the bench
    // slot makes CDC parse cost scale-visible (one flatMap, no shuffle).
    "oplog_parse" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val lines = tf(s, dir, "events").select(concat(
        lit("""{"ts":{"$timestamp":{"t":"""),
        (col("event_id") + 1700000000L).cast("string"),
        lit(""","i":1}},"h":1,"v":2,"op":"i","ns":"db.events","o":{"_id":"""),
        col("event_id").cast("string"),
        lit(""","user_id":"""), col("user_id").cast("string"),
        lit(""","value":"""), col("value").cast("string"),
        lit("}}")).as("value"))
      val schema = StructType(Seq(StructField("_id", LongType),
        StructField("user_id", LongType), StructField("value", DoubleType)))
      Transforms.decode(schema)(graft.sources.MongoOplog.changes(lines))
        .select(col("_id"), col("user_id"), col("value"),
          col(graft.core.Envelope.TsCol).as("oplog_ts"))
        .orderBy("_id")
    }),

    // Binlog-parser throughput + identity (adaptor/mysql
    // tailer.go:222-401): every event row is rendered as a textual
    // WRITE_ROWS_EVENTv2 line — binlog file (rotating every 3 events to
    // exercise the cross-rotation seq order), LogPos, header ts, string
    // cells — then pushed through the full MysqlBinlog.changes parse
    // (casifyValue per cell) + typed decode. Build→parse is the
    // identity, so the oracle is a plain projection of the base table
    // with seq = ordinal<<48 | pos<<16 recomputed in SQL — equality
    // proves the casify rules, the envelope shape, AND the rotation-
    // aware seq layout. The CDC-parser twin of `oplog_parse` (one
    // flatMap, no shuffle).
    "binlog_parse" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val lines = tf(s, dir, "events").select(concat(
        lit("""{"type":"WRITE_ROWS_EVENTv2","schema":"db","table":"events","""),
        lit(""""file":"mysql-bin.00000"""),
        (pmod(col("event_id"), lit(3)) + 1).cast("string"),
        lit("""","pos":"""), (col("event_id") + 1000L).cast("string"),
        lit(""","ts":"""), (col("event_id") + 1700000000L).cast("string"),
        lit(""","rows":[["""),
        lit("\""), col("event_id").cast("string"), lit("\",\""),
        col("user_id").cast("string"), lit("\",\""),
        col("value").cast("string"), lit("\",\""),
        col("event_type"), lit("\""),
        lit("]]}")).as("value"))
      val columns = Map("db.events" -> Seq(
        ("event_id", "bigint"), ("user_id", "bigint"),
        ("value", "double"), ("event_type", "varchar")))
      val schema = graft.sources.MysqlBinlog.sparkSchema(columns("db.events"))
      Transforms.decode(schema)(
          graft.sources.MysqlBinlog.changes(lines, columns))
        .select(col("event_id"), col("user_id"), col("value"),
          col("event_type"),
          col(graft.core.Envelope.SeqCol).as("seq"),
          col(graft.core.Envelope.TsCol).as("binlog_ts"))
        .orderBy("event_id")
    }),

    // postgres test_decoding CDC parse on the gate (r11 — the third
    // tailer's parser beside binlog_parse/oplog_parse): each events row
    // becomes a literal test_decoding wire line (INSERT or, every third
    // row, UPDATE with the after-image; every 11th user_id the `null`
    // token; event_type single-quoted with a planted `''` escape), then
    // the REAL parser chain runs — change matcher → tuple state machine
    // → casify → extended-JSON envelope → typed decode. Every output
    // cell is a closed form of the source row.
    "pgcdc_parse" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val lines = tf(s, dir, "events").select(concat(
        lit("table public.events: "),
        when(pmod(col("event_id"), lit(3)) === 0, lit("UPDATE: "))
          .otherwise(lit("INSERT: ")),
        lit("event_id[bigint]:"), col("event_id").cast("string"),
        lit(" user_id[bigint]:"),
        when(pmod(col("event_id"), lit(11)) === 0, lit("null"))
          .otherwise(col("user_id").cast("string")),
        lit(" value[double precision]:"), col("value").cast("string"),
        lit(" event_type[character varying]:'it''s "),
        col("event_type"), lit("'")).as("value"))
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("user_id", LongType),
        StructField("value", DoubleType),
        StructField("event_type", StringType)))
      Transforms.decode(schema)(
          graft.sources.PgDecoding.changes(lines, "^public\\.events$"))
        .select(col("event_id"), col("user_id"), col("value"),
          col("event_type"), col(Envelope.OpCol).as("op"),
          col(Envelope.NsCol).as("ns"))
        .orderBy("event_id")
    }),

    // RethinkDB changefeed classification on the gate (r12 — the fourth
    // and last CDC format beside oplog/binlog/pgcdc): each events row
    // becomes a literal {old_val, new_val} change notification —
    // event_id%3 picks update (both, new_val carried) / insert (new_val
    // only) / delete (old_val only, carried) per reader.go:181-190; the
    // carried old_val plants value+1000 so the gate PROVES which side
    // each op carries; user_id goes JSON null every 11th row; event_type
    // plants an escaped quote to witness JSON unescaping — then the REAL
    // Rethink.classify + typed decode runs. Every output cell is a
    // closed form of the source row.
    "rethink_parse" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      def doc(v: org.apache.spark.sql.Column) = concat(
        lit("""{"id":"""), col("event_id").cast("string"),
        lit(""","user_id":"""),
        when(pmod(col("event_id"), lit(11)) === 0, lit("null"))
          .otherwise(col("user_id").cast("string")),
        lit(""","value":"""), v.cast("string"),
        lit(""","event_type":"say \"hi\" """), col("event_type"),
        lit("\"}"))
      val m3 = pmod(col("event_id"), lit(3))
      val lines = tf(s, dir, "events").select(
        when(m3 === 0, concat(lit("""{"old_val":"""),
            doc(col("value") + 1000.0),
            lit(""","new_val":"""), doc(col("value")), lit("}")))
          .when(m3 === 1, concat(lit("""{"new_val":"""),
            doc(col("value")), lit("}")))
          .otherwise(concat(lit("""{"old_val":"""),
            doc(col("value") + 1000.0), lit("}")))
          .as("value"))
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("user_id", LongType),
        StructField("value", DoubleType),
        StructField("event_type", StringType)))
      Transforms.decode(schema, wire = from_json)(
          graft.sources.Rethink.classify(lines, "events"))
        .select(col("id"), col("user_id"), col("value"),
          col("event_type"), col(Envelope.OpCol).as("op"),
          col(Envelope.NsCol).as("ns"))
        .orderBy("id")
    }),

    // Mongo-shaped round-trip (adaptor/mongodb reader+writer): parquet →
    // extended-JSON collection dir via MongoCollectionSink → read back
    // through the graft-mongo DSv2 scan with the resumable `_id > last`
    // cursor pushed (catQuery, reader.go:172-181) AND a
    // collection_filters server-side predicate (mongodb.go:40-46). The
    // oracle sees only the parquet table — equality proves the mejson
    // type round-trip ($date ms-precision) and both pushdowns correct.
    "mongo_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val db = java.nio.file.Files
        .createTempDirectory("graft-mongo-rt").toString
      val src = tf(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts").as("etime"),
          col("value"), col("event_type"))
      graft.sources.Connectors.MongoCollectionSink(db, "events",
        idCol = "event_id").write(Envelope.wrap(src, "events"))
      val back = graft.sources.Connectors.MongoSource(db,
        collection = Some("events"),
        collectionFilters = Some("""{"events": {"value": {"$gt": 50}}}"""),
        schema = Some(StructType(Seq(
          StructField("_id", LongType), StructField("user_id", LongType),
          StructField("etime", TimestampType),
          StructField("value", DoubleType),
          StructField("event_type", StringType)))),
        resumeAfter = Some(1000L)).read(s)
      Envelope.unwrap(back).withColumnRenamed("_id", "event_id")
        .orderBy("event_id")
    }),

    // Extended-JSON codec (pipeline/node.go:461-462, goja.go:94-101):
    // a type-mixed row goes struct → mejson string → back to typed
    // columns. The oracle never sees the string: equality proves the
    // round-trip lost nothing but sub-ms time (BSON datetime is ms).
    "mejson_roundtrip" -> ((s, dir) => {
      import graft.functions.Mejson
      val src = tf(s, dir, "events").select(
        col("event_id"), col("user_id"), col("ts"),
        col("value"), col("event_type"))
      val sch = src.schema
      src.select(Mejson.to_mejson(struct(src.columns.map(col): _*)).as("mj"))
        .select(Mejson.from_mejson(col("mj"), sch).as("d"))
        .select("d.*")
        .orderBy("event_id")
    }),

    // §2.9(11) casifyValue-style type normalization
    // (adaptor/postgres/tailer.go:236-288): json field → int, numeric
    // truncation, timestamp → date, boolean derivation
    "cast_normalize" -> ((s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        floor(col("value")).cast("bigint").as("value_floor"),
        col("ts").cast("date").as("event_date"),
        (col("value") > 100.0).as("is_large"))
        .orderBy("event_id"))
  )

  val oracle: Map[String, String] = Map(
    // every cell a closed form of the source events row
    "pgcdc_parse" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 11 = 0 THEN NULL ELSE user_id END
        |    AS user_id,
        |  value,
        |  'it''s ' || event_type AS event_type,
        |  CASE WHEN event_id % 3 = 0 THEN 'update' ELSE 'insert' END
        |    AS op,
        |  'public.events' AS ns
        |FROM events ORDER BY event_id""".stripMargin,
    // every cell a closed form of the source events row; value+1000 on
    // deletes proves old_val (not new_val) is the carried document
    "rethink_parse" ->
      """SELECT event_id AS id,
        |  CASE WHEN event_id % 11 = 0 THEN NULL ELSE user_id END
        |    AS user_id,
        |  CASE WHEN event_id % 3 = 2 THEN value + 1000 ELSE value END
        |    AS value,
        |  'say "hi" ' || event_type AS event_type,
        |  CASE WHEN event_id % 3 = 0 THEN 'update'
        |       WHEN event_id % 3 = 1 THEN 'insert'
        |       ELSE 'delete' END AS op,
        |  'events' AS ns
        |FROM events ORDER BY id""".stripMargin,
    // every cell recomputed from the parquet table, once per format row
    "format_roundtrip" ->
      """SELECT f.fmt,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_text_md5,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |FROM documents CROSS JOIN (VALUES ('csv'), ('orc')) f(fmt)
        |GROUP BY f.fmt ORDER BY f.fmt""".stripMargin,
    "scan_union" ->
      s"SELECT * FROM ($unionSql) ORDER BY ns, tkey",
    "ns_filter" ->
      s"SELECT * FROM ($unionSql) WHERE regexp_matches(ns, '^nat') ORDER BY ns, tkey",
    "pick_project" ->
      "SELECT c_custkey, c_name FROM customer ORDER BY c_custkey",
    "omit_drop" ->
      "SELECT c_custkey, c_name, c_nationkey FROM customer ORDER BY c_custkey",
    "rename_fields" ->
      "SELECT c_custkey, c_name AS customer_name, c_acctbal AS balance FROM customer ORDER BY c_custkey",
    "remap_ns" ->
      s"SELECT CASE WHEN ns = 'region' THEN 'geo_region' ELSE ns END AS ns, tkey, tname FROM ($unionSql) ORDER BY ns, tkey",
    "skip_eq" ->
      "SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey",
    "skip_regex" ->
      "SELECT c_custkey, c_name FROM customer WHERE regexp_matches(c_name, '00$') ORDER BY c_custkey",
    "skip_gt_coerce" ->
      "SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > CAST('1000.5' AS DOUBLE) ORDER BY c_custkey",
    "opfilter_whitelist" ->
      s"""SELECT event_id, ${CdcFixtures.opMapSql} AS op, user_id FROM events
         |WHERE ${CdcFixtures.opMapSql} IN ('insert','delete') ORDER BY event_id""".stripMargin,
    "opfilter_blacklist" ->
      s"""SELECT event_id, ${CdcFixtures.opMapSql} AS op, user_id FROM events
         |WHERE ${CdcFixtures.opMapSql} <> 'noop' ORDER BY event_id""".stripMargin,
    "resumable_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem
        |WHERE l_orderkey > 700 ORDER BY l_orderkey, l_linenumber LIMIT 500""".stripMargin,
    "compact_last_per_key" ->
      """SELECT user_id, ts, event_id, event_type, value FROM (
        |  SELECT user_id, ts, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "compact_max_by" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "upsert_state" ->
      s"""WITH cdc AS (
         |  SELECT ${CdcFixtures.opMapSql} AS op, ts, event_id, user_id, value FROM events
         |), eff AS (
         |  SELECT * FROM cdc WHERE op IN ('insert','update','delete')
         |), last AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM eff) WHERE rn = 1
         |)
         |SELECT user_id, value FROM last WHERE op <> 'delete' ORDER BY user_id""".stripMargin,
    "row_udf" ->
      """SELECT 'insert' AS op, CAST(0 AS BIGINT) AS ts, 'customer' AS ns,
        |  CAST(c_custkey AS VARCHAR) AS c_custkey,
        |  upper(c_mktsegment) AS c_mktsegment,
        |  CASE WHEN c_acctbal > 5000 THEN 'gold' ELSE 'std' END AS tier
        |FROM customer WHERE c_acctbal >= 0
        |ORDER BY CAST(c_custkey AS BIGINT)""".stripMargin,
    "jdbc_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_nationkey > 9 ORDER BY n_nationkey""".stripMargin,
    "oplog_parse" ->
      """SELECT event_id AS _id, user_id, value,
        |  event_id + 1700000000 AS oplog_ts
        |FROM events ORDER BY _id""".stripMargin,
    "binlog_parse" ->
      """SELECT event_id, user_id, value, event_type,
        |  ((event_id % 3) + 1) * 281474976710656
        |    + (event_id + 1000) * 65536 AS seq,
        |  event_id + 1700000000 AS binlog_ts
        |FROM events ORDER BY event_id""".stripMargin,
    "mongo_roundtrip" ->
      """SELECT event_id, user_id, date_trunc('milliseconds', ts) AS etime,
        |  value, event_type FROM events
        |WHERE event_id > 1000 AND value > 50 ORDER BY event_id""".stripMargin,
    "mejson_roundtrip" ->
      """SELECT event_id, user_id, date_trunc('milliseconds', ts) AS ts,
        |  value, event_type FROM events ORDER BY event_id""".stripMargin,
    "cast_normalize" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |  CAST(floor(value) AS BIGINT) AS value_floor,
        |  CAST(ts AS DATE) AS event_date,
        |  value > 100.0 AS is_large
        |FROM events ORDER BY event_id""".stripMargin
  )
}
