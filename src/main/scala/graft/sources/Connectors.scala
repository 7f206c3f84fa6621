package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.core.Envelope

/** Batch connectors. The reference's adaptors (mongodb/postgres/mysql/
  * elasticsearch/rethinkdb/rabbitmq/file — SURVEY §2.1/§2.2) reduce, on the
  * Spark side, to DataFrame readers/writers plus the envelope contract:
  * every source yields (op, ts, ns, doc-columns), every sink consumes it.
  * With no live databases in this environment, the file-backed formats are
  * the concrete implementations; a JDBC/NoSQL connector drops into the same
  * trait without touching the pipeline layer.
  */
object Connectors {

  /** Reader contract, mirroring `client.Reader.Read(resumeMap, nsFilter)`
    * (`client/client.go:35-39`): a pushed-down namespace predicate and an
    * optional resume position. */
  trait Source {
    def read(spark: SparkSession): DataFrame
  }

  /** A source with a Sync-phase tail: `stream` returns the SAME envelope
    * shape as `read`, but as a streaming DataFrame (readStream). The
    * config-driven pipeline drive (`PipelineSpec.runStream`) requires
    * this trait. The reference's tail-capable adaptors (oplog, binlog,
    * test_decoding, queue) are each one `ChangeLog.LogSource`: the one
    * change-log reader turns a text log into Sync envelopes, and `read`
    * and `stream` differ only in `spark.read` vs `spark.readStream`. */
  trait StreamableSource extends Source {
    def stream(spark: SparkSession): DataFrame
  }

  /** JSON-lines file source (`adaptor/file/reader.go:25-72`): the whole
    * file is one namespace; each line one document, op=insert. */
  final case class JsonLinesSource(path: String, ns: String,
      schema: Option[StructType] = None,
      maxFilesPerTrigger: Option[Int] = None) extends StreamableSource {
    def read(spark: SparkSession): DataFrame = {
      val r = spark.read
      val df = schema.map(r.schema).getOrElse(r).json(path)
      Envelope.wrap(df, ns)
    }
    /** File-stream tail of the dir: each newly-arrived .jsonl file lands
      * as (part of) a micro-batch epoch — the ingest drive for the
      * incremental-index sinks. Streaming reads need the schema declared
      * up front (Spark cannot infer on an unbounded source).
      * `maxFilesPerTrigger` caps files per micro-batch (smaller epochs —
      * e.g. to let an index sink's maintenance policy fire mid-drain
      * instead of swallowing a backlog as one giant epoch). */
    def stream(spark: SparkSession): DataFrame = {
      val s = schema.getOrElse(throw new IllegalArgumentException(
        "file source: streaming needs an explicit 'schema' (DDL string)"))
      val r = spark.readStream.schema(s)
      val capped = maxFilesPerTrigger
        .fold(r)(n => r.option("maxFilesPerTrigger", n))
      Envelope.wrap(capped.json(path), ns)
    }
  }

  /** CSV file source (header row, optional explicit schema; schema
    * inference costs an extra pass — pass a schema at scale).
    * `multiLine` so quoted newline-bearing cells round-trip — the
    * default line-splitting reader breaks them. The trade is documented:
    * multiLine disables intra-file split parallelism (a file parses as
    * one unit), so at scale prefer many files over one giant CSV. */
  final case class CsvSource(path: String, ns: String,
      schema: Option[StructType] = None, header: Boolean = true)
      extends Source {
    def read(spark: SparkSession): DataFrame = {
      val r = spark.read.option("header", header.toString)
        .option("multiLine", "true")
      val df = schema.map(r.schema)
        .getOrElse(r.option("inferSchema", "true")).csv(path)
      Envelope.wrap(df, ns)
    }
  }

  /** ORC file source. */
  final case class OrcSource(path: String, ns: String) extends Source {
    def read(spark: SparkSession): DataFrame =
      Envelope.wrap(spark.read.orc(path), ns)
  }

  /** Parquet table-directory source: one table per file/dir, namespace
    * tagged, resumable via `idCol > lastId` pushed to the scan
    * (`adaptor/mongodb/reader.go:172-181` catQuery semantics). */
  final case class TableSource(dir: String, table: String,
      resumeIdCol: Option[String] = None,
      resumeAfter: Option[Long] = None) extends Source {
    def read(spark: SparkSession): DataFrame = {
      val base = graft.core.Tables.table(spark, dir, table)
      // resume = the pushed-down predicate only; NO global orderBy — that
      // would shuffle-sort the whole table for an ordering no batch sink
      // needs (the reference's cursor is sequential, a DataFrame isn't)
      val resumed = (resumeIdCol, resumeAfter) match {
        case (Some(c), Some(v)) => base.filter(col(c) > v)
        case _ => base
      }
      Envelope.wrap(resumed, table)
    }
  }

  /** Multi-table source: union of tagged per-table envelopes, reading only
    * tables whose name matches the regex (pushdown of the ns filter into
    * the listing — `pipeline/node.go:453`, `adaptor/postgres/reader.go:61-88`). */
  final case class MultiTableSource(dir: String, tables: Seq[String],
      nsRegex: String = ".*") extends Source {
    def read(spark: SparkSession): DataFrame = {
      val chosen = tables.filter(Envelope.nsMatches(nsRegex))
      require(chosen.nonEmpty, s"no table matches $nsRegex")
      chosen.map(t => TableSource(dir, t).read(spark))
        .reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** Mongo-shaped source over the `graft-mongo` DSv2 connector
    * (sources.dsv2.MongoDocsV2): a database dir of extended-JSON
    * collection dirs with `system.*` exclusion, ns-regex listing
    * pushdown, `collection_filters` server-side predicates and a
    * resumable `_id > last` cursor — the reference's mongodb snapshot
    * reader (`adaptor/mongodb/reader.go:41-214`). The envelope `ns` is
    * the scan's own collection-name column for multi-collection reads,
    * or the single collection. */
  final case class MongoSource(dbDir: String,
      collection: Option[String] = None, nsRegex: String = ".*",
      collectionFilters: Option[String] = None,
      schema: Option[StructType] = None,
      resumeAfter: Option[Any] = None) extends Source {
    def read(spark: SparkSession): DataFrame = {
      var r = spark.read.format("graft-mongo")
      collection.foreach(c => r = r.option("collection", c))
      collectionFilters.foreach(f => r = r.option("collection_filters", f))
      r = r.option("ns", nsRegex)
      // multi-collection reads need the collection tag: ask the scan for
      // its ns column unless the caller's schema already carries one
      val withNs = schema.map { s =>
        if (s.fieldNames.contains("ns") || collection.isDefined) s
        else s.add("ns", org.apache.spark.sql.types.StringType)
      }
      val df = withNs.map(r.schema).getOrElse(r).load(dbDir)
      // resume cursor: a plain Column filter — Catalyst pushes it into
      // the DSv2 scan as GreaterThan("_id", last) (catQuery semantics)
      val resumed = resumeAfter match {
        case Some(v) => df.filter(col("_id") > lit(v))
        case None => df
      }
      if (resumed.columns.contains("ns")) {
        val docCols = resumed.columns.filter(_ != "ns").map(col).toSeq
        resumed.select(
          lit(Envelope.Op.Insert).as(Envelope.OpCol) +:
          lit(0L).as(Envelope.TsCol) +:
          col("ns").as(Envelope.NsCol) +: docCols: _*)
      } else Envelope.wrap(resumed, collection.getOrElse("mongo"))
    }
  }

  /** Sink contract (`client/client.go:41-44`). Implementations must be
    * idempotent per batch (at-least-once delivery — `DESIGN.md` §Message
    * Guarantees). */
  trait Sink {
    def write(df: DataFrame): Unit
  }

  /** A sink whose idempotency protocol is keyed by the STREAMING epoch id
    * (the incremental index family: a replayed epoch sees its marker dir
    * and skips). `Pipeline.runStream` routes the foreachBatch epoch id
    * here; the batch-mode `write` runs as epoch 0 — a re-run of a batch
    * pipeline into the same index dir is likewise a no-op replay. */
  trait EpochSink extends Sink {
    def writeEpoch(df: DataFrame, epochId: Long): Unit
    def write(df: DataFrame): Unit = writeEpoch(df, 0L)
  }

  /** JSON-lines file sink (`adaptor/file/writer.go:21-35`). */
  final case class JsonLinesSink(path: String) extends Sink {
    def write(df: DataFrame): Unit =
      df.write.mode("overwrite").json(path)
  }

  /** Parquet sink, optionally partitioned by namespace so multi-ns flows
    * land as one dir per table (the bulk-writer per-ns buffering of
    * `adaptor/mongodb/bulk.go:26,50-61`, done declaratively). */
  final case class ParquetSink(path: String, partitionByNs: Boolean = false)
      extends Sink {
    def write(df: DataFrame): Unit = {
      val w = df.write.mode("overwrite")
      (if (partitionByNs && df.columns.contains(Envelope.NsCol))
        w.partitionBy(Envelope.NsCol) else w).parquet(path)
    }
  }

  /** CSV file sink (header row; atomic columns only — CSV cannot carry
    * arrays/structs). Whitespace-exact: Spark's write-side
    * ignoreLeading/TrailingWhiteSpace default to TRUE, which silently
    * trims padded cells — content fidelity demands they stay as written
    * (the matching read side sets multiLine for newline-bearing cells). */
  final case class CsvSink(path: String, header: Boolean = true)
      extends Sink {
    def write(df: DataFrame): Unit =
      df.write.mode("overwrite").option("header", header.toString)
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
  }

  /** ORC file sink. */
  final case class OrcSink(path: String) extends Sink {
    def write(df: DataFrame): Unit =
      df.write.mode("overwrite").orc(path)
  }

  /** Mongo-shaped collection sink: documents written as extended-JSON
    * lines into `<db>/<collection>/` — the format `MongoSource` reads
    * back. `idCol` is hoisted to `_id` (the reference's writers key every
    * op on `_id`: `adaptor/mongodb/writer.go:19-67`); envelope columns
    * are dropped. Bulk by construction — one file per partition, the
    * per-namespace buffering of `adaptor/mongodb/bulk.go:26,50-61` done
    * declaratively. Snapshot-idempotent via overwrite. */
  final case class MongoCollectionSink(dbDir: String, collection: String,
      idCol: String = "_id", mode: String = "overwrite") extends Sink {
    def write(df: DataFrame): Unit = {
      val doc = Envelope.unwrap(df)
      val hoisted =
        if (idCol != "_id" && doc.columns.contains(idCol))
          doc.withColumnRenamed(idCol, "_id")
        else doc
      // _id first, then the rest in stable order (mejson objects keep
      // field order; a deterministic layout keeps re-reads stable)
      val cols = "_id" +: hoisted.columns.filter(_ != "_id").toSeq
      hoisted
        .select(graft.functions.Mejson.to_mejson(
          struct(cols.map(col): _*)).as("value"))
        .write.mode(mode).text(s"$dbDir/$collection")
    }
  }

  /** CDC-applying mongo writer — the Sync-phase half of the reference's
    * mongodb writer (`adaptor/mongodb/writer.go:19-67`: insert-dup→update,
    * update-as-wholesale-replace, delete-by-id) as a config-drivable sink.
    * Each `write` takes an OPLOG ENVELOPE batch (op/ts/ns/seq/data), reads
    * the target collection's current state, applies the batch in oplog
    * order (`MongoOplog.applyCdc`, update-refetch against `liveDbDir` —
    * the live source, like `getOriginalDoc`), and replace-writes the
    * collection. Idempotent per batch: replaying an epoch re-derives the
    * same end state, the at-least-once contract every reference writer
    * keeps. The doc schema comes from sampling the live collection
    * (`graft-mongo` inference), so config needs no column list. */
  final case class MongoSyncSink(dbDir: String, collection: String,
      liveDbDir: Option[String] = None) extends Sink {
    def write(envelopes: DataFrame): Unit = {
      val spark = envelopes.sparkSession
      val liveDb = liveDbDir.getOrElse(dbDir)
      val live = Envelope.unwrap(
        MongoSource(liveDb, collection = Some(collection)).read(spark))
      val docSchema = live.schema
      val targetPath = java.nio.file.Paths.get(dbDir, collection)
      val target =
        if (java.nio.file.Files.exists(targetPath))
          Envelope.unwrap(MongoSource(dbDir, collection = Some(collection),
            schema = Some(docSchema)).read(spark))
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], docSchema)
      val next = MongoOplog.applyCdc(target.localCheckpoint(true),
        envelopes, docSchema, current = Some(live.localCheckpoint(true)))
      MongoCollectionSink(dbDir, collection).write(
        Envelope.wrap(next.localCheckpoint(true), collection))
    }
  }

  /** Collecting sink for tests/debug (bounded!). */
  final class MemorySink extends Sink {
    @volatile var batches: Vector[Array[org.apache.spark.sql.Row]] = Vector.empty
    def write(df: DataFrame): Unit = synchronized { batches :+= df.collect() }
    def rows: Seq[org.apache.spark.sql.Row] = batches.flatten
  }
}
