package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Envelope

/** The one change-log reader behind every tail adaptor: postgres
  * test_decoding, mongodb oplog, mysql binlog, rethinkdb changefeed and
  * rabbitmq queue. Each reference tailer emits the same `(op, ts, ns,
  * data)` message set (`message/message.go:22-77`) and each log here is
  * a text file stream, so what the adaptors share lives once:
  *
  *   - [[Text]]: where a log's lines come from — `spark.read` (a batch
  *     drain of what the log holds now) or `spark.readStream` (the
  *     Sync-phase tail). Nothing else differs between the two;
  *   - [[envelopes]]: text frame → the adaptor's line parser → Sync
  *     envelopes `(op, ts, ns, __mode[, __seq], data)`, ns-filtered;
  *   - [[subdirs]] / [[perSubdir]]: the one per-table / per-queue listing;
  *   - [[LogSource]]: the registry's one tail-capable source;
  *   - [[applyCdc]]: a batch applied in log (`__seq`) order.
  *
  * An adaptor keeps only its line parser and its own params. `data`
  * stays the wire document until `Transforms.decode` types it.
  */
object ChangeLog {

  /** A log reader: a batch drain or a streaming tail, with file-source
    * `options` (`maxFilesPerTrigger`, `cleanSource`, ...). */
  final case class Text(spark: SparkSession, tail: Boolean,
      options: Map[String, String] = Map.empty) {
    def lines(path: String): DataFrame =
      if (tail) spark.readStream.options(options).text(path)
      else spark.read.options(options).text(path)
  }

  /** One parsed change. `seq` is the log's total order; a log without
    * one (test_decoding, changefeed) passes 0 and its envelopes carry no
    * `__seq` column. */
  final case class Entry(op: String, ts: Long, ns: String, seq: Long,
      data: String)

  /** Parse a text frame (`value` column, batch or streaming) into Sync
    * envelopes: `(op, ts, ns, __mode, data)`, plus `__seq` when the log
    * is `ordered`. `nsRegex` is the listing-level filterFn every tailer
    * applies after parse ([[Envelope.nsMatch]]); `None` for a feed whose
    * namespace is fixed. */
  def envelopes(lines: DataFrame, nsRegex: Option[String],
      ordered: Boolean = false)(parse: String => IterableOnce[Entry])
      : DataFrame = {
    import lines.sparkSession.implicits._
    val parsed = lines.select(col("value").cast("string")).as[String]
      .flatMap(parse).toDF()
    val kept =
      nsRegex.fold(parsed)(re => parsed.filter(Envelope.nsMatch(re)))
    val seq = if (ordered) Seq(col("seq").as(Envelope.SeqCol)) else Nil
    kept.select(Seq(col("op").as(Envelope.OpCol),
      col("ts").as(Envelope.TsCol), col("ns").as(Envelope.NsCol),
      lit(Envelope.Mode.Sync).as(Envelope.ModeCol)) ++ seq :+ col("data"): _*)
  }

  /** The subdirectories of `root` whose name matches the ns pattern,
    * sorted: rethink's `TableList()` (`reader.go:81-103`) and the queue
    * management-API listing (`rabbitmq/reader.go:59-101`). */
  def subdirs(root: String, nsRegex: String = ".*"): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(root)
    require(java.nio.file.Files.isDirectory(p), s"not a directory: $root")
    val s = java.nio.file.Files.list(p)
    try s.iterator().asScala
      .filter(java.nio.file.Files.isDirectory(_))
      .map(_.getFileName.toString)
      .filter(Envelope.nsMatches(nsRegex))
      .toSeq.sorted
    finally s.close()
  }

  /** `frame(name)` for every listed subdirectory, unioned by name — one
    * feed per rethink table, one consumer per queue. The listing happens
    * once, when the frame is built, like the reference's. */
  def perSubdir(root: String, nsRegex: String)(frame: String => DataFrame)
      : DataFrame = {
    val names = subdirs(root, nsRegex)
    require(names.nonEmpty, s"nothing under $root matches $nsRegex")
    names.map(frame).reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The registry's one tail-capable source over a text change log:
    * `envelopes` builds the adaptor's envelopes from a [[Text]]; `read`
    * drains the log, `stream` tails it (`PipelineSpec.runStream`). */
  final case class LogSource(envelopes: Text => DataFrame)
      extends Connectors.StreamableSource {
    def read(spark: SparkSession): DataFrame =
      envelopes(Text(spark, tail = false))
    def stream(spark: SparkSession): DataFrame =
      envelopes(Text(spark, tail = true))
  }

  /** Apply a batch of ordered log envelopes to `base` in log order:
    * decode `data` (extended JSON) to `schema`, then `Upsert.applyCdc`
    * ordered by `__seq`, so a delete-then-insert of one id inside a batch
    * resolves to the insert — the reference's sequential apply. The
    * result carries `base`'s columns only. */
  def applyCdc(base: DataFrame, envelopes: DataFrame, schema: StructType,
      idCol: String): DataFrame =
    graft.operators.Upsert.applyCdc(base,
      graft.functions.Transforms.decode(schema)(envelopes), idCol,
      Seq(col(Envelope.SeqCol)))
}
