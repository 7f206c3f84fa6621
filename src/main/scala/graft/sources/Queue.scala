package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Envelope
import graft.sources.Connectors.Sink

/** Queue-shaped source/sink — the reference's RabbitMQ adaptor
  * (`adaptor/rabbitmq/reader.go:34-135`, `writer.go:34-56`) re-expressed
  * over a directory-of-queues: `<root>/<queue>/` holds message files, one
  * JSON body per line. This is the one structurally distinct source mode
  * left in the reference inventory: a PURE-SYNC stream — no Copy/snapshot
  * phase exists for a queue (`reader.go:117-120`: Mode is always Sync),
  * and consumption is destructive-on-ack rather than a rescannable table.
  *
  * Mappings, cited:
  *
  *   - queue listing via the management API filtered by `filterFn`
  *     (`reader.go:59-101`) → subdir listing filtered by the ns regex;
  *     the listing happens ONCE at stream start, like the reference;
  *   - `consumeQueue` (`reader.go:104-135`): every body JSON-decoded,
  *     undecodable bodies logged-and-skipped, each message emitted as
  *     op=insert with ns=queue → a per-queue file stream union, malformed
  *     lines dropped by the permissive parser;
  *   - **ack ↔ checkpoint commit**: the reference acks AFTER the message
  *     is handed downstream (`reader.go:130`); Structured Streaming's
  *     file-source commit log marks a file consumed only when its epoch
  *     commits — the same at-least-once contract, per epoch instead of
  *     per message. `cleanSource=delete|archive` makes the ack physical
  *     (consumed messages leave the queue dir), exactly AMQP ack
  *     semantics over files;
  *   - publisher (`writer.go:34-56`): only Insert/Update publish, deletes
  *     are silently ignored; exchange = namespace, routing key static or
  *     read from a document field (`KeyInField`) → one dir per ns with
  *     `rk=<key>` partition subdirs, bodies as plain JSON.
  */
object Queue {

  /** The consumer over the listed queues (`ChangeLog.perSubdir`):
    * envelopes (op=insert, ts, ns=queue, mode=sync, data=JSON body).
    * A tailing text is the pure-Sync consumer stream; a draining one the
    * batch drain of currently-pending messages (an operational peek —
    * the reference has no batch mode for queues). The listing is fixed
    * at start; the text's options pass through to the file source
    * (`maxFilesPerTrigger`, `cleanSource`, `sourceArchiveDir`, ...). */
  def changes(text: ChangeLog.Text, root: String, nsRegex: String = ".*")
      : DataFrame = {
    val nested = text.copy(options =
      text.options + ("recursiveFileLookup" -> "true"))
    ChangeLog.perSubdir(root, nsRegex) { q =>
      nested.lines(s"$root/$q")
        .select(
          lit(Envelope.Op.Insert).as(Envelope.OpCol),
          lit(0L).as(Envelope.TsCol),
          lit(q).as(Envelope.NsCol),
          lit(Envelope.Mode.Sync).as(Envelope.ModeCol),
          col("value").as("data"))
        .filter(col("data").startsWith("{")) // undecodable → skip (reader.go:126-128)
    }
  }

  /** Publisher (`writer.go:34-56`): Insert/Update bodies only (deletes
    * ignored), exchange = the envelope ns, routing key static or from a
    * document field. Bodies land as JSON lines under
    * `<root>/<ns>/rk=<key>/`. */
  final case class QueuePublishSink(root: String, routingKey: String = "",
      keyInField: Boolean = false) extends Sink {
    def write(df: DataFrame): Unit = {
      require(Envelope.isEnveloped(df), "publisher needs envelope columns")
      val publishable = df.filter(col(Envelope.OpCol)
        .isin(Envelope.Op.Insert, Envelope.Op.Update))
      val rk =
        if (keyInField) col(routingKey).cast("string")
        else lit(routingKey)
      // the published body is msg.Data() alone (`writer.go:43-48`)
      val docCols = Envelope.unwrap(publishable).columns.toSeq
      val bodies = publishable
        .withColumn("rk", coalesce(rk, lit("")))
        .select(col(Envelope.NsCol).as("__ex"), col("rk"),
          to_json(struct(docCols.map(col): _*)).as("value"))
      // ONE Spark job for every exchange: a partitioned write into a
      // scratch dir, then driver-side metadata-only renames into the
      // `<root>/<ns>/rk=<key>/` layout (rename count is bounded by
      // exchange × routing-key cardinality, not data volume)
      val tmp = s"$root/.__publish_${java.util.UUID.randomUUID}"
      bodies.write.mode("overwrite").partitionBy("__ex", "rk").text(tmp)
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
      val unesc = (s: String) => org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.unescapePathName(s)
      try {
        for (exDir <- fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
               if exDir.isDirectory &&
                 exDir.getPath.getName.startsWith("__ex=");
             ns = unesc(exDir.getPath.getName.stripPrefix("__ex="));
             rkDir <- fs.listStatus(exDir.getPath)
               if rkDir.isDirectory) {
          val target = new org.apache.hadoop.fs.Path(
            s"$root/$ns/${rkDir.getPath.getName}")
          fs.mkdirs(target.getParent)
          if (!fs.exists(target)) fs.rename(rkDir.getPath, target)
          else fs.listStatus(rkDir.getPath)
            .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
            .foreach(f => fs.rename(f.getPath,
              new org.apache.hadoop.fs.Path(target, f.getPath.getName)))
        }
      } finally {
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true); ()
      }
    }
  }
}
