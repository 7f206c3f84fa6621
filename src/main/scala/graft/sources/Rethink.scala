package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Envelope
import graft.sources.Connectors.Sink

/** RethinkDB adaptor — reader + changefeed + writer
  * (`adaptor/rethinkdb/reader.go:35-199`, `writer.go:48-166`) over a
  * directory-of-tables: `<root>/<table>/` holds JSON-lines documents
  * keyed by `id` (RethinkDB's primary key is literally named `id`).
  *
  * Reader (`reader.go:35-199`): `TableList()` filtered by the ns
  * predicate → per-table full scan as op=insert Copy-phase envelopes
  * (`reader.go:131-137`), then the changefeed.
  *
  * Changefeed classification (`reader.go:155-190`), reproduced exactly:
  * each change notification is `{error, old_val, new_val}` —
  *
  *   - `error` non-empty        → the feed fails loudly
  *   - old_val ∧ new_val        → Update carrying new_val
  *   - new_val only             → Insert carrying new_val
  *   - old_val only             → Delete carrying old_val
  *
  * all with Mode=Sync. The feed is modeled as an append-only log dir per
  * table (`<changesRoot>/<table>/`), one notification per line — the
  * same file-stream stand-in the pg test_decoding parser uses.
  *
  * Writer (`writer.go:48-166`): every insert/update lands as
  * `Insert(..., Conflict: "replace")` — i.e. REPLACE-on-id upsert —
  * deletes are point deletes by id, `_id` is renamed to `id` unless an
  * `id` already exists (`prepareDocument`, `writer.go:96-106`), and
  * "Duplicate primary key" errors are swallowed (`writer.go:154-158`,
  * replace semantics make them unobservable here by construction). The
  * per-table bulk buffers + 2 s timer map to one batch write per table
  * per epoch.
  */
object Rethink {

  /** Copy-phase snapshot: `TableList()` + ns filter (`reader.go:81-103`,
    * `ChangeLog.subdirs`), then per-table scans as ns-tagged insert
    * envelopes (`reader.go:131-137`). Pass a schema at scale (inference
    * costs a pass, as everywhere). */
  def snapshot(spark: SparkSession, root: String, nsRegex: String = ".*",
      schema: Option[StructType] = None): DataFrame =
    ChangeLog.perSubdir(root, nsRegex) { t =>
      val r = spark.read
      val df = schema.map(r.schema).getOrElse(r).json(s"$root/$t")
      Envelope.wrap(df, t).withColumn(Envelope.ModeCol,
        lit(Envelope.Mode.Copy))
    }

  /** Classify one feed's notifications (`reader.go:175-190`). Input: a
    * text frame of `{error, old_val, new_val}` JSON lines, batch or
    * streaming; output: CDC envelopes (`ChangeLog.envelopes`, ns = the
    * table) with `data` = the carried document as a JSON string. An
    * error notification fails the task — the reference pushes it on
    * `errc` and stops the feed. */
  def classify(lines: DataFrame, table: String): DataFrame =
    ChangeLog.envelopes(lines, nsRegex = None) { line =>
      org.json4s.jackson.JsonMethods.parseOpt(line) match {
        case Some(j: org.json4s.JObject) =>
          val err = j \ "error" match {
            case org.json4s.JString(e) if e.nonEmpty => Some(e)
            case _ => None
          }
          err.foreach(e => throw new IllegalStateException(
            s"changefeed error on $table: $e")) // reader.go:176-177
          def opt(f: String): Option[org.json4s.JValue] =
            j \ f match {
              case org.json4s.JNothing | org.json4s.JNull => None
              case v => Some(v)
            }
          val carried = (opt("old_val"), opt("new_val")) match {
            case (Some(_), Some(nv)) => Some((Envelope.Op.Update, nv))
            case (None, Some(nv)) => Some((Envelope.Op.Insert, nv))
            case (Some(ov), None) => Some((Envelope.Op.Delete, ov))
            case (None, None) => None // state notifications etc: skip
          }
          carried.map { case (op, doc) => ChangeLog.Entry(op, 0L, table, 0L,
            org.json4s.jackson.JsonMethods.compact(doc)) }
        case _ => None
      }
    }

  /** The tail phase: one feed per table dir under `changesRoot`, unioned
    * (`reader.go:61-71` spawns one sendChanges goroutine per table); a
    * tailing text streams it, a draining one reads it once. */
  def changefeed(text: ChangeLog.Text, changesRoot: String,
      nsRegex: String = ".*"): DataFrame =
    ChangeLog.perSubdir(changesRoot, nsRegex)(t =>
      classify(text.lines(s"$changesRoot/$t"), t))

  /** Conflict:"replace" writer (`writer.go:48-166`): applies an envelope
    * batch to `<root>/<table>/` as a replace-on-id upsert — insert and
    * update are indistinguishable (both REPLACE, `writer.go:62,85`),
    * delete removes by id, `_id` renames to `id` unless `id` exists
    * (`prepareDocument`). Within a batch the LAST op per id wins (the
    * reference applies sequentially): pass `orderCols` naming the CDC
    * arrival order (a seq/offset/ts column, like `Upsert.applyCdc`) —
    * required whenever the batch can carry >1 op for an id, because
    * physical row order is NOT arrival order after any shuffle or union.
    * With no `orderCols` the sink falls back to the envelope `ts` column
    * and REJECTS batches where that leaves the winner ambiguous. The
    * rewrite is a swap: new snapshot written beside the table, then
    * renamed in. */
  final case class RethinkTableSink(root: String, table: String,
      orderCols: Seq[org.apache.spark.sql.Column] = Nil)
      extends Sink {
    def write(df: DataFrame): Unit = {
      val spark = df.sparkSession
      require(Envelope.isEnveloped(df), "rethink sink needs envelope columns")
      // prepareDocument: _id → id unless id already present
      val cols = df.columns
      val renamed =
        if (cols.contains("id") || !cols.contains("_id")) df
        else df.withColumnRenamed("_id", "id")
      require(renamed.columns.contains("id"),
        s"rethink sink: batch has no id/_id column")
      val writes = renamed
        .filter(col(Envelope.OpCol).isin(Envelope.Op.Insert,
          Envelope.Op.Update, Envelope.Op.Delete))
      val order =
        if (orderCols.nonEmpty) orderCols else Seq(col(Envelope.TsCol))
      if (orderCols.isEmpty) {
        // no explicit order: the ts column must totally order each id's
        // ops, or "last op wins" would be decided by partition layout
        val ambiguous = writes.groupBy(col("id"), col(Envelope.TsCol))
          .count().filter(col("count") > 1).limit(1).count()
        require(ambiguous == 0,
          s"rethink sink: multiple ops per (id, ${Envelope.TsCol}) — " +
            "pass orderCols naming the CDC arrival order")
      }
      // last op per id wins, in explicit arrival order (sequential apply)
      val effective = graft.operators.Upsert.collapse("id", order)(writes)
      val survivors = Envelope.unwrap(
        effective.filter(col(Envelope.OpCol) =!= Envelope.Op.Delete))
      val dir = s"$root/$table"
      // read the current table with its OWN inferred schema: replace-on-id
      // must not strip fields from untouched documents just because this
      // batch's schema lacks them (unionByName fills both directions)
      val current =
        if (new java.io.File(dir).isDirectory) Some(spark.read.json(dir))
        else None
      val untouched = current.map(_.join(
          effective.select(col("id")), Seq("id"), "left_anti"))
      val next = untouched.map(u => u.unionByName(survivors,
        allowMissingColumns = true)).getOrElse(survivors)
        .localCheckpoint(true) // materialize BEFORE touching the dir
      val tmp = s"$root/.${table}__swap"
      next.select(to_json(struct(next.columns.map(col): _*)).as("value"))
        .write.mode("overwrite").text(tmp)
      // swap in (same hygiene as FileCompaction: never leave a half table)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      fs.rename(new org.apache.hadoop.fs.Path(tmp),
        new org.apache.hadoop.fs.Path(dir))
      ()
    }
  }
}
