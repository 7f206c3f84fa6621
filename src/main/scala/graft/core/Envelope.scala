package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's message envelope (`message/message.go:22-77`): every
  * message is (op, ts, ns, data). Here the envelope is a column convention on
  * a DataFrame rather than a per-row struct: `op`, `ts`, `ns` columns ride
  * alongside the document's own columns, so the whole flow stays columnar and
  * codegen-friendly instead of one-message-at-a-time (`DESIGN.md` §Messages).
  */
object Envelope {

  /** Operations enum, mirroring `message/ops/ops.go:12-20`. */
  object Op {
    val Insert = "insert"
    val Update = "update"
    val Delete = "delete"
    val Command = "command"
    val Noop = "noop"
    val Skip = "skip"
    val all: Seq[String] = Seq(Insert, Update, Delete, Command, Noop, Skip)
  }

  /** Phase marker, mirroring `commitlog/logentry.go:77-85` Copy/Sync modes:
    * batch snapshot vs CDC tail. */
  object Mode {
    val Copy = "copy"
    val Sync = "sync"
    val Complete = "complete"
  }

  val OpCol = "op"
  val TsCol = "ts"
  val NsCol = "ns"

  /** Sync-phase metadata beyond op/ts/ns: the Copy/Sync phase marker and
    * the CDC total-order column. Namespaced with a reserved `__` prefix
    * so a replicated table whose PAYLOAD has a column literally named
    * `mode` or `seq` is never conflated with envelope metadata —
    * [[unwrap]] drops metadata by these exact names, and a bare-name
    * match would silently eat the user's column. */
  val ModeCol = "__mode"
  val SeqCol = "__seq"

  /** The one namespace rule (`pipeline/node.go:96-100`:
    * `regexp.Compile(strings.Trim(ns, "/"))`): a config `ns` value, bare
    * or `/re/`-wrapped, matched with find() semantics — never anchored
    * for the user, since wrapping the pattern in `.*…*` would break
    * alternation (`^a|^b`). `nsMatch` is the row predicate on the `ns`
    * column (Spark's rlike is find()); `nsMatches` the same test for a
    * listing (table, collection, queue and feed names). */
  def nsMatch(nsRegex: String): Column = col(NsCol).rlike(nsTrim(nsRegex))
  def nsMatches(nsRegex: String): String => Boolean = {
    val re = java.util.regex.Pattern.compile(nsTrim(nsRegex))
    re.matcher(_).find()
  }
  private def nsTrim(nsRegex: String): String =
    nsRegex.stripPrefix("/").stripSuffix("/")

  /** Wrap a plain table read as an insert-mode snapshot stream of envelopes
    * (what a reference snapshot reader emits: op=insert, mode=Copy,
    * `adaptor/mongodb/reader.go:146-151`). `ts` is arrival time in the
    * reference (`message/message.go:63-67`); batch snapshots use a constant
    * so results stay deterministic.
    *
    * Document columns that collide with the envelope names (a table with
    * its own `ts`/`op`/`ns`) are prefixed `doc_` — the reference keeps the
    * envelope separate from the doc map, so a flat-column representation
    * must rename to avoid duplicate columns (which would fail every
    * downstream write).
    */
  def wrap(df: DataFrame, ns: String, op: String = Op.Insert,
           ts: Long = 0L): DataFrame = {
    val reserved = Set(OpCol, TsCol, NsCol)
    val docCols = df.columns.map { c =>
      if (reserved.contains(c)) col(c).as(s"doc_$c") else col(c)
    }
    df.select(
      lit(op).as(OpCol) +:
      lit(ts).as(TsCol) +:
      lit(ns).as(NsCol) +:
      docCols.toSeq: _*)
  }

  /** The one document boundary: drop every envelope column — op/ts/ns
    * and the Sync-phase metadata — leaving `msg.Data()` alone, which is
    * all a reference writer stores. Every document-storing sink goes
    * through here; none keeps its own list of names to drop. */
  def unwrap(df: DataFrame): DataFrame =
    df.drop(OpCol, TsCol, NsCol, ModeCol, SeqCol)

  /** Envelope columns present? (cheap structural check) */
  def isEnveloped(df: DataFrame): Boolean =
    Seq(OpCol, TsCol, NsCol).forall(df.columns.contains)
}
