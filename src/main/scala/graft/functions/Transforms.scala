package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Envelope

/** The reference's per-message transform registry (`function/registry.go:20-44`)
  * re-expressed as pure Column algebra: every transform is a
  * `DataFrame => DataFrame` built only from Catalyst expressions, so predicate
  * pushdown / column pruning / codegen all apply. No UDFs here.
  *
  * Reference semantics per function are cited inline. Transforms returning
  * "drop this message" (nil / Skip op, `pipeline/node.go:607-615`) become
  * `filter`s.
  */
object Transforms {

  // ---- projections ----------------------------------------------------

  /** `pick`: keep only the listed document fields (plus envelope cols when
    * present) — `function/pick/picker.go:26-36`. Unknown fields are ignored,
    * as in the reference (it builds a new doc from whatever exists).
    */
  def pick(fields: Seq[String])(df: DataFrame): DataFrame = {
    val envelope = Seq(Envelope.OpCol, Envelope.TsCol, Envelope.NsCol)
      .filter(df.columns.contains)
    val present = fields.filter(df.columns.contains)
    df.select((envelope ++ present).distinct.map(col): _*)
  }

  /** `omit`: delete the listed fields — `function/omit/omitter.go:25-29`. */
  def omit(fields: Seq[String])(df: DataFrame): DataFrame =
    df.drop(fields: _*)

  /** `rename`: rename fields per map, only where present —
    * `function/rename/rename.go:26-34`. */
  def rename(fieldMap: Map[String, String])(df: DataFrame): DataFrame =
    fieldMap.foldLeft(df) { case (d, (from, to)) =>
      if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
    }

  /** `remap`: rewrite the namespace column per ns_map; namespaces not in the
    * map pass through unchanged — `function/remap/remap.go:26-31`. */
  def remap(nsMap: Map[String, String])(df: DataFrame): DataFrame = {
    val mapping = nsMap.foldLeft(col(Envelope.NsCol)) { case (c, (from, to)) =>
      when(col(Envelope.NsCol) === lit(from), lit(to)).otherwise(c)
    }
    df.withColumn(Envelope.NsCol, mapping)
  }

  // ---- filters --------------------------------------------------------

  /** Namespace regex filter (`pipeline/node.go:96-100,522,599`): keep rows
    * whose ns matches. The reference trims surrounding slashes from
    * `/regex/` literals (`regexp.Compile(strings.Trim(ns,"/"))`).
    */
  def nsFilter(nsRegex: String)(df: DataFrame): DataFrame =
    df.filter(Envelope.nsMatch(nsRegex))

  /** `skip` filter (`function/skip/skipper.go:46-111`): keep a row iff
    * `field <operator> value`. Operators and their coercion semantics:
    *   - "==" / "eq" / "$eq": equality (deep-equal in the reference)
    *   - "=~": regex match of the string value
    *   - ">", ">=", "<", "<=" (+ gt/gte/lt/lte/$-aliases): NUMERIC compare
    *     with lenient coercion — ints, floats and numeric strings all compare
    *     as float64 (`skipper.go:88-111`). Non-parsable values are errors in
    *     the reference; here they become null comparisons → dropped, which
    *     matches "message does not pass".
    */
  def skipMatch(field: String, operator: String, value: Any): Column = {
    val f = col(field)
    // try_cast, not cast: under Spark 4's default ANSI mode a plain CAST
    // throws on non-parsable strings; the documented semantics are
    // "unparsable -> null comparison -> row dropped"
    def num(c: Column): Column = c.try_cast("double")
    def litNum(v: Any): Column = lit(v).try_cast("double")
    operator match {
      case "==" | "eq" | "$eq" => f === lit(value)
      case "=~"                => f.cast("string").rlike(value.toString)
      case ">" | "gt" | "$gt"   => num(f) > litNum(value)
      case ">=" | "gte" | "$gte" => num(f) >= litNum(value)
      case "<" | "lt" | "$lt"   => num(f) < litNum(value)
      case "<=" | "lte" | "$lte" => num(f) <= litNum(value)
      case other => throw new IllegalArgumentException(
        s"unknown skip operator: $other")
    }
  }

  def skip(field: String, operator: String, value: Any)(df: DataFrame): DataFrame =
    df.filter(skipMatch(field, operator, value))

  /** `opfilter` (`function/opfilter/opfilter.go:30-46`): whitelist/blacklist
    * on the op column. Empty whitelist = allow all (reference behavior:
    * only configured lists apply). */
  def opFilter(whitelist: Seq[String] = Nil, blacklist: Seq[String] = Nil)
              (df: DataFrame): DataFrame = {
    val afterWhite =
      if (whitelist.nonEmpty) df.filter(col(Envelope.OpCol).isin(whitelist: _*))
      else df
    if (blacklist.nonEmpty)
      afterWhite.filter(!col(Envelope.OpCol).isin(blacklist: _*))
    else afterWhite
  }

  /** `pretty` (`function/pretty/prettify.go:34-42`): debug passthrough that
    * logs a sample as EXTENDED JSON — the reference prettifies through
    * mejson so type tags survive the print (timestamps as $date, longs as
    * $numberLong). Truncated sample only — never a full collect. */
  def pretty(n: Int = 5)(df: DataFrame): DataFrame = {
    df.limit(n).collect()
      .foreach(r => println(s"[pretty] ${Mejson.write(r)}"))
    df
  }

  /** Decode a CDC envelope's wire-document column into typed per-row
    * columns — the one schema-on-read step every CDC tailer needs before
    * a typed sink, declarable in a config transform chain so ANY tailer
    * feeds ANY typed sink (`pipeline/node.go:156-165`). `wire` is the
    * source's document decoder: extended JSON (`Mejson.from_mejson`,
    * the default) for oplog, binlog and decoding logs; plain JSON
    * (`from_json`) for rethink feeds and queue bodies. Envelope metadata
    * and other non-document columns pass through; update envelopes must
    * be resolved to full documents upstream (the oplog source's `db_dir`
    * option) or filtered to inserts/deletes first. */
  def decode(schema: org.apache.spark.sql.types.StructType,
      dataCol: String = "data",
      wire: (Column, org.apache.spark.sql.types.DataType) => Column =
        Mejson.from_mejson)(df: DataFrame): DataFrame = {
    val keep = df.columns.filterNot(c =>
      c == dataCol || schema.fieldNames.contains(c)).map(col).toSeq
    df.withColumn("__doc", wire(col(dataCol), schema))
      .select(keep ++
        schema.fieldNames.toSeq.map(f => col(s"__doc.$f").as(f)): _*)
  }

  /** Chain of transforms, short-circuit composition
    * (`pipeline/node.go:596-619`). */
  def chain(fns: (DataFrame => DataFrame)*)(df: DataFrame): DataFrame =
    fns.foldLeft(df)((d, f) => f(d))
}
