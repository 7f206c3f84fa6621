package graft.core

import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType,
  TimestampType}

/** Catalog of the driver-provided parquet fixtures plus generic helpers for
  * reading "namespace" tables. A namespace (reference: `message/message.go:69-77`,
  * one string key per table/collection/queue) maps to one parquet table here.
  *
  * Scale note: these readers are plain parquet scans so Catalyst keeps
  * partition pruning, predicate pushdown and column pruning. Nothing is
  * collected at read time: what a read caches is METADATA — each path's
  * inferred schema and file layout in one entry, revalidated on every
  * read against a signature of the files (see [[entries]]). A 100 TB
  * table is just more input splits.
  */
object Tables {

  /** All driver fixture table names (TESTDATA.md). */
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one namespace table from a scale-factor dir through
    * [[parquet]] (schema inferred once per file signature).
    *
    * Timestamp note: `events.ts` is nanosecond-precision parquet, which
    * Spark 4 only reads with `spark.sql.legacy.parquet.nanosAsLong=true`
    * (as a BIGINT of nanos). DuckDB — the oracle — truncates ns → µs on
    * read, so we apply the identical truncation here and expose a proper
    * TIMESTAMP column. All sessions in this repo set that conf.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    tableOf(spark, s"$dir/$name.parquet")._1

  private def tableOf(spark: SparkSession, path: String): (DataFrame, Entry) = {
    val e = entryOf(spark, path)
    (normalizeNanos(read(spark, path, e), e.nanos), e)
  }

  /** [[table]] + [[fanOutSmall]]: the read for a query whose per-row
    * work is CPU-dense parse/decode (CDC line parsing, HTML extraction,
    * media synth+FFT, shingle verify) — opt-in at the QUERY site, not
    * blanket: fanning every fixture read was measured a net LOSS on the
    * iterated/composite slots, whose memoized artifacts inherit the
    * widened partitioning and then pay per-task overhead on every
    * fixed-point round (link_hits 1.3 s → 4.3 s at a blanket 32-way
    * fan-out) — while the single-pass parse family gains 2-4×. */
  def fannedTable(spark: SparkSession, dir: String,
                  name: String): DataFrame = {
    val (df, e) = tableOf(spark, s"$dir/$name.parquet")
    fanOutSmall(spark, e, df)
  }

  /** A parquet file or directory read whose schema is inferred ONCE per
    * file signature — from one footer on the driver, the file Spark's
    * own inference picks (first data file by path), so building the
    * DataFrame runs no Spark job; the read itself is
    * `spark.read.schema(s).parquet(path)`, and partition columns are
    * still discovered from the directory names. Same schema, same plan
    * as `spark.read.parquet(path)`. A path with no data file (or a
    * session with `mergeSchema` on) reads plainly, so Spark raises its
    * own errors. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    read(spark, path, entryOf(spark, path))

  private def read(spark: SparkSession, path: String, e: Entry): DataFrame =
    e.schema match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** What a read learns about `path` once per signature: the inferred
    * data schema, its TIMESTAMP(NANOS) field names, and the (bytes,
    * files) layout [[fanOutSmall]] gates on. */
  private final case class Entry(sig: Seq[Any], schema: Option[StructType],
      nanos: Set[String], bytes: Long, files: Int)

  /** Session confs that change what a footer infers to — part of every
    * entry's signature, so a conf flip re-infers. */
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.mergeSchema")

  /** One entry per path, revalidated on EVERY read against a signature
    * of the files: the path's own status plus each direct child's
    * (name, length, mtime), and the [[schemaConfs]]. Spark names every
    * written file with its job's UUID, so a rewrite, a grown table or a
    * new partition directory changes the signature and the entry is
    * rebuilt — an entry is never served for files that changed at this
    * level. A rebuild walks the tree with [[dataFiles]] (plain statuses,
    * no per-file process start), so the first probe after an ingest,
    * which rebuilds the entry of every side it reads, pays only the
    * listing and one footer read. A nested file rewritten IN PLACE under an unchanged child
    * (same name, length and mtime) is not seen: the partitioned index
    * trees read through here change by whole UUID-named files and
    * partition directories under one fixed schema, and Spark lists the
    * files afresh on every read, so such an entry can only mis-gate the
    * fan-out — speed, never results. Outside [[graft.operators.Memo]]
    * because Memo keys name immutable snapshots, while these name
    * mutable paths. */
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  /** A footer reader for one parquet file, with read options over the
    * caller's `conf`: `ParquetFileReader.open(file)` alone builds its
    * options from a NEW Hadoop `Configuration`, which re-parses
    * core-default.xml and core-site.xml on every footer. */
  private[graft] def footerReader(st: FileStatus,
      conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
      HadoopReadOptions.builder(conf).build())

  private def entryOf(spark: SparkSession, path: String): Entry = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(hconf)
    val st = fs.getFileStatus(p)
    val kids = if (st.isDirectory) fs.listStatus(p).toSeq else Nil
    val sig = schemaConfs.map(spark.conf.getOption) ++
      Seq(st.getLen, st.getModificationTime) ++
      kids.map(k => (k.getPath.getName, k.getLen, k.getModificationTime))
        .sortBy(_._1)
    entries.compute(path, (_, old) =>
      if (old != null && old.sig == sig) old
      else {
        val data = dataFiles(fs, p).toSeq
        val bytes = data.map(_.getLen).sum
        val merge = spark.conf.get("spark.sql.parquet.mergeSchema", "false")
        data.minByOption(_.getPath.toString) match {
          case Some(first) if !merge.toBoolean =>
            val r = footerReader(first, hconf)
            try {
              val meta = r.getFooter
              Entry(sig, Some(Bridge.parquetSchema(spark, meta)),
                nanosFields(meta), bytes, data.size)
            } finally r.close()
          case _ => Entry(sig, None, Set.empty, bytes, data.size)
        }
      })
  }

  /** The non-hidden data files under `path`, recursively — exactly the
    * files Hadoop's recursive `listFiles` returns whose names start with
    * neither `_` nor `.` (hidden directories are still descended, as
    * `listFiles` does); the path itself when it is such a file, and
    * nothing when it is missing. Built on `listStatus` alone: on the
    * local filesystem without native Hadoop, `listFiles` builds a
    * `LocatedFileStatus` per file, whose constructor reads the file's
    * permissions through a forked `ls -ld` — one process start per file
    * (Spark's own listing avoids that constructor for the same reason).
    * Lazy: a caller that stops early lists no further directory. */
  def dataFiles(fs: FileSystem, path: Path): Iterator[FileStatus] = {
    def walk(st: FileStatus): Iterator[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).iterator.flatMap(walk)
      else Iterator.single(st)
    val root =
      try Iterator.single(fs.getFileStatus(path))
      catch { case _: java.io.FileNotFoundException => Iterator.empty }
    root.flatMap(walk).filter { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Fan a SMALL, UNSPLITTABLE scan out to the session's cores.
    *
    * The driver fixtures are single parquet files with ONE row group, so
    * Spark's split machinery cannot parallelize them no matter how
    * `maxPartitionBytes`/`openCostInBytes` are tuned (splits align to
    * row-group boundaries) — and the CPU-dense per-row work stacked on
    * these scans (HTML synth+parse, regex tokenization, CDC line
    * parsing) then runs in ONE task while the other cores idle: profiled
    * at sf0.1/local[32], `html_extract` ran 4 tasks end-to-end with wall
    * ≈ single-core task time (guide §2.5's "one huge unsplittable file"
    * case — repartition immediately after the read).
    *
    * Scale contract — this is a SMALL-INPUT-REGIME fix, inert at scale:
    * the round-robin fan-out applies only when the table (a) has fewer
    * files than cores AND (b) is smaller than cores × 4 MiB — i.e. when
    * the scan could not reach core-count parallelism on its own (below
    * that size `openCostInBytes` floors split size at 4 MiB anyway) and
    * the exchange it adds moves < 4 MiB/core exactly once. A production
    * table (many files / ≥ 4 MiB/core) is untouched, keeping the plain
    * pushdown-preserving scan; predicates and column pruning still reach
    * the scan through the repartition node either way. Partition count
    * follows `defaultParallelism`, so the driver's core-scaling bench
    * run keeps its contract. */
  private def fanOutSmall(spark: SparkSession, e: Entry,
                          df: DataFrame): DataFrame = {
    val perCore = 4L * 1024 * 1024
    val cores = spark.sparkContext.defaultParallelism
    if (e.files < cores && e.bytes > 0 && e.bytes < cores.toLong * perCore)
      df.repartition(cores)
    else df
  }

  /** Signature-validated (bytes, files) of `path` — see [[entries]]. */
  private[graft] def scanLayoutOf(spark: SparkSession,
                                  path: String): (Long, Int) = {
    val e = entryOf(spark, path)
    (e.bytes, e.files)
  }

  private def normalizeNanos(df: DataFrame, nanos: Set[String]): DataFrame = {
    val nanosFixed = df.schema.fields
      .filter(f => f.dataType == LongType && nanos.contains(f.name))
      .foldLeft(df) { (d, f) =>
        d.withColumn(f.name, expr(s"timestamp_micros(`${f.name}` div 1000)"))
      }
    // The driver has shipped the same fixture as TIMESTAMP(NANOS)-as-INT64
    // and as TIMESTAMP(MICROS, isAdjustedToUTC=false) (Spark: TIMESTAMP_NTZ)
    // in different generations. Normalize the NTZ flavor too — the cast
    // interprets the wall-clock in the session zone (UTC everywhere in this
    // repo), which is exactly how DuckDB (the oracle) reads it — so every
    // consumer sees a single temporal flavor: session-UTC TimestampType.
    // No footer check needed: TimestampNTZType in a Spark schema can only
    // come from NTZ parquet.
    nanosFixed.schema.fields
      .filter(_.dataType == TimestampNTZType)
      .foldLeft(nanosFixed) { (d, f) =>
        d.withColumn(f.name, col(f.name).cast(TimestampType))
      }
  }

  /** Field names whose parquet logical type is TIMESTAMP(NANOS). The
    * Spark schema alone can't tell a nanos timestamp read under
    * `nanosAsLong` from a genuine BIGINT column (no metadata is
    * attached), so the footer's logical type is consulted — a real
    * bigint `ts` column passes through untouched. */
  private def nanosFields(meta: ParquetMetadata): Set[String] =
    meta.getFileMetaData.getSchema.getFields.asScala
      .filter { f =>
        f.isPrimitive && (f.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
          case _ => false
        })
      }
      .map(_.getName).toSet

  /** Multi-table tagged union: each table becomes rows tagged with an `ns`
    * column, projected to a common (ns, key, name) shape. This mirrors the
    * reference's channel-interleaved multi-table read
    * (`adaptor/postgres/reader.go:40-54`) as a `unionByName` of tagged scans.
    *
    * Column pruning still reaches each parquet scan because the projection is
    * declared before the union.
    */
  def taggedUnion(spark: SparkSession, dir: String,
                  tables: Seq[(String, String, String)]): DataFrame = {
    // tables: (name, keyCol, labelCol)
    tables.map { case (name, keyCol, labelCol) =>
      table(spark, dir, name).select(
        lit(name).as("ns"),
        col(keyCol).cast("bigint").as("key"),
        col(labelCol).cast("string").as("name"))
    }.reduce(_.unionByName(_))
  }
}
