package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Memo, TextSearch}
import graft.streaming.IncrementalSearchIndex

/** What the read path caches is metadata, and it is never served for
  * files that changed: `Tables`' per-path entries revalidate against a
  * signature of the files, and an index's committed marker rows are
  * keyed on the markers' part-file names (the write job's UUID), so a
  * rewritten table or a rebuilt index is seen at once, whatever the
  * filesystem's mtime granularity. */
class ReadOnceMetadataSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
    .select("doc_id", "text")

  private def rows(df: DataFrame) = df.collect().map(r =>
    (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

  test("Tables.parquet infers the schema spark.read.parquet does") {
    Tables.all.foreach { t =>
      val p = s"$sf/$t.parquet"
      assert(Tables.parquet(spark, p).schema == spark.read.parquet(p).schema, t)
    }
    // a partitioned index side: partition columns still come from paths
    val tmp = Files.createTempDirectory("graft-schema").toString
    val cfg = IncrementalSearchIndex.Config(s"$tmp/idx", hashBuckets = 8)
    IncrementalSearchIndex.ingestBatch(cfg, docs, "doc_id", "text", 0L)
    Seq("postings", "stats", "stats/epoch=0").foreach { side =>
      val p = s"${cfg.dir}/$side"
      assert(Tables.parquet(spark, p).schema == spark.read.parquet(p).schema,
        side)
    }
  }

  test("a table rewritten at the same path shows its new column and layout") {
    val dir = Files.createTempDirectory("graft-rewrite").toString
    val cores = spark.sparkContext.defaultParallelism
    def fanned = Tables.fannedTable(spark, dir, "documents")
      .queryExecution.logical.toString.contains("Repartition")
    (0L until 64L).map(i => (i, s"text $i")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    assert(Tables.table(spark, dir, "documents").columns.toSeq ==
      Seq("doc_id", "text"))
    assert(fanned, "a 1-file table fans out")
    // no sleep: the entry is keyed on the files, not on an mtime tick
    (0L until 64L).map(i => (i, s"text $i", "en")).toDF("doc_id", "text", "lang")
      .repartition(cores + 2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t = Tables.table(spark, dir, "documents")
    assert(t.columns.toSeq == Seq("doc_id", "text", "lang"))
    assert(t.filter(col("lang") === "en").count() == 64)
    assert(Tables.scanLayoutOf(spark, s"$dir/documents.parquet")._2 >= cores + 2)
    assert(!fanned, "the rewritten many-file table must keep the plain scan")
  }

  test("an index deleted and rebuilt at the same dir probes the new corpus") {
    val tmp = Files.createTempDirectory("graft-rebuild").toString
    val cfg = IncrementalSearchIndex.Config(s"$tmp/idx", hashBuckets = 8)
    val q = TextSearch.queriesDf(spark, Seq("spark window agg", "customer"))
    def probe = IncrementalSearchIndex.probe(spark, cfg, q, "query_id",
      "query_text", 10)
    def build(part: DataFrame): Unit = (0 until 2).foreach { e =>
      IncrementalSearchIndex.ingestBatch(cfg,
        part.filter(pmod(col("doc_id"), lit(2)) === e), "doc_id", "text",
        e.toLong)
    }
    def batch(part: DataFrame) = rows(TextSearch.bm25TopK(part, "doc_id",
      "text", q, "query_id", "query_text", 10))

    val first = docs.filter(col("doc_id") < 300)
    build(first)
    assert(rows(probe) == batch(first))
    val root = java.nio.file.Paths.get(cfg.dir)
    def walk(): Map[String, JPath] = Files.walk(root).iterator().asScala
      .map(p => root.relativize(p).toString -> p).toMap
    val mtimes = walk().map { case (k, p) => k -> Files.getLastModifiedTime(p) }

    // delete and rebuild with other documents, then pin every path the
    // two builds share to its old mtime — a rebuild inside one mtime
    // tick: only the write jobs' file names tell the builds apart
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(cfg.dir), true)
    val second = docs.filter(col("doc_id") >= 300)
    build(second)
    walk().toSeq.sortBy(-_._1.length).foreach { case (k, p) =>
      mtimes.get(k).foreach((t: FileTime) => Files.setLastModifiedTime(p, t))
    }
    assert(rows(probe) == batch(second), "probe served the deleted index's stats")
  }

  test("Memo.shared.invalidate(dir) drops the index's metadata entries") {
    val tmp = Files.createTempDirectory("graft-inval").toString
    val cfg = IncrementalSearchIndex.Config(s"$tmp/idx", hashBuckets = 8)
    (0 until 2).foreach { e =>
      IncrementalSearchIndex.ingestBatch(cfg,
        docs.filter(pmod(col("doc_id"), lit(2)) === e), "doc_id", "text",
        e.toLong)
    }
    IncrementalSearchIndex.compact(spark, cfg)
    val q = TextSearch.queriesDf(spark, Seq("spark window agg"))
    def probe = IncrementalSearchIndex.probe(spark, cfg, q, "query_id",
      "query_text", 10)
    val want = rows(probe)
    val (_, warm) = jobsDuring(probe)
    Memo.shared.invalidate(cfg.dir)
    // the dropped generation marker and epoch stats rows are re-read
    val (after, cold) = jobsDuring(probe)
    assert(cold > warm, s"invalidate left the index's marker entries " +
      s"($cold construction jobs after it, $warm before)")
    assert(rows(after) == want)
    assert(jobsDuring(probe)._2 == warm)
  }
}
