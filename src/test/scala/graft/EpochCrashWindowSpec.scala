package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.TextSearch
import graft.queries.CurationOps
import graft.streaming.{GenStore, IncrementalAnnIndex, IncrementalDedup,
  IncrementalDsirGate, IncrementalLinkIndex, IncrementalSearchIndex}

/** The crash window of the epoch protocol ([[GenStore.ingestEpoch]]),
  * for every member of the index family: the last epoch's sides have
  * landed but its marker has not. Twins A and B ingest the same three
  * epochs; B then loses only epoch 2's marker dir. B's read must equal
  * the two-epoch state, and replaying epoch 2 into B must make it read
  * like A again. */
class EpochCrashWindowSpec extends SparkSpec {

  private lazy val docs = Tables.table(spark, sf, "documents")
    .select("doc_id", "text")
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private lazy val pages =
    CurationOps.crawlPages(docs, docs.count(), withText = true)

  private def slice(df: DataFrame, idCol: String, e: Long): DataFrame =
    df.filter(pmod(col(idCol), lit(3L)) === e)

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** One member under test: its layout at a dir, an optional per-dir
    * setup, one epoch's ingest, and its read. */
  private final case class Member(name: String,
      layout: String => GenStore.Layout,
      ingest: (String, Long) => Unit, read: String => Set[String],
      init: String => Unit = _ => ())

  private def search(d: String) =
    IncrementalSearchIndex.Config(d, hashBuckets = 8)
  private def ann(d: String) =
    IncrementalAnnIndex.Config(d, dim = 64, hashBuckets = 8)
  private def dedup(d: String) = IncrementalDedup.Config(d, hashBuckets = 8)
  private def dsir(d: String) = IncrementalDsirGate.Config(d, dim = 64)
  private def link(d: String) =
    IncrementalLinkIndex.Config(d, hashBuckets = 8)

  private val members = Seq(
    Member("search", d => IncrementalSearchIndex.layout(search(d)),
      (d, e) => IncrementalSearchIndex.ingestBatch(search(d),
        slice(docs, "doc_id", e), "doc_id", "text", e),
      d => rows(IncrementalSearchIndex.probe(spark, search(d),
        TextSearch.queriesDf(spark,
          Seq("spark window agg", "customer join filter")),
        "query_id", "query_text", 10))),
    Member("ann", d => IncrementalAnnIndex.layout(ann(d)),
      (d, e) => IncrementalAnnIndex.ingestBatch(ann(d),
        slice(emb, "vec_id", e), "vec_id", "embedding", e),
      d => rows(IncrementalAnnIndex.topK(spark, ann(d),
        emb.filter(col("vec_id") < 8), "vec_id", "embedding", 10))),
    Member("dedup", d => IncrementalDedup.layout(dedup(d)),
      (d, e) => IncrementalDedup.ingestBatch(dedup(d),
        slice(docs, "doc_id", e), "doc_id", "text", e),
      d => rows(IncrementalDedup.decisions(spark, dedup(d)))),
    Member("dsir", d => IncrementalDsirGate.layout(dsir(d)),
      (d, e) => IncrementalDsirGate.ingestBatch(dsir(d),
        slice(docs, "doc_id", e), "doc_id", "text", e),
      d => rows(IncrementalDsirGate.score(dsir(d), docs, "doc_id", "text")),
      init = d => IncrementalDsirGate.initTarget(dsir(d),
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")),
    Member("link", d => IncrementalLinkIndex.layout(link(d)),
      (d, e) => IncrementalLinkIndex.ingestBatch(link(d),
        slice(pages, "doc_id", e), "doc_id", "url", "html", e),
      d => rows(IncrementalLinkIndex.rank(spark, link(d)))))

  members.foreach { m =>
    test(s"${m.name}: sides landed, marker not — the read is the 2-epoch state; the replay converges") {
      val tmp = java.nio.file.Files.createTempDirectory(
        s"graft-crash-${m.name}").toString
      val (a, b) = (s"$tmp/a", s"$tmp/b")
      Seq(a, b).foreach(m.init)
      Seq(0L, 1L).foreach(e => Seq(a, b).foreach(m.ingest(_, e)))
      val twoEpochs = m.read(a)
      Seq(a, b).foreach(m.ingest(_, 2L))
      val threeEpochs = m.read(a)
      assert(threeEpochs != twoEpochs, "epoch 2 must change the read")

      // the crash window: epoch 2's sides stay, its marker goes
      val l = m.layout(b)
      val f = new Path(b).getFileSystem(spark.sparkContext.hadoopConfiguration)
      l.sides.foreach(s =>
        assert(f.exists(new Path(s"$b/${s.name}/epoch=2")), s.name))
      assert(f.delete(new Path(l.markerDir(2L)), true))
      assert(m.read(b) == twoEpochs,
        "a marker-less epoch leaked into the read")

      m.ingest(b, 2L)
      assert(GenStore.hasSuccess(spark, l.markerDir(2L)))
      assert(m.read(b) == threeEpochs, "the replay did not converge")
    }
  }
}
