package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.types._

import graft.operators.TextSearch
import graft.pipeline.Registry
import graft.sources.Connectors.EpochSink
import graft.streaming.{IncrementalAnnIndex, IncrementalSearchIndex,
  Maintenance}

/** The index read path under a trickle of writes: a `search-index` and an
  * `ann-index` built from the corpus tables in several epochs through
  * their registry sinks, BM25 and ANN probes from the generated script,
  * and ingest epochs of perturbed documents under fresh ids. */
final class IndexProbes {
  private val K = 10
  /** Hash buckets per index side: the corpus is small, so fewer than the
    * registry's 64 keep each epoch's file count in proportion. */
  private val Buckets = 8
  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("vec", ArrayType(FloatType, containsNull = false))))
  private val querySchema = StructType(Seq(StructField("query_id", LongType),
    StructField("query_text", StringType)))

  private var searchDir, annDir: String = _
  private var searchSink, annSink: EpochSink = _
  private var nextEpoch = 0L
  private var probes: Iterator[JsonNode] = _
  private var ingests: Iterator[JsonNode] = _
  private val mapper = new ObjectMapper()
  /** Every document and vector ingested, for the batch twins. */
  private val docs = mutable.ArrayBuffer.empty[(Long, String)]
  private val vecs = mutable.ArrayBuffer.empty[(Long, Array[Float])]
  /** Each timed probe: its op, its rows, and how many documents and
    * vectors the index held when it ran. */
  private val probed = mutable.ArrayBuffer.empty[(JsonNode, Array[Row], Int, Int)]

  private def searchCfg = IncrementalSearchIndex.Config(searchDir,
    hashBuckets = Buckets)
  private def annCfg = IncrementalAnnIndex.Config(annDir, dim = 64,
    hashBuckets = Buckets)

  private def floats(n: JsonNode): Array[Float] =
    n.elements.asScala.map(_.floatValue).toArray
  private def lines(c: Ctx, name: String): Iterator[JsonNode] =
    Files.readAllLines(Paths.get(c.inputs, name)).asScala.iterator
      .filter(_.nonEmpty).map(mapper.readTree)

  private def docDf(c: Ctx, rows: Seq[(Long, String)]): DataFrame =
    c.spark.createDataFrame(rows.map { case (i, t) => Row(i, t) }.asJava,
      docSchema)
  private def vecDf(c: Ctx, rows: Seq[(Long, Array[Float])],
      id: String = "vec_id"): DataFrame =
    c.spark.createDataFrame(rows.map { case (i, v) => Row(i, v.toSeq) }.asJava,
      vecSchema).withColumnRenamed("vec_id", id)

  /** One epoch into both indexes, through the sinks. */
  private def ingest(c: Ctx, d: DataFrame, v: DataFrame): Unit = {
    val e = nextEpoch
    nextEpoch += 1
    c.tracer.span("search-index.writeEpoch", "streaming")(
      searchSink.writeEpoch(d, e))
    c.tracer.span("ann-index.writeEpoch", "streaming")(
      annSink.writeEpoch(v, e))
  }

  def setup(c: Ctx, tables: String): Unit = {
    searchDir = c.path("search-index")
    annDir = c.path("ann-index")
    // maintain_every as a config row declares it (the registry default)
    searchSink = Registry.sinks("search-index")(Map("dir" -> searchDir,
      "id_col" -> "doc_id", "text_col" -> "text", "maintain_every" -> 8,
      "hash_buckets" -> Buckets)).asInstanceOf[EpochSink]
    annSink = Registry.sinks("ann-index")(Map("dir" -> annDir,
      "id_col" -> "vec_id", "vec_col" -> "vec", "dim" -> 64,
      "maintain_every" -> 8, "hash_buckets" -> Buckets))
      .asInstanceOf[EpochSink]
    val d = c.spark.read.parquet(s"$tables/documents.parquet")
      .select("doc_id", "text")
    val v = c.spark.read.parquet(s"$tables/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("vec"))
    val epochs = c.manifest.get("build_epochs").asInt
    (0 until epochs).foreach(e => ingest(c,
      d.filter(pmod(col("doc_id"), lit(epochs)) === e),
      v.filter(pmod(col("vec_id"), lit(epochs)) === e)))
    docs ++= d.collect().map(r => (r.getLong(0), r.getString(1)))
    vecs ++= v.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    probes = lines(c, "probes.jsonl")
    ingests = lines(c, "ingests.jsonl")
  }

  /** The next `n` probes of the script (BM25 and ANN alternate). */
  def next(n: Int): Seq[JsonNode] = probes.take(n).toList

  /** Run one probe, from the library call to the result collected. */
  def probe(c: Ctx, o: JsonNode): Array[Row] = {
    val qid = o.get("qid").asLong
    val kind = o.get("op").asText
    val call: () => DataFrame = kind match {
      case "bm25" =>
        val q = c.spark.createDataFrame(
          Seq(Row(qid, o.get("text").asText)).asJava, querySchema)
        () => IncrementalSearchIndex.probe(c.spark, searchCfg, q,
          "query_id", "query_text", K)
      case "ann" =>
        val q = vecDf(c, Seq((qid, floats(o.get("vec")))), "query_id")
        () => IncrementalAnnIndex.topK(c.spark, annCfg, q, "query_id", "vec", K)
    }
    val j0 = if (c.traced) c.runtime.snapshot().jobs else 0L
    val (df, cms) = c.tracer.timed(s"$kind.construct", "streaming")(call())
    if (c.traced) {
      c.layerSample(s"streaming.${kind}_construct_ms", cms)
      c.layerSample(s"streaming.${kind}_construct_jobs",
        (c.runtime.snapshot().jobs - j0).toDouble)
    }
    val (rows, ems) = c.tracer.timed(s"$kind.collect", "streaming")(df.collect())
    if (c.traced) c.layerSample(s"streaming.${kind}_exec_ms", ems)
    rows
  }

  /** A timed probe, its result kept for the check. */
  def timedProbe(c: Ctx, o: JsonNode): Unit =
    c.op(o.get("op").asText)(probe(c, o)).foreach(rows =>
      probed += ((o, rows, docs.size, vecs.size)))

  /** A timed ingest of the script's next epoch. */
  def timedIngest(c: Ctx): Unit = {
    val e = ingests.next()
    val d = e.get("docs").elements.asScala
      .map(x => (x.get("doc_id").asLong, x.get("text").asText)).toSeq
    val v = e.get("vecs").elements.asScala
      .map(x => (x.get("vec_id").asLong, floats(x.get("vec")))).toSeq
    if (c.op("ingest")(ingest(c, docDf(c, d), vecDf(c, v))).isDefined) {
      docs ++= d
      vecs ++= v
    }
  }

  /** A seeded sample of the timed probes' results, compared off the
    * clock with the batch twins over the corpus as it stood when the probe
    * ran: `TextSearch.bm25TopK` over the documents, and an exact cosine
    * top-k over the vectors. */
  def check(c: Ctx): Unit = {
    val rnd = new scala.util.Random(c.seed)
    val (bm, an) = rnd.shuffle(probed.toList)
      .partition(_._1.get("op").asText == "bm25")
    bm.take(1).foreach { case (o, rows, nDocs, _) =>
      val qid = o.get("qid").asLong
      val q = c.spark.createDataFrame(
        Seq(Row(qid, o.get("text").asText)).asJava, querySchema)
      def key(r: Row) = (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))
      val want = TextSearch.bm25TopK(docDf(c, docs.take(nDocs).toSeq),
        "doc_id", "text", q, "query_id", "query_text", K)
        .collect().map(key).toSeq.sorted
      val got = rows.map(key).toSeq.sorted
      c.check(s"bm25 probe $qid")(got == want, s"$got vs batch $want")
    }
    an.take(2).foreach { case (o, rows, _, nVecs) =>
      val qid = o.get("qid").asLong
      val v = floats(o.get("vec"))
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d, na, nb = 0.0
        a.indices.foreach { i =>
          d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
          nb += b(i).toDouble * b(i)
        }
        d / math.sqrt(na * nb)
      }
      val corpus = vecs.take(nVecs)
      val byId = corpus.toMap
      val exact = corpus.map { case (i, w) => (i, cos(v, w)) }.sortBy(-_._2)
      val got = rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(-_._2)
      // LSH may miss far neighbours; the vector the query was drawn from
      // must rank first, and every score must be the exact cosine
      val simsOk = got.forall { case (i, s) =>
        byId.get(i).exists(w => math.abs(cos(v, w) - s) < 1e-5) }
      c.check(s"ann probe $qid")(got.nonEmpty && simsOk &&
        got.head._1 == exact.head._1,
        s"top ${got.take(3).toList} vs exact ${exact.take(3).toList}")
    }
    // index layout at the end of the timed part
    val sp = Maintenance.pressure(c.spark, searchDir, Seq("postings"),
      IndexLayout.epochs(searchDir), withFiles = true)
    val ap = Maintenance.pressure(c.spark, annDir, Seq("buckets", "vecs"),
      IndexLayout.epochs(annDir), withFiles = true)
    c.layers("streaming.remainder_epochs") =
      (sp.remainderEpochs + ap.remainderEpochs).toDouble
    c.layers("streaming.live_files") = (sp.liveFiles + ap.liveFiles).toDouble
    c.layers("streaming.maint_passes") =
      (IndexLayout.generations(searchDir).size +
        IndexLayout.generations(annDir).size).toDouble
  }
}

/** The read side in one client: passes over the curate query list and a
  * few index probes, in a seeded order, each pass ending with one ingest
  * epoch into the indexes. */
final class ProbeCurateWorkload extends Workload {
  private val curate = new CurateQueries
  private val probes = new IndexProbes
  /** Probes per pass (BM25 and ANN alternate). */
  private val ProbesPerPass = 4

  private def tables(c: Ctx) = Paths.get(c.inputs, "tables").toString

  def setup(c: Ctx): Unit = {
    // the query warm-up and the index build are independent and mostly
    // wait on the Spark driver, so they overlap (both are off the clock)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val warm = Future(curate.setup(c, tables(c)))
    probes.setup(c, tables(c))
    // warm-up probes, off the clock, while the query warm-up finishes
    probes.next(2).foreach(probes.probe(c, _))
    Await.result(warm, scala.concurrent.duration.Duration(150, "s"))
  }

  def run(c: Ctx): Unit = {
    val rnd = new scala.util.Random(c.seed)
    val t0 = Clock.nowMs
    do {
      val pass0 = Clock.nowMs
      val ops: Seq[() => Unit] =
        curate.queries.map(q => () => curate.timedQuery(c, q, tables(c))) ++
          probes.next(ProbesPerPass).map(o => () => probes.timedProbe(c, o))
      rnd.shuffle(ops).foreach(_())
      probes.timedIngest(c)
      c.sample("pass.ms", Clock.nowMs - pass0)
    } while (Clock.nowMs - t0 < c.seconds * 1000)
  }

  def check(c: Ctx): Unit = probes.check(c)
}
