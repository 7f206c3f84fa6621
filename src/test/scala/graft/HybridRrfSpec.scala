package graft

import org.apache.spark.sql.functions._
import graft.operators.TextSearch

/** RRF hybrid retrieval vs an independent local replica of BOTH arms
  * (BM25 on the 1e-9 grid; hashed-tf-idf integer dot on the 1e-3 idf
  * grid) and the rank fusion — same formulas, same Java Math.log, same
  * floors, same (score desc, id asc) tie-break. Only the term→bucket
  * murmur hash is taken from Spark (a one-column lookup), so the arm
  * logic itself is computed twice independently. */
class HybridRrfSpec extends SparkSpec {
  import spark.implicits._

  private val Dim = 64
  private val PerArm = 20
  private val RrfK = 60
  private val Queries = Seq("spark window agg", "customer join filter")

  private lazy val docsDf = spark.read.parquet(s"$sf/documents.parquet")

  private lazy val corpus: Seq[(Long, Seq[String])] =
    docsDf.select(col("doc_id"),
      graft.functions.TextFunctions.tokens(col("text")).as("t"))
      .as[(Long, Seq[String])].collect().toSeq

  /** term → pmod(murmur3(term), Dim), via Spark (the only borrowed bit). */
  private lazy val bucketOf: Map[String, Int] = {
    val terms = (corpus.flatMap(_._2) ++ Queries.flatMap(_.split("\\s+")))
      .distinct
    terms.toDF("term")
      .select(col("term"), pmod(hash(col("term")), lit(Dim)).as("b"))
      .as[(String, Int)].collect().toMap
  }

  private def localBm25Ranks(query: Seq[String]): Map[Long, Int] = {
    val n = corpus.size
    val avgdl = corpus.map(_._2.size).sum.toDouble / n
    val dfm = corpus.flatMap { case (_, ts) => ts.distinct }
      .groupBy(identity).map { case (t, g) => t -> g.size }
    val scores = corpus.flatMap { case (id, ts) =>
      val score = query.distinct.filter(dfm.contains).map { term =>
        val tf = ts.count(_ == term)
        if (tf == 0) 0L
        else {
          val df = dfm(term)
          val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
          val tfn = tf * (1.2 + 1.0) /
            (tf + 1.2 * (1.0 - 0.75 + 0.75 * ts.size / avgdl))
          math.floor(idf * tfn * 1e9).toLong
        }
      }.sum
      if (score != 0L) Some(id -> score) else None
    }
    scores.sortBy { case (id, s) => (-s, id) }.take(PerArm)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
  }

  private def localSemRanks(query: Seq[String]): Map[Long, Int] = {
    val n = corpus.size
    val dfm = corpus.flatMap { case (_, ts) => ts.distinct }
      .groupBy(identity).map { case (t, g) => t -> g.size }
    def idfE3(df: Int): Long =
      math.floor((math.log((n + 1.0) / (df + 1.0)) + 1.0) * 1e3).toLong
    def vec(ts: Seq[String], dfOf: String => Int): Map[Int, Long] =
      ts.filter(_.nonEmpty).groupBy(identity).toSeq
        .map { case (t, g) => bucketOf(t) -> g.size * idfE3(dfOf(t)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val qv = vec(query, t => dfm.getOrElse(t, 0))
    val dots = corpus.flatMap { case (id, ts) =>
      val dv = vec(ts, dfm)
      val dot = dv.map { case (b, w) => w * qv.getOrElse(b, 0L) }.sum
      if (dot > 0) Some(id -> dot) else None
    }
    dots.sortBy { case (id, s) => (-s, id) }.take(PerArm)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
  }

  private def localFused(query: Seq[String], k: Int)
      : Seq[(Long, Int, Long)] = {
    val lex = localBm25Ranks(query)
    val sem = localSemRanks(query)
    def arm(r: Option[Int]): Long =
      r.map(rr => math.floor(1e9 / (RrfK + rr)).toLong).getOrElse(0L)
    (lex.keySet ++ sem.keySet).toSeq
      .map(id => id -> (arm(lex.get(id)) + arm(sem.get(id))))
      .sortBy { case (id, s) => (-s, id) }.take(k)
      .zipWithIndex.map { case ((id, s), i) => (id, i + 1, s) }
  }

  test("hybridRrfTopK == local replica of both arms + fusion") {
    val got = TextSearch.hybridRrfTopK(docsDf, "doc_id", "text",
      TextSearch.queriesDf(spark, Queries), "query_id", "query_text",
      k = 10, dim = Dim, perArm = PerArm, rrfK = RrfK)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    Queries.zipWithIndex.foreach { case (qs, qi) =>
      val want = localFused(qs.split(" ").toSeq, k = 10)
      val mine = got.filter(_._1 == qi).sortBy(_._2)
        .map { case (_, rank, id, s) => (id, rank, s) }.toSeq
      assert(mine == want, s"query $qi")
    }
  }

  test("link-prior hybrid == local three-arm fusion; ingest-time twin == batch twin") {
    import graft.queries.CurationOps
    // the third arm: PageRank over the crawl fixture, globally top-20
    // by (rank_fp desc, id asc) — replicated per query. The rank table
    // itself is the web_link_pipeline surface (oracled elsewhere); what
    // this test replicates independently is the PRIOR-ARM construction
    // and the three-way fusion.
    val n = docsDf.count()
    val ranks = CurationOps.webLinkRank(
        CurationOps.crawlPages(docsDf.select("doc_id", "text"), n,
          withText = false),
        CurationOps.fixtureUrlMap(docsDf), docsDf.select("doc_id"),
        cacheKey = None)
      .select("doc_id", "rank_fp").as[(Long, Long)].collect()
    val priorRanks: Map[Long, Int] = ranks
      .sortBy { case (id, r) => (-r, id) }.take(PerArm)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap

    def localFused3(query: Seq[String], k: Int): Seq[(Long, Int, Long)] = {
      val arms = Seq(localBm25Ranks(query), localSemRanks(query), priorRanks)
      def contrib(r: Option[Int]): Long =
        r.map(rr => math.floor(1e9 / (RrfK + rr)).toLong).getOrElse(0L)
      arms.flatMap(_.keySet).distinct
        .map(id => id -> arms.map(a => contrib(a.get(id))).sum)
        .sortBy { case (id, s) => (-s, id) }.take(k)
        .zipWithIndex.map { case ((id, s), i) => (id, i + 1, s) }
    }

    val got = graft.SparkEntry.queries("hybrid_link_rrf")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    Queries.zipWithIndex.foreach { case (qs, qi) =>
      val want = localFused3(qs.split(" ").toSeq, k = 5)
      val mine = got.filter(_._1 == qi).sortBy(_._2)
        .map { case (_, rank, id, s) => (id, rank, s) }.toSeq
      assert(mine == want, s"query $qi: $mine != $want")
    }

    // the ingest-time variant (incremental BM25 probe + link-index rank
    // prior) must equal the batch fusion of the SAME two arms — both
    // arms are bit-identical to their batch twins by the parity rows,
    // so fusion equality is the composition claim
    val q = TextSearch.queriesDf(spark, Queries)
    val batchTwin = TextSearch.rrfFuse(Seq(
        TextSearch.bm25TopK(docsDf, "doc_id", "text", q,
          "query_id", "query_text", PerArm),
        TextSearch.priorArm(
          CurationOps.webLinkRank(
            CurationOps.crawlPages(docsDf.select("doc_id", "text"), n,
              withText = true),
            CurationOps.fixtureUrlMap(docsDf), docsDf.select("doc_id"),
            cacheKey = None),
          "doc_id", "rank_fp", q, "query_id", PerArm)),
      k = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    val incr = graft.SparkEntry.queries("hybrid_link_incr_rrf")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(incr == batchTwin, "ingest-time hybrid != batch twin")
  }

  test("hybrid_link_rrf: a second construction runs no rank-table job") {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val q = graft.SparkEntry.queries("hybrid_link_rrf")
    q(spark, sf) // builds the memoized rank table
    // call sites ("count at X.scala:N"): a SQL action's from its
    // execution (AQE submits the jobs from its own threads), any other
    // job's from its result stage
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => sites.add(x.description)
        case _ => ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties.getProperty("spark.sql.execution.id") == null)
          sites.add(j.stageInfos.maxBy(_.stageId).name)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      q(spark, sf)
      org.apache.spark.ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val rankJobs = sites.asScala.filter(s =>
      s.contains("Graphs.scala") || s.contains("CurationOps.scala"))
    assert(rankJobs.isEmpty,
      s"construction re-ran rank-table jobs: ${rankJobs.mkString(", ")}")
  }

  test("doc present in one arm only still fuses (single-arm score)") {
    // a query whose terms hit disjoint doc sets across arms is hard to
    // construct from fixtures; instead assert the invariant directly on
    // the fused output: every returned score is a sum of at most two
    // arm contributions, and any score equal to exactly one arm term
    // floor(1e9/(60+r)) corresponds to a doc missing from the other arm
    val qs = Queries.head.split(" ").toSeq
    val lex = localBm25Ranks(qs)
    val sem = localSemRanks(qs)
    val fused = localFused(qs, k = PerArm * 2)
    val singles = fused.filter { case (id, _, _) =>
      lex.contains(id) ^ sem.contains(id)
    }
    assert(singles.nonEmpty, "fixture corpus should produce one-arm docs")
    singles.foreach { case (id, _, s) =>
      val r = lex.getOrElse(id, sem(id))
      assert(s == math.floor(1e9 / (RrfK + r)).toLong)
    }
  }
}
