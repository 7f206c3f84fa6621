package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.core.Tables
import graft.operators.{Memo, Similarity}

/** The memoized IVF artifacts under one `cacheKey`: a bound-codebook
  * plan rebuilt on a second call must fingerprint equal (the codebook
  * expressions compare by value), and the multi-probe pair index holds
  * one row per corpus vector. */
class IvfPairIndexSpec extends SparkSpec {
  import spark.implicits._

  /** 500 random dim-64 vectors plus a near-copy of each. */
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(5)
    val base = Array.fill(500)(Array.fill(64)(rnd.nextFloat() * 2f - 1f))
    (base.indices.map(i => (i.toLong, base(i).toSeq)) ++
      base.indices.map(i => (1000L + i, base(i).map(_ + 0.01f).toSeq)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("bound-codebook plans rebuild to the same Memo fingerprint (nlist = 128)") {
    // 128 × 64 centroid floats: past the old literal budget, so before
    // value equality every rebuild hashed differently and the second
    // call threw "Memo key … reused with a semantically different input"
    val ck = Some("mem://ivf-pair-index-spec/nlist128")
    try {
      val q = corpus.filter(col("vec_id") < 5)
      def calls(): Seq[Seq[String]] = Seq(
        sorted(Similarity.ivfTopK(corpus, q, "vec_id", "embedding", k = 3,
          dim = 64, nlist = 128, nprobe = 4, cacheKey = ck)),
        sorted(Similarity.ivfAssign(corpus, "vec_id", "embedding", 64,
          nlist = 128, cacheKey = ck)),
        sorted(Similarity.ivfNearDupPairs(corpus, "vec_id", "embedding", 64,
          threshold = 0.9, nlist = 128, nprobe = 4, cacheKey = ck)),
        sorted(Similarity.semanticKept(corpus, "vec_id", "embedding", 64,
          threshold = 0.9, nlist = 128, nprobe = 4, cacheKey = ck)
          .select("vec_id")))
      val first = calls()
      assert(first.forall(_.nonEmpty))
      assert(calls() == first)
    } finally Memo.shared.invalidate("mem://ivf-pair-index-spec/nlist128")
  }

  /** The persisted `probedv` entry inside a plan: the one cached
    * relation carrying the probe-list column. */
  private def probedv(df: DataFrame): InMemoryRelation = {
    val rels = df.queryExecution.withCachedData.collect {
      case r: InMemoryRelation if r.output.exists(_.name == "__cls") => r
    }.distinct
    assert(rels.size == 1, s"expected one probedv relation, got ${rels.size}")
    rels.head
  }

  test("the probedv memo holds one row per vector; a second call reuses it") {
    val emb = Tables.table(spark, sf, "embeddings")
    val ck = Some("mem://ivf-pair-index-spec/footprint")
    def kept() = Similarity.semanticKept(emb, "vec_id", "embedding", 64,
      threshold = 0.45, nlist = 0, nprobe = 4, cacheKey = ck)
    try {
      val a = kept()
      val want = sorted(a)
      val rel = probedv(a)
      // (id, v, probe-list array): not the N·nprobe exploded rows
      assert(rel.output.map(_.name) == Seq("id", "v", "__cls"))
      assert(Bridge.ofRows(spark, rel).count() == emb.count())
      assert(rel.cacheBuilder.isCachedColumnBuffersLoaded)
      val (b, jobs) = jobsDuring(kept())
      assert(jobs == 0, s"second construction ran $jobs jobs")
      assert(probedv(b).cacheBuilder eq rel.cacheBuilder,
        "second call must read the same persisted entry")
      assert(sorted(b) == want)
      // every partition still cached: the second run read, never rebuilt
      val rdd = rel.cacheBuilder.cachedColumnBuffers.id
      assert(spark.sparkContext.getRDDStorageInfo.exists(i =>
        i.id == rdd && i.numCachedPartitions == i.numPartitions))
    } finally Memo.shared.invalidate("mem://ivf-pair-index-spec/footprint")
  }
}
