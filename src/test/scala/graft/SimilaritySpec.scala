package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.expressions.HashExpressions._
import graft.operators.{Memo, Similarity}

class SimilaritySpec extends SparkSpec {

  private def emb = Tables.table(spark, sf, "embeddings")

  test("dot_product_f matches zip_with+aggregate composition") {
    val composed = emb.select(col("vec_id"),
      aggregate(zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("d"))
    val custom = emb.select(col("vec_id"),
      dot_product_f(col("embedding"), col("embedding")).as("d"))
    val joined = composed.as("a").join(custom.as("b"), "vec_id")
      .filter(abs(col("a.d") - col("b.d")) > 1e-9)
    assert(joined.count() == 0)
  }

  test("brute-force topk: sim in [-1,1], k rows per query, excludes self") {
    val q = emb.filter(col("vec_id") < 3)
    val out = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
    val rows = out.collect()
    assert(rows.length == 15)
    assert(rows.forall(r => math.abs(r.getAs[Double]("sim")) <= 1.0 + 1e-12))
    assert(rows.forall(r =>
      r.getAs[Long]("query_id") != r.getAs[Long]("corpus_id")))
  }

  test("brute-force topk plan: bounded-heap aggregate, no window funnel") {
    val q = emb.filter(col("vec_id") < 3)
    val out = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
    val plan = out.queryExecution.executedPlan.toString
    // the per-query top-k must be an ObjectHashAggregate over top_k_by
    // (partial map-side + final), NOT a Window: a window partitioned by
    // query_id shuffles every scored row to #queries reducers.
    assert(plan.contains("top_k_by"), plan)
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
    // partial aggregation happens before the exchange: the partial
    // top_k_by appears below the shuffle in the plan tree
    assert(plan.contains("partial_top_k_by") || plan.contains("partial top_k_by")
      || "partial".r.findAllIn(plan).nonEmpty, plan)
  }

  private def longOrd =
    org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(org.apache.spark.sql.types.LongType)
      .asInstanceOf[Ordering[Any]]

  test("top_k_by heap == sort-take on random data (property)") {
    val rnd = new scala.util.Random(7)
    val heap = new graft.functions.expressions.TopKHeap(10, longOrd)
    val items = Array.fill(500)((rnd.nextDouble(), rnd.nextLong()))
    items.foreach { case (s, i) => heap.offer(s, i) }
    val expect: Seq[(Double, Any)] =
      items.sortBy { case (s, i) => (-s, i) }.take(10).toSeq
    assert(heap.sorted.toSeq.map { case (s, i, _) => (s, i) } == expect)
    // merge path: two disjoint halves merged == global top-10
    val h1 = new graft.functions.expressions.TopKHeap(10, longOrd)
    val h2 = new graft.functions.expressions.TopKHeap(10, longOrd)
    items.take(250).foreach { case (s, i) => h1.offer(s, i) }
    items.drop(250).foreach { case (s, i) => h2.offer(s, i) }
    assert(h1.mergeFrom(h2).sorted.toSeq
      .map { case (s, i, _) => (s, i) } == expect)
  }

  test("top_k_by_carry: payload rides the heap bit-exactly through " +
      "partial/merge, selection identical to the payload-free form") {
    import graft.functions.expressions.TopKAggregate.{top_k_by, top_k_by_carry}
    // many partitions force the serialize → merge path for the payload
    val listed = emb.select(col("vec_id"),
        col("embedding").cast("array<float>").as("v"),
        pmod(col("vec_id"), lit(7)).as("b"))
      .repartition(16)
    val carry = listed.groupBy("b")
      .agg(top_k_by_carry(lit(0.0), col("vec_id"), col("v"), 5).as("t"))
      .select(col("b"), explode(col("t")).as("e"))
      .select(col("b"), col("e.corpus_id").as("vec_id"),
        col("e.payload").as("pv"))
    val plain = listed.groupBy("b")
      .agg(top_k_by(lit(0.0), col("vec_id"), 5).as("t"))
      .select(col("b"), explode(col("t")).as("e"))
      .select(col("b"), col("e.corpus_id").as("vec_id"))
    // same kept (b, id) set as the payload-free aggregate
    assert(carry.select("b", "vec_id").collect().toSet ==
      plain.collect().toSet)
    // and each carried vector is bit-identical to the source row's
    val bad = carry.join(listed.select(col("vec_id"), col("v")), Seq("vec_id"))
      .filter(not(col("pv") <=> col("v"))).count()
    assert(bad == 0)
  }

  test("top-k carries string (UUID-like) ids and preserves the id type") {
    // r2 ADVICE: corpus_id used to be cast to long, so string ids became
    // null and were silently dropped; now the id flows in its source type
    val withUuid = emb.withColumn("sid", concat(lit("doc-"),
      lpad(col("vec_id").cast("string"), 6, "0")))
    val q = withUuid.filter(col("vec_id") < 3)
    val out = Similarity.bruteForceTopK(withUuid, q, "sid", "embedding", 5)
    assert(out.schema("corpus_id").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(out.schema("query_id").dataType ==
      org.apache.spark.sql.types.StringType)
    val rows = out.collect()
    assert(rows.length == 15)
    // same neighbors as the long-id run, modulo the id formatting
    val byLong = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 3), "vec_id", "embedding", 5)
      .select("query_id", "rank", "corpus_id").collect()
      .map(r => (f"doc-${r.getLong(0)}%06d", r.getInt(1),
        f"doc-${r.getLong(2)}%06d")).toSet
    val byStr = rows.map(r => (r.getAs[String]("query_id"),
      r.getAs[Int]("rank"), r.getAs[String]("corpus_id"))).toSet
    assert(byStr == byLong)
  }

  test("top_k_by rejects an unorderable id type at analysis time") {
    import graft.functions.expressions.TopKAggregate.top_k_by
    val df = emb.select(col("vec_id"), col("embedding"))
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      df.groupBy("vec_id")
        .agg(top_k_by(lit(1.0), col("embedding"), 3).as("t"))
        .collect()
    }
    assert(err.getMessage.toLowerCase.contains("top_k_by"), err.getMessage)
  }

  test("banded LSH topk recalls most of the exact top-5") {
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, q, "vec_id", "embedding", 5, 64,
        bitsPerBand = 4, numBands = 6)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("IVF topk: k rows per query, deterministic, decent recall vs exact") {
    val q = emb.filter(col("vec_id") < 10)
    val ivf = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5, 64,
      nlist = 16, nprobe = 6, iters = 3)
    val rows = ivf.collect()
    assert(rows.length == 50) // 10 queries × k=5
    // deterministic across runs (hash-sampled training, stable seeding)
    val again = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5, 64,
      nlist = 16, nprobe = 6, iters = 3).collect()
    assert(rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq ==
      again.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("IVF centroids: nlist vectors of dim, stable across invocations") {
    val c1 = Similarity.ivfCentroids(emb, "vec_id", "embedding", 64,
      nlist = 8, iters = 2)
    val c2 = Similarity.ivfCentroids(emb, "vec_id", "embedding", 64,
      nlist = 8, iters = 2)
    assert(c1.length == 8 && c1.forall(_.length == 64))
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
  }

  test("IVF centroids: bit-identical under any partition layout") {
    // the decimal-sum means are order-independent, so repartitioning the
    // corpus must not move a single float bit — this is what makes the
    // pinned embed_ivf_topk recall oracle safe across core counts
    val c1 = Similarity.ivfCentroids(emb.repartition(1), "vec_id",
      "embedding", 64, nlist = 8, iters = 3)
    val c2 = Similarity.ivfCentroids(emb.repartition(17), "vec_id",
      "embedding", 64, nlist = 8, iters = 3)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
  }

  test("IVF training sample auto-sizes: bounded at scale, full at small SF") {
    // pure sizing rule: ~TrainTargetVectors expected sample at any scale
    assert(Similarity.autoSampleMod(500L, 16) == 1) // small corpus: all of it
    assert(Similarity.autoSampleMod(Similarity.TrainTargetVectors, 16) == 1)
    val big = 100_000_000_000L // ~100 TB of 1 KB docs
    val mod = Similarity.autoSampleMod(big, 16)
    val expectedSample = big / mod
    assert(expectedSample >= Similarity.TrainTargetVectors &&
      expectedSample <= 2 * Similarity.TrainTargetVectors,
      s"mod=$mod sample=$expectedSample")
    // tiny nlist floor: never starve the seeds
    assert(Similarity.autoSampleMod(Long.MaxValue, 16) > 0)

    // the auto default (sampleMod = 0) trains on the full small corpus →
    // identical centroids and identical topk to the explicit mod=1 path
    val auto = Similarity.ivfCentroids(emb, "vec_id", "embedding", 64,
      nlist = 8, iters = 2)
    val explicit = Similarity.ivfCentroids(emb, "vec_id", "embedding", 64,
      nlist = 8, iters = 2, sampleMod = 1)
    assert(auto.map(_.toSeq).toSeq == explicit.map(_.toSeq).toSeq)
  }

  test("ivfNearDupPairs: subset of exact pairs, deterministic, real recall") {
    val exact = Similarity.bruteForcePairs(emb, "vec_id", "embedding",
      threshold = 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfNearDupPairs(emb, "vec_id", "embedding", 64,
      threshold = 0.45, nlist = 8, nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // rerank is exact, so every emitted pair is a true pair
    assert(ivf.subsetOf(exact), (ivf -- exact).take(3))
    // multi-probe (3 of 8 lists) must catch a real share of true pairs
    assert(exact.isEmpty || ivf.size.toDouble / exact.size >= 0.5,
      s"recall ${ivf.size}/${exact.size}")
    // layout-independence: repartitioning moves nothing
    val ivf2 = Similarity.ivfNearDupPairs(emb.repartition(13), "vec_id",
      "embedding", 64, threshold = 0.45, nlist = 8, nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == ivf2)
  }

  test("semanticKept == corpus minus exact smaller-id duplicates") {
    // exact keep rule, computed brute-force
    val dropped = Similarity.bruteForcePairs(emb, "vec_id", "embedding",
      threshold = 0.45).collect().map(_.getLong(1)).toSet
    val allIds = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val expected = allIds -- dropped
    // approximate path at the query's parameters (nprobe=4 recovers the
    // complete pair set at this scale — the embed_ivf_neardup argument)
    val kept = Similarity.semanticKept(emb, "vec_id", "embedding", 64,
      threshold = 0.45, nlist = 8, nprobe = 4).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == expected,
      s"missing=${(expected -- kept).take(3)} extra=${(kept -- expected).take(3)}")
    // schema passes the full corpus row through
    assert(Similarity.semanticKept(emb, "vec_id", "embedding", 64,
      threshold = 0.45, nlist = 8, nprobe = 4).columns.toSeq ==
      emb.columns.toSeq)
  }

  test("nearDupPairs finds the top cosine pairs (verified exactly)") {
    val pairs = Similarity.nearDupPairs(emb, "vec_id", "embedding", 64,
      threshold = 0.45, bitsPerBand = 3, numBands = 10)
    val got = pairs.collect()
    got.foreach(r => assert(r.getAs[Double]("cos") >= 0.45))
  }

  test("ivfAssign: total hard assignment, map-only plan (no exchange)") {
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", 64,
      nlist = 8)
    val rows = assigned.collect()
    assert(rows.length == emb.count())
    assert(rows.forall { r =>
      val c = r.getInt(1); c >= 0 && c < 8
    })
    // after (driver-side) centroid training the assignment pass itself
    // is one projection over the corpus — no shuffle, no join
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
  }

  test("rolling corpus: invalidating a key retrains its centroids") {
    // corpus B is corpus A with every vector negated: same ids,
    // different geometry — A's centroids assign it wrongly
    val key = s"rolling-corpus-${System.nanoTime}"
    val a = emb.select(col("vec_id"), col("embedding"))
    val b = emb.select(col("vec_id"),
      transform(col("embedding"), x => -x).as("embedding"))
    def assign(df: org.apache.spark.sql.DataFrame, k: String) =
      Similarity.ivfAssign(df, "vec_id", "embedding", 64, nlist = 8,
        cacheKey = Some(k)).orderBy("vec_id").collect().toSeq
    try {
      assign(a, key)
      Memo.shared.invalidate(key)
      val rolled = assign(b, key)
      val fresh = assign(b, s"$key-fresh")
      val differ = rolled.zip(fresh).count { case (x, y) => x != y }
      assert(rolled.size == fresh.size && differ == 0,
        s"B under a reused key: $differ of ${fresh.size} assignments " +
          "differ from B under a fresh key")
    } finally {
      Memo.shared.invalidate(key)
      Memo.shared.invalidate(s"$key-fresh")
    }
  }

  test("clusterBalancedSample: per-cluster cap, deterministic, D4 shape") {
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", 64,
      nlist = 8)
    val sizes = assigned.groupBy("cluster_id").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val kept = Similarity.clusterBalancedSample(emb, "vec_id", "embedding",
      64, perCluster = 10, salt = "d4spec", nlist = 8)
    val keptSizes = kept.groupBy("cluster_id").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // every cluster capped at exactly min(perCluster, size)
    assert(keptSizes.keySet == sizes.keySet.filter(sizes(_) > 0))
    keptSizes.foreach { case (c, n) =>
      assert(n == math.min(10L, sizes(c)), s"cluster $c: $n vs ${sizes(c)}")
    }
    // kept IDS (not just counts) are the (hash48, id)-smallest per
    // cluster — equality with the window-function reference
    import org.apache.spark.sql.expressions.Window
    val h = graft.operators.Splits.hash48(col("vec_id"), "d4spec")
    val ref = assigned
      .withColumn("rn", row_number().over(Window.partitionBy("cluster_id")
        .orderBy(h, col("vec_id"))))
      .filter(col("rn") <= 10).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val got = kept.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == ref)
    // stable under re-partitioning (the pinned-oracle precondition)
    val got16 = Similarity.clusterBalancedSample(emb.repartition(16),
        "vec_id", "embedding", 64, perCluster = 10, salt = "d4spec",
        nlist = 8, cacheKey = Some("d4spec-fixture"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got16 == got)
  }
}
