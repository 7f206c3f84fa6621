package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph centrality for web-corpus curation.
  *
  * A crawl's hyperlink graph is a quality signal the text itself cannot
  * provide: pages many independent sites point at are worth more training
  * tokens than link-farm leaves. This is the classic PageRank random-surfer
  * model (Brin & Page 1998; the reference's curation surface stops at
  * per-document signals, so this extends the raw-web family that
  * `functions.Html` (anchor extraction) and `functions.Urls`
  * (canonicalization) already feed: canonical URLs become node ids, anchor
  * hrefs become edges, and the rank becomes a per-document keep/weight
  * signal for the declarative curation chain.
  *
  * == Determinism: fixed-point integer arithmetic ==
  *
  * Float PageRank is order-dependent (a float sum re-associates under
  * repartitioning), which would make every result layout-dependent and
  * un-oracle-able. All mass here is BIGINT in units of `scale⁻¹`
  * (default 1e-12): per-edge contributions are integer floor-divisions,
  * partial sums are BIGINT adds (associative and commutative — bit-equal
  * under any partitioning), and the damping factor is the exact rational
  * dampNum/dampDen applied as multiply-then-floor-divide. Any engine
  * replays the recurrence bit-identically — the DuckDB oracle for the
  * `link_pagerank` gate row is the same integer recurrence unrolled as
  * plain SQL. Floor losses (≤1 unit per edge per iteration, ≤1 per node
  * for the damping term) only ever LEAK mass, never create it, so total
  * mass is monotonically ≤ `scale` — with the default 1e12 scale the
  * relative rank error after 10 iterations on a billion-edge graph is
  * ≤ ~1e-3 of a uniform share, far below anything a quality threshold
  * could notice.
  *
  * == Scale shape ==
  *
  * Per iteration: one hash join (ranks ⋈ out-degree-annotated edges on
  * src, both sides shuffle-partitioned on the join key) and one
  * partial-aggregated groupBy(dst) — the canonical distributed PageRank
  * step, linear in |E| per iteration with map-side combine on the
  * contribution sums. The out-degree-annotated edge table is the link
  * index: built once, memoized per `cacheKey` ([[Memo]]) so repeated rank
  * calls over one crawl snapshot never re-shuffle the raw edge list.
  * Iteration lineage is re-rooted every `fenceEvery` rounds
  * ([[Fence.persistedOnce]]) so deep runs plan scan→join, not a growing
  * tree.
  *
  * == The taxation contract (named, r14) ==
  *
  * Dangling nodes (no out-edges) LEAK their mass every round — the
  * standard "taxation" form of PageRank (Boldi, Santini & Vigna 2007
  * call it the weakly-preferential / taxed model), adopted here as the
  * engine's NAMED contract rather than an open question: redistribution
  * would add a broadcast of the per-round dangling sum to every row —
  * a second aggregate + join per iteration — to compute a quantity that
  * rescales ranks almost uniformly and never changes curation ORDER
  * among non-dangling-dominated graphs, while taxation keeps the
  * recurrence at exactly one join + one aggregate per round and keeps
  * the oracle SQL a 5-CTE unroll. The pinned mass identities
  * (GraphsProps "taxation contract"):
  *
  *   - mass is never created: Σ rank_fp ≤ scale on EVERY graph;
  *   - on a dangling-free graph the only leak is integer floor dust,
  *     bounded independent of iteration count: scale − Σ rank_fp ≤
  *     L₀ + (0.85·|E| + 3·|V|)/0.15 (the damping factor geometrically
  *     absorbs earlier rounds' dust), far below any rank threshold —
  *     with the default 1e12 scale, parts per billion;
  *   - with dangling nodes the deficit additionally carries their
  *     damped shares, by design — consumers comparing ranks compare
  *     within one run of one graph, where the taxation is uniform.
  *
  * Nodes absent from the node set but present as edge endpoints are
  * ignored on the rank side (ranks are defined over `nodes` only).
  */
object Graphs {

  /** Kinds of the link-graph artifacts memoized in [[Memo.shared]] (plus
    * CurationOps' fused rank table, built from them): the out-degree-
    * annotated edge table and the seeded node table are built once per
    * named crawl snapshot and reused by every rank call in the session —
    * and by every ITERATION within one call (each round joins both;
    * without the memo a 5-round rank re-scans the raw tables 5×). */
  private[graft] val memoKinds =
    Set("pagerank", "pagerank-nodes", "hits", "fused-rank-table")

  /** Fixed-point integer PageRank.
    *
    * @param edges     link table; multi-edges count multiply, self-loops
    *                  allowed (they feed a node's own next-round sum);
    *                  null endpoints are inert — a null src matches no
    *                  rank row and a null dst matches no node, so such
    *                  edges contribute nothing (they DO count toward
    *                  their src's out-degree when src is non-null,
    *                  mirroring a dangling link's leaked share)
    * @param nodes     node universe (one row per node); ranks are defined
    *                  over exactly these ids
    * @param iters     fixed iteration count (the oracle unrolls the same
    *                  number — no convergence test, by design)
    * @param scale     mass denominator: total teleport mass = `scale`
    * @param dampNum / dampDen  exact rational damping (default 85/100)
    * @param teleport  optional boolean Column over `nodes`: personalized
    *                  PageRank / TrustRank — teleport mass lands only on
    *                  rows where it is true (uniformly, `scale/|seeds|`
    *                  each); None = uniform over all nodes
    * @param cacheKey  memoize the out-degree-annotated edge index under
    *                  this name (one crawl snapshot, many rank calls)
    * @param fenceEvery re-root iteration lineage every this many rounds
    * @param weightCol optional positive BIGINT multiplicity column: a
    *                  row with weight w ≡ w parallel edges, bit-exactly
    *                  (see the edge-index comment) — pre-collapse dense
    *                  multigraphs so iterations touch distinct pairs
    * @return (idCol, rank_fp) — rank in units of scale⁻¹, BIGINT
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               nodes: DataFrame, idCol: String,
               iters: Int = 5,
               scale: Long = 1000000000000L,
               dampNum: Long = 85, dampDen: Long = 100,
               teleport: Option[Column] = None,
               cacheKey: Option[String] = None,
               fenceEvery: Int = 10,
               weightCol: Option[String] = None): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampNum >= 0 && dampNum <= dampDen && dampDen > 0,
      s"damping must be a rational in [0,1]: $dampNum/$dampDen")
    // 85 * scale must stay far under 2^63: per-node mass is bounded by
    // the TOTAL mass `scale`, so dampNum * sum(contrib) <= dampNum * scale.
    require(scale > 0 && scale <= Long.MaxValue / math.max(dampNum, 1L) / 2,
      s"scale $scale risks BIGINT overflow under dampNum=$dampNum")

    val ids = nodes.select(col(idCol).as("__id"))
    val seedIds = teleport match {
      case Some(p) => nodes.filter(p).select(col(idCol).as("__id"))
      case None    => ids
    }
    // |seeds| — one bounded driver-side scalar (the resolveNlist pattern)
    val nSeeds = seedIds.count()
    require(nSeeds > 0, "pageRank: empty teleport set (or empty node set)")
    val r0 = scale / nSeeds                      // initial + teleport share
    val base = ((dampDen - dampNum) * r0) / dampDen

    // the link index: (src, dst, multiplicity, out-degree of src) —
    // built once. `weightCol` is the COLLAPSED-multigraph form: a row
    // with weight w is exactly w parallel edges (bit-identical — the
    // per-edge contribution floor(r/od) is constant across the w
    // copies, so w·floor(r/od) == the expanded sum, and od == Σw). A
    // dense multigraph (the domain graph: millions of page links, a
    // handful of distinct host pairs) pre-aggregates once and every
    // iteration then touches |distinct pairs| rows, not |E|. Weights
    // must be positive; a null weight row is inert (null product).
    // Overflow bound unchanged: Σ_dst Σ w·(r div od) ≤ Σ_src od·(r/od)
    // ≤ Σ r ≤ scale — the weighted sum telescopes to the same mass.
    val e = Memo.shared(cacheKey,
        s"pagerank/$srcCol/$dstCol/${weightCol.getOrElse("unit")}") {
      val raw = weightCol match {
        case Some(w) => edges.select(col(srcCol).as("__src"),
          col(dstCol).as("__dst"), col(w).cast("long").as("__w"))
        case None => edges.select(col(srcCol).as("__src"),
          col(dstCol).as("__dst"), lit(1L).as("__w"))
      }
      val outd = raw.groupBy("__src").agg(sum("__w").as("__od"))
      raw.join(outd, "__src")
    }

    // teleport indicator folded into the node table once: BASE mass (and
    // the round-0 rank) is `base`/`r0` on seeds, 0 elsewhere
    val seeded = Memo.shared(cacheKey,
      s"pagerank-nodes/$idCol/" +
        teleport.map(_.toString).getOrElse("uniform")) {
      teleport match {
        case Some(_) => ids.join(seedIds.withColumn("__seed", lit(1L)),
          Seq("__id"), "left").select(col("__id"),
          coalesce(col("__seed"), lit(0L)).as("__seed"))
        case None => ids.select(col("__id"), lit(1L).as("__seed"))
      }
    }

    var ranks = seeded.select(col("__id"),
      (col("__seed") * r0).as("__r"))
    var i = 0
    while (i < iters) {
      // per-edge contribution floor(r_src / outdeg), summed per dst —
      // BIGINT all the way (sum is partial-aggregated map-side)
      val contrib = e.join(ranks, e("__src") === ranks("__id"))
        .groupBy("__dst")
        .agg(sum(expr("__w * (__r div __od)")).as("__s"))
      ranks = seeded.join(contrib, seeded("__id") === contrib("__dst"), "left")
        .select(seeded("__id"),
          (col("__seed") * base +
            expr(s"$dampNum * coalesce(__s, 0L) div $dampDen")).as("__r"))
      i += 1
      if (fenceEvery > 0 && i % fenceEvery == 0 && i < iters)
        ranks = Fence.persistedOnce(ranks)
    }
    ranks.select(col("__id").as(idCol), col("__r").as("rank_fp"))
  }

  /** Fixed-point integer HITS (Kleinberg 1999): hubs point at good
    * authorities, authorities are pointed at by good hubs — the
    * complementary pair to [[pageRank]]'s single score (a link directory
    * is a great hub and a terrible authority; PageRank conflates the
    * two). Alternating update, `iters` rounds:
    *
    *   auth(v) = Σ hub(u) over in-edges;  hub(u) = Σ auth(v) over
    *   out-edges — each rescaled after its update.
    *
    * Float HITS normalizes by the L2 norm; that is order-dependent, so
    * this uses the floor-QUOTIENT rescale instead: after each half-step,
    * every value is floor-divided by q = max(1, floor(max/scale)), which
    * keeps the maximum in [scale, 2·scale) once it exceeds `scale`
    * (below that q = 1 and values pass through exactly). Integer sums,
    * integer max, integer division — bit-identical at any layout and in
    * any engine; the gate oracle unrolls the same recurrence.
    *
    * Each half-step is fenced ([[Fence]]: persist + re-root, ONE action
    * that both materializes the sums and reads the max). The lazy
    * alternative — keeping the max in-plan as a 1-row broadcast — references each half-step's result twice, which
    * DOUBLES the recomputed lineage per half-step: measured 50 s at
    * sf0.001 for 3 rounds (≈2⁶ recomputations) vs ~1 s fenced. The
    * rescale quotient then lands in the next plan as a plain literal.
    *
    * Overflow bound: post-rescale values < 2·scale, so a raw half-step
    * sum is < indegₘₐₓ · 2·scale; with the default scale 1e9 that
    * overflows BIGINT only past ~4.6e9 in-links on one node. Per round:
    * two hash joins against the memoized edge index + two map-side-
    * combined aggregates — linear in |E| like the PageRank step.
    *
    * @return (idCol, auth_fp, hub_fp) — both in units where the corpus
    *         max is ~`scale` (relative scores; HITS has no absolute
    *         mass semantics, unlike PageRank)
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           nodes: DataFrame, idCol: String,
           iters: Int = 3,
           scale: Long = 1000000000L,
           cacheKey: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // post-rescale values sit in [0, 2·scale), so a raw half-step sum is
    // bounded by maxIndegree · 2·scale; at this 1e12 ceiling BIGINT wraps
    // only past ~4.6M in-links on ONE node. The previous 1e15 ceiling
    // left that margin at ~4.6k — an ordinary hub page — and an overflow
    // here WRAPS silently rather than raising.
    require(scale > 0 && scale <= 1000000000000L,
      s"scale $scale risks silent BIGINT wrap in the raw half-step sums " +
        s"(bound: maxIndegree * 2 * scale < 2^63, i.e. max in-degree " +
        s"${Long.MaxValue / 2 / scale} at this scale)")
    // NOT memoized: a bare select(id) projection is generic enough that
    // Spark's CacheManager starts substituting it into OTHER queries'
    // matching plan fragments (cache subsumption is by sameResult, not
    // by reference) — observed flipping an unrelated gate query's
    // pushed parquet scan to an InMemoryTableScan. The projection is a
    // column-pruned scan; re-reading it per half-step is the cheap side
    // of the round.
    val ids = nodes.select(col(idCol).as("__id"))

    // plain (src, dst) — degree weighting is PageRank's trick, not HITS'
    val e = Memo.shared(cacheKey, s"hits/$srcCol/$dstCol") {
      edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
    }

    // one half-step: sum the far endpoint's value over `joinSide` edges,
    // re-key by `keep`, fence, then rescale by the floor quotient read
    // off the SAME action that materializes the fence
    def halfStep(vals: DataFrame, joinSide: String,
                 keep: String): (DataFrame, org.apache.spark.rdd.RDD[_]) = {
      val raw = e.join(vals, e(joinSide) === vals("__id"))
        .groupBy(keep).agg(sum("__v").as("__raw"))
      val all = ids.join(raw, ids("__id") === raw(keep), "left")
        .select(col("__id"), coalesce(col("__raw"), lit(0L)).as("__raw"))
      val (fenced, rdd) = Fence(all)
      val mxRow = fenced.agg(max(col("__raw"))).head()
      val mx = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)
      val q = math.max(mx / scale, 1L)
      (fenced.select(col("__id"), expr(s"__raw div ${q}L").as("__v")), rdd)
    }

    var hub = ids.select(col("__id"), lit(scale).as("__v"))
    var auth = hub
    var hubRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    var authRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    var i = 0
    while (i < iters) {
      val (a2, ra) = halfStep(hub, "__src", "__dst") // auth(v) = Σ hub(in)
      hubRdd.foreach(_.unpersist(blocking = false))  // consumed by a2's action
      authRdd.foreach(_.unpersist(blocking = false)) // superseded
      auth = a2; authRdd = Some(ra)
      val (h2, rh) = halfStep(auth, "__dst", "__src") // hub(u) = Σ auth(out)
      hub = h2; hubRdd = Some(rh)
      i += 1
    }
    // the final fenced pair stays persisted — it IS the result the
    // caller's plan reads (the connectedComponents convention)
    ids.join(auth.withColumnRenamed("__v", "auth_fp"), Seq("__id"))
      .join(hub.withColumnRenamed("__v", "hub_fp"), Seq("__id"))
      .select(col("__id").as(idCol), col("auth_fp"), col("hub_fp"))
  }
}
