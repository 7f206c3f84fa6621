package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the missing step
  * between near-dup PAIRS and near-dup CLUSTERS: pair output (a,b),(b,c)
  * must collapse transitively to one cluster {a,b,c} before a curation
  * run can keep exactly one representative per duplicate class.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — the
  * standard shared-nothing CC formulation:
  *
  *   - large-star: every node links its LARGER neighbors to the smallest
  *     node it can see (its min neighbor or itself);
  *   - small-star: every node links its smaller-or-equal neighbors to
  *     the smallest of them.
  *
  * Both steps are a groupBy-min plus an edge join — no adjacency lists
  * are ever materialized (no collect_list; a hub node of any degree is
  * just many (edge → min) rows, partial-aggregated map-side), which is
  * exactly why this beats naive label propagation at 100 TB: iteration
  * count is O(log² n) versus O(graph diameter), and per-round skew on a
  * celebrity node is absorbed by the map-side partial min.
  *
  * Each round is checkpointed (`localCheckpoint`) to truncate lineage —
  * an iterated self-join plan otherwise grows exponentially. On a real
  * cluster, point `spark.sparkContext.setCheckpointDir` at durable
  * storage and swap `localCheckpoint` for `checkpoint` if executor loss
  * matters mid-job; the algorithm is oblivious to which.
  *
  * Output is deterministic regardless of iteration order: every node is
  * labeled with the MINIMUM id in its component.
  */
object Clustering {

  /** (id, component) for every node appearing in `edges`; component =
    * min node id in the connected component. Id columns may be any
    * orderable type (both endpoints must agree). Self-loops and null
    * endpoints are dropped. Nodes not present in any edge do not appear
    * (callers union/coalesce singletons — see `Dedup.clusterAssign`). */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      maxIterations: Int = 50): DataFrame = {
    require(edges.schema(aCol).dataType == edges.schema(bCol).dataType,
      s"edge endpoint types differ: ${edges.schema(aCol).dataType} vs " +
        s"${edges.schema(bCol).dataType}")

    // Each round is re-rooted on its [[Fence]] so the next round's plan
    // is scan→stars, not an exponentially growing tree (each star
    // references its input several times); the ONE action per round
    // (the checksum below) both materializes and measures it, and the
    // previous round's fence is released once it has. On a real
    // cluster swap the persist for `checkpoint` every few rounds if
    // executor-loss recovery cost matters; the algorithm is oblivious.

    // Convergence = the edge set stops changing. (count, xor-of-hashes)
    // is a deterministic set checksum (xor is order-independent and never
    // overflows under ANSI): equal sets always compare equal, and a
    // collision between DIFFERENT consecutive edge sets would need two
    // distinct 64-bit xors to coincide — vanishingly unlikely, and
    // bounded by maxIterations regardless.
    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // No input distinct/checksum job: round 1's stars dedup internally,
    // and `prev` starts as a sentinel that can never match a real
    // checksum, so convergence is detected purely from round-over-round
    // stability — one job per round, total.
    var (e, liveRdd) = Fence(edges
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v")))

    var prev = (-1L, -1L)
    var iters = 0
    var done = false
    while (!done && iters < maxIterations) {
      val (next, nextRdd) = Fence(smallStar(largeStar(e)))
      val cs = checksum(next) // one job: materializes + measures the round
      liveRdd.unpersist(blocking = false)
      liveRdd = nextRdd
      e = next
      done = cs == prev || cs._1 == 0L // an empty edge set cannot change
      prev = cs
      iters += 1
    }

    // At the fixpoint every edge is (member, componentMin); centers map
    // to themselves.
    e.select(col("u").as("id"), col("v").as("component"))
      .union(e.select(col("v").as("id"), col("v").as("component")))
      .distinct()
  }

  /** large-star: for each node u (over symmetric edges), m = min(N(u) ∪
    * {u}); emit (v, m) for every neighbor v > u. Two shuffles: the
    * groupBy-min (map-side partial) and the edge join back on u. No
    * trailing distinct: the duplicates (bounded by the symmetric-edge
    * blowup, ≤2×) flow straight into smallStar, whose post-orientation
    * distinct subsumes it — one fewer shuffle per round. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u")
      .agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
  }

  /** small-star: orient edges so u > v; for each u, m = min of its
    * smaller neighbors; relink those neighbors (and u itself) to m. */
  private def smallStar(e: DataFrame): DataFrame = {
    val or = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val mins = or.groupBy("u").agg(min("v").as("mn"))
    val j = or.join(mins, "u")
    j.filter(col("v") =!= col("mn"))
      .select(col("v").as("u"), col("mn").as("v"))
      .union(j.select(col("u"), col("mn").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }
}
