package graft.tools

import org.apache.spark.sql.SparkSession

/** The one local-session builder: every main, tool and the test suite
  * build their session here, so UTC, nanos timestamps, the AQE floor and
  * the spot knobs cannot drift apart between entry points.
  *
  * Knobs (read once, at first use):
  *   - `SPARK_GRAFT_CPUS` — default core count (else every available core)
  *   - `SPARK_GRAFT_AQE` — `false` for AQE-off comparison spots
  *
  * Shuffle partitions are `cpus`; the AQE coalescing floor is 64k.
  */
object Sessions {
  val defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
  // prod runs AQE on; the plan fingerprints pin AQE-off shapes (the
  // AqePlanSpec story) — timing both ways shows the re-plan is free
  private val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "true")
  // AQE's post-shuffle coalescing assumes task cost ∝ bytes; the
  // CPU-dense slots here (array intersects, integer fixed points,
  // codegen'd hash chains over ~50 B rows) break that assumption, and
  // the default 1 MiB floor coalesces their small-but-hot shuffles onto
  // 1-3 cores (partitioning must be derived from the workload, not a
  // constant). 64 KiB keeps parallelismFirst's totalBytes/parallelism
  // target in charge down to genuinely tiny shuffles; at scale
  // partitions sit at the advisory size and this floor is inert.
  private val aqeMinPartition = "64k"

  def local(appName: String, cpus: Int = defaultCpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      // one shuffle partition per core: local runs keep the partition
      // count fixed, so sort-heavy slots at 30-100x data grow their
      // per-partition sort/spill volume instead (see BENCH_sf10.json)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", aqe)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        aqeMinPartition)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
