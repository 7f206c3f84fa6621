package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.core.Tables

/** Policy-driven ingest-path maintenance for the [[GenStore]] index
  * family — the engine's counterpart of the reference's interval
  * compactor, which runs as part of NORMAL pipeline operation (hourly
  * default, `pipeline/node.go:33`; the compactor loop
  * `pipeline/node.go:417-436` driving `commitlog/compactor.go:35-104`)
  * rather than as an operator-invoked CLI. Spark has no daemon thread
  * to hang a timer on — the natural hook is the epoch commit itself:
  * after each committed epoch the sink checks PRESSURE (how many
  * committed epochs are still served from the epoch trees, and
  * optionally the live data-file count) and, once a threshold is
  * crossed, runs the family's maintenance pass
  * ([[EpochIndex.maintenancePass]]: `compact(sizeRatio)`, the link
  * index's rank-table refresh, `gc(graceMs)`) inline in the ingest
  * thread, under the single-maintainer claim.
  *
  * A held claim (another maintainer in flight, or a crashed one not
  * yet aged out) SKIPS the pass loudly instead of failing the stream:
  * ingest correctness never depends on maintenance having run, the
  * epoch itself is already committed, and the next epoch's check
  * retries. Every other failure propagates — a maintenance pass that
  * corrupts state must kill the pipeline, not log.
  *
  * Default policy: compact once EIGHT epochs accrue outside the
  * generations, size ratio 4 (tiered — a small delta never rewrites
  * the big generation), grace 1h. The epoch-count trigger is the
  * primary one because the probe-side cost the pass exists to bound is
  * O(remainder epochs × buckets) listing/footer work; the file-count
  * trigger is the belt-and-braces cap for deployments whose writers
  * emit more files per epoch than planned.
  */
object Maintenance {

  /** When an epoch commit triggers the maintenance pass.
    *
    * @param everyEpochs  run once ≥ this many committed epochs are
    *                     served from the epoch trees (not yet folded
    *                     into a generation)
    * @param maxLiveFiles run once the index's live data-file count
    *                     (all sides: generations + epoch trees)
    *                     reaches this — `Long.MaxValue` disables the
    *                     check (and its listing walk)
    * @param sizeRatio    tiered-fold admission ratio for the compact
    * @param graceMs      gc grace window
    */
  final case class Policy(
      everyEpochs: Int = 8,
      maxLiveFiles: Long = Long.MaxValue,
      sizeRatio: Double = 4.0,
      graceMs: Long = 3600000L)

  /** The trigger inputs of one check: committed epochs still served
    * from the epoch trees, and (−1 when not counted) live data files. */
  final case class Pressure(remainderEpochs: Int, liveFiles: Long)

  private def countFiles(spark: SparkSession, base: String): Long =
    Tables.dataFiles(GenStore.fs(spark, base), new Path(base)).size.toLong

  /** Measure the index's current pressure. The remainder count is a
    * marker listing (bounded metadata); the file walk runs only when
    * the policy actually caps files. */
  def pressure(spark: SparkSession, dir: String, sideNames: Seq[String],
      committedEps: Seq[Long], withFiles: Boolean): Pressure = {
    val v = GenStore.view(spark, dir, committedEps)
    val files =
      if (!withFiles) -1L
      else sideNames.map(s =>
        countFiles(spark, s"$dir/$s") +
          countFiles(spark, s"$dir/$s-compact")).sum
    Pressure(v.remainder.size, files)
  }

  def due(p: Pressure, pol: Policy): Boolean =
    p.remainderEpochs >= pol.everyEpochs ||
      (pol.maxLiveFiles != Long.MaxValue && p.liveFiles >= pol.maxLiveFiles)

  /** Run `pass` if the policy says the index is due. Returns true when
    * the pass ran to completion, false when not due or skipped on a
    * held claim (logged loudly — streams must not die on a maintenance
    * race; the next epoch retries). */
  def maybeRun(spark: SparkSession, dir: String, sideNames: Seq[String],
      committedEps: Seq[Long], pol: Policy)(pass: => Unit): Boolean = {
    val pr = pressure(spark, dir, sideNames, committedEps,
      withFiles = pol.maxLiveFiles != Long.MaxValue)
    if (!due(pr, pol)) return false
    try { pass; true }
    catch {
      case e: GenStore.ClaimHeldException =>
        System.err.println(
          s"[maintenance] SKIPPED pass on $dir (pressure: " +
            s"${pr.remainderEpochs} remainder epochs" +
            (if (pr.liveFiles >= 0) s", ${pr.liveFiles} live files" else "") +
            s"): ${e.getMessage}")
        false
    }
  }
}
