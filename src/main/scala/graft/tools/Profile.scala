package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-query job/stage time breakdown for the bench slots — the §1
  * "empirical loop" of the optimization guide without the Spark UI
  * (headless sandbox): for each named query it replays the Bench
  * protocol (sf0.001 double warm pass, off-clock index build at the
  * measured dir, then timed noop-sink runs) while a listener attributes
  * wall time to jobs and stages, so a slot's seconds split into
  * scheduling overhead (many tiny jobs/stages) vs genuine compute (few
  * fat stages, task-time-bound).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.tools.Profile link_incr_rank dedup_cluster"
  *
  * Output per query per timed round: wall seconds, job count, stage
  * count, task count, Σ executor run time, Σ JVM GC time, shuffle
  * read/write bytes, and the top stages by duration with name + task
  * time. Jobs are bracketed per query via a description marker, so
  * memo-build jobs from OTHER slots never pollute a reading.
  */
object Profile {

  private final case class StageRec(id: Int, name: String,
      wallMs: Long, taskMs: Long, tasks: Int, gcMs: Long,
      shRead: Long, shWrite: Long, spill: Long,
      inRecs: Long, shReadRecs: Long, cpuNs: Long)

  private final class Rec {
    var jobs = 0
    val stages = mutable.ArrayBuffer.empty[StageRec]
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rounds = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "2").toInt
    val topN = sys.env.getOrElse("SPARK_GRAFT_PROFILE_TOP", "12").toInt
    val spark = Sessions.local("graft-profile")

    // marker → record; the listener files each job under the description
    // current at submit time (thread-local, so sequential runs are exact)
    val recs = mutable.Map.empty[String, Rec]
    val jobMarker = mutable.Map.empty[Int, String] // jobId → marker
    val stageMarker = mutable.Map.empty[Int, String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val m = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        if (m.startsWith("profile:")) {
          jobMarker(j.jobId) = m
          j.stageIds.foreach(stageMarker(_) = m)
          recs.synchronized(recs.getOrElseUpdate(m, new Rec).jobs += 1)
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val si = s.stageInfo
        stageMarker.get(si.stageId).foreach { m =>
          val tm = si.taskMetrics
          val wall = (for {a <- si.submissionTime; b <- si.completionTime}
            yield b - a).getOrElse(0L)
          recs.synchronized(recs.getOrElseUpdate(m, new Rec).stages +=
            StageRec(si.stageId, si.name, wall, tm.executorRunTime,
              si.numTasks, tm.jvmGCTime,
              tm.shuffleReadMetrics.totalBytesRead,
              tm.shuffleWriteMetrics.bytesWritten,
              tm.memoryBytesSpilled + tm.diskBytesSpilled,
              tm.inputMetrics.recordsRead,
              tm.shuffleReadMetrics.recordsRead,
              tm.executorCpuTime))
        }
      }
    })

    val names = args.toSeq
    val queries = graft.SparkEntry.queries

    // Bench warm protocol: two passes at sf0.001, then the off-clock
    // index build at the measured dir for indexBuildQueries members;
    // Bench's off-clock step reports a failure on stderr
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      for (_ <- 1 to 2; n <- names)
        graft.Bench.offClock(spark, "warm", n, warmDir)
    for (n <- names.filter(graft.Bench.indexBuildQueries.contains))
      graft.Bench.offClock(spark, "index_build", n, sfDir)

    for (n <- names; fn <- queries.get(n); r <- 1 to rounds) {
      val marker = s"profile:$n#$r"
      spark.sparkContext.setJobDescription(marker)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      // listener events arrive on an async bus — late stage-completed
      // events would silently vanish from the round just printed
      // (advisor r17). The bus has no public drain hook from here, so
      // poll until the marker's (jobs, stages) counts hold still for
      // two consecutive 50 ms ticks (bounded at 2 s). Stage RETRIES
      // still append a second record for the same stage id — at these
      // SFs retries are rare, but a double-counted stage is possible.
      var last = (-1, -1)
      var stable = 0
      var waited = 0
      while (stable < 2 && waited < 40) {
        Thread.sleep(50); waited += 1
        val cur = recs.synchronized {
          val r = recs.get(marker)
          (r.map(_.jobs).getOrElse(0), r.map(_.stages.size).getOrElse(0))
        }
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      val rec = recs.getOrElse(marker, new Rec)
      val st = rec.stages.sortBy(-_.wallMs)
      val fmt = "%.3f"
      println(f"\n==== $n round $r: wall ${wall}%.3f s — jobs ${rec.jobs}, " +
        f"stages ${st.size}, tasks ${st.map(_.tasks).sum}, " +
        f"taskTime ${st.map(_.taskMs).sum / 1e3}%.2f s, " +
        f"gc ${st.map(_.gcMs).sum / 1e3}%.2f s, " +
        f"stageWallSum ${st.map(_.wallMs).sum / 1e3}%.2f s, " +
        f"shRead ${st.map(_.shRead).sum / 1e6}%.1f MB, " +
        f"shWrite ${st.map(_.shWrite).sum / 1e6}%.1f MB, " +
        f"spill ${st.map(_.spill).sum / 1e6}%.1f MB")
      st.take(topN).foreach { s =>
        println(f"  stage ${s.id}%5d wall ${s.wallMs / 1e3}%7.3f s  " +
          f"task ${s.taskMs / 1e3}%7.3f s  cpu ${s.cpuNs / 1e9}%7.3f s  " +
          f"n=${s.tasks}%4d  inRecs=${s.inRecs}%8d shRecs=${s.shReadRecs}%8d  " +
          f"${s.name.take(60)}")
      }
    }
    spark.stop()
  }
}
