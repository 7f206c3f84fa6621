package perfbench

import java.io.File

/** Reads an incremental index's on-disk commit markers, as the protocol
  * lays them out: a committed epoch is `stats/epoch=N/_SUCCESS`, a
  * committed compaction generation `stats-compact/gen=G/_SUCCESS`. */
object IndexLayout {
  private def committed(dir: File, prefix: String): Seq[Long] =
    Option(dir.listFiles).toSeq.flatten
      .filter(d => d.getName.startsWith(prefix) &&
        d.getName.stripPrefix(prefix).forall(_.isDigit) &&
        new File(d, "_SUCCESS").exists)
      .map(_.getName.stripPrefix(prefix).toLong).sorted

  def epochs(index: String): Seq[Long] =
    committed(new File(index, "stats"), "epoch=")

  def generations(index: String): Seq[Long] =
    committed(new File(index, "stats-compact"), "gen=")
}
