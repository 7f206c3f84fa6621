package graft.tools

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Operator-intervention CLI over streaming checkpoints and upsert targets —
  * the analogue of the reference's `xlog` / `offset` subcommands
  * (`cmd/transporter/xlog.go:16-71`, `cmd/transporter/offset.go:24-143`,
  * `DESIGN.md` §Message Failures).
  *
  * A Structured Streaming checkpoint IS the commit log + offset log pair:
  * `offsets/<n>` records what epoch n will read (the reference's source
  * offsets), `commits/<n>` marks it durably applied (the per-sink offset
  * log). `mark` rewinds by deleting entries above a batch — the moral
  * equivalent of `transporter offset mark` for forcing a replay (safe only
  * because sinks are idempotent).
  *
  * Commands:
  *   oldest <ckpt>           first retained batch id        (xlog oldest)
  *   current <ckpt>          newest written batch id        (xlog current)
  *   show <ckpt> <batch>     print that batch's offsets     (xlog show)
  *   list <ckpt>             all batches + committed marks  (offset list)
  *   mark <ckpt> <batch>     rewind: drop entries > batch   (offset mark)
  *   state <targetDir>       row count of an upsert target
  */
object Admin {

  private def listNames(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val stream = Files.list(dir)
      try stream.iterator().asScala.map(_.getFileName.toString).toVector
      finally stream.close()
    }

  private def ids(dir: Path): Seq[Long] =
    listNames(dir).filter(_.forall(_.isDigit)).map(_.toLong).sorted

  /** Log entries including '<n>.compact' rollups (CompactibleFileStreamLog:
    * the file-source log compacts periodically; a rewind must drop
    * compactions above the mark too, or the source log stays ahead of the
    * offsets log). Returns (fileName, batchId). */
  private def logEntries(dir: Path): Seq[(String, Long)] =
    listNames(dir).flatMap { n =>
      if (n.forall(_.isDigit)) Some((n, n.toLong))
      else if (n.endsWith(".compact") &&
               n.stripSuffix(".compact").forall(_.isDigit))
        Some((n, n.stripSuffix(".compact").toLong))
      else None
    }

  def main(args: Array[String]): Unit = args.toList match {
    case "oldest" :: ckpt :: Nil =>
      println(ids(Paths.get(ckpt, "offsets")).headOption
        .map(_.toString).getOrElse("no offsets"))
    case "current" :: ckpt :: Nil =>
      println(ids(Paths.get(ckpt, "offsets")).lastOption
        .map(_.toString).getOrElse("no offsets"))
    case "show" :: ckpt :: batch :: Nil =>
      val f = Paths.get(ckpt, "offsets", batch)
      if (Files.exists(f)) print(Files.readString(f))
      else { System.err.println(s"no offsets/$batch"); sys.exit(1) }
    case "list" :: ckpt :: Nil =>
      val committed = ids(Paths.get(ckpt, "commits")).toSet
      val offsets = ids(Paths.get(ckpt, "offsets"))
      if (offsets.isEmpty) println("no batches")
      offsets.foreach { b =>
        val mark = if (committed.contains(b)) "committed" else "pending"
        println(s"batch $b  $mark")
      }
    case "mark" :: ckpt :: batch :: Nil =>
      val upTo = batch.toLong
      var removed = 0
      // offsets + commits (the WAL/commit pair) AND every per-source
      // metadata log — leaving sources/<i> ahead of the offsets log makes
      // the restarted query think another query wrote its batches
      val sourceLogs = listNames(Paths.get(ckpt, "sources"))
        .filter(n => Files.isDirectory(Paths.get(ckpt, "sources", n)))
        .map(n => s"sources/$n")
      (Seq("offsets", "commits") ++ sourceLogs).foreach { sub =>
        logEntries(Paths.get(ckpt, sub)).filter(_._2 > upTo)
          .foreach { case (fname, _) =>
            Files.delete(Paths.get(ckpt, sub, fname)); removed += 1
            // local-fs Hadoop checksum shadow: a stale .<name>.crc makes
            // the next atomic rename onto <name> fail as FileAlreadyExists
            Files.deleteIfExists(Paths.get(ckpt, sub, s".$fname.crc"))
          }
      }
      println(s"rewound to batch $upTo ($removed entries removed); " +
        "next start replays from here (sinks must be idempotent)")
    case "state" :: target :: Nil =>
      // hash-bucketed upsert-target layout: CURRENT → manifest-v<K> →
      // b<bucket>-v<ver> dirs (+ BUCKETS = recorded modulus)
      val ptr = Paths.get(target, "CURRENT")
      if (!Files.exists(ptr)) { println("empty target"); return }
      val v = Files.readString(ptr).trim
      val manifest = Paths.get(target, s"manifest-v$v")
      val lines =
        if (Files.exists(manifest))
          Files.readAllLines(manifest).asScala.filter(_.nonEmpty).toSeq
        else Seq.empty
      // '#'-prefixed lines are commit metadata (e.g. "#epoch <id>")
      val entries = lines.filterNot(_.startsWith("#")).map { l =>
        val Array(b, bv) = l.split(' '); (b.toInt, bv.toLong)
      }.sortBy(_._1)
      lines.find(_.startsWith("#epoch ")).foreach(l =>
        println(s"applied epoch: ${l.stripPrefix("#epoch ")}"))
      val buckets = Paths.get(target, "BUCKETS")
      println(s"manifest: v$v  " +
        (if (Files.exists(buckets))
          s"numBuckets: ${Files.readString(buckets).trim}  " else "") +
        s"live buckets: ${entries.size}")
      entries.foreach { case (b, bv) => println(s"  bucket $b -> v$bv") }
      if (entries.nonEmpty) {
        // reuse an in-process session if one exists (embedded use); only
        // stop what this command itself created
        val preexisting =
          org.apache.spark.sql.SparkSession.getDefaultSession.isDefined
        val spark = Sessions.local("graft-admin")
        val df = spark.read.parquet(
          entries.map { case (b, bv) => s"$target/b$b-v$bv" }: _*)
        println(s"rows: ${df.count()}")
        println(s"schema: ${df.schema.simpleString}")
        if (!preexisting) spark.stop()
      }
    case _ =>
      System.err.println(
        """usage: graft.tools.Admin <command>
          |  oldest <ckpt> | current <ckpt> | show <ckpt> <batch>
          |  list <ckpt> | mark <ckpt> <batch> | state <targetDir>""".stripMargin)
      sys.exit(2)
  }
}
