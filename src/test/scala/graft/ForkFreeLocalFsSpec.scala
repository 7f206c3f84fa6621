package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.core.{ForkFreeLocalFileSystem, ForkFreeLocalFs,
  ForkFreeRawLocalFileSystem}
import graft.pipeline.Pipeline
import graft.sources.Connectors
import graft.streaming.{IncrementalSearchIndex, Maintenance}

/** The fork-free `file:` filesystem: parity with Hadoop's stock
  * `RawLocalFileSystem` on permissions and link status, registration
  * through `core-site.xml`, and no process started by a partitioned
  * parquet write, a checkpointed stream or an index epoch with its
  * maintenance pass. */
class ForkFreeLocalFsSpec extends SparkSpec {

  private def raws(umask: String) = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    Seq(new RawLocalFileSystem, new ForkFreeRawLocalFileSystem).map { fs =>
      fs.initialize(URI.create("file:///"), conf); fs
    }
  }

  private def mode(p: Path): String =
    java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(p.toUri)))

  test("permissions after create, mkdirs and setPermission match the stock " +
      "filesystem under every umask") {
    val modes = Seq("644", "600", "755", "777", "700", "640", "000")
      .map(m => new FsPermission(Integer.parseInt(m, 8).toShort))
    for (umask <- Seq("022", "077", "002"); perm <- modes) {
      val tmp = new Path(Files.createTempDirectory("graft-perm").toUri)
      val Seq(stock, ours) = raws(umask)
      val got = Seq(stock, ours).zipWithIndex.map { case (fs, i) =>
        val f = new Path(tmp, s"f$i")
        fs.create(f, perm, true, 4096, 1.toShort, 1L << 20, null).close()
        val d = new Path(tmp, s"d$i")
        assert(fs.mkdirs(d, perm))
        val s = new Path(tmp, s"s$i")
        fs.create(s).close()
        fs.setPermission(s, perm)
        (mode(f), mode(d), mode(s))
      }
      assert(got(0) == got(1), s"umask $umask, mode $perm")
      assert(got(1)._3 == perm.toString, s"umask $umask, mode $perm")
    }
  }

  test("a mode with the sticky bit takes the stock path") {
    val tmp = new Path(Files.createTempDirectory("graft-sticky").toUri)
    val Seq(stock, ours) = raws("022")
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    val dirs = Seq(stock, ours).zipWithIndex.map { case (fs, i) =>
      val d = new Path(tmp, s"d$i")
      assert(fs.mkdirs(d))
      fs.setPermission(d, sticky)
      d
    }
    val perms = dirs.map(stock.getFileStatus(_).getPermission)
    assert(perms == Seq(sticky, sticky), perms)
  }

  test("link status of a file, a directory, a symlink and a missing path " +
      "matches the stock filesystem") {
    val tmp = Files.createTempDirectory("graft-link")
    Files.writeString(tmp.resolve("file"), "abc")
    Files.createDirectory(tmp.resolve("dir"))
    Files.createSymbolicLink(tmp.resolve("link"), tmp.resolve("file"))
    val Seq(stock, ours) = raws("022")
    def view(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory,
      s.isSymlink, s.getLen, s.getModificationTime,
      if (s.isSymlink) s.getSymlink else null)
    Seq("file", "dir", "link").foreach { n =>
      val p = new Path(tmp.resolve(n).toString)
      assert(view(ours.getFileLinkStatus(p)) ==
        view(stock.getFileLinkStatus(p)), n)
    }
    assert(ours.getFileLinkStatus(new Path(tmp.resolve("link").toString))
      .isSymlink)
    val missing = new Path(tmp.resolve("missing").toUri)
    Seq(stock, ours).foreach(fs =>
      intercept[java.io.FileNotFoundException](fs.getFileLinkStatus(missing)))
  }

  test("core-site.xml registers the fork-free classes; fs.file.impl " +
      "still overrides them") {
    val conf = new Configuration()
    val local = FileSystem.getLocal(conf)
    assert(local.isInstanceOf[ForkFreeLocalFileSystem])
    assert(local.getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
      .isInstanceOf[ForkFreeLocalFs])
    assert(FileSystem.get(URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[ForkFreeLocalFileSystem])
    val stock = new Configuration()
    stock.set("fs.file.impl", classOf[LocalFileSystem].getName)
    val fs = FileSystem.newInstance(URI.create("file:///"), stock)
    try assert(fs.getClass == classOf[LocalFileSystem])
    finally fs.close()
  }

  test("a partitioned parquet write starts no process") {
    val out = Files.createTempDirectory("graft-forks-pq").resolve("t").toString
    val df = spark.range(200).withColumn("p", col("id") % 4)
    val (_, forks) = processStartsDuring(
      df.write.partitionBy("p").parquet(out))
    assert(forks.isEmpty, forks)
    assert(spark.read.parquet(out).count() == 200)
  }

  test("a two-epoch checkpointed runStream starts no process") {
    val tmp = Files.createTempDirectory("graft-forks-stream").toString
    Files.createDirectories(Paths.get(tmp, "log"))
    Seq(0, 1).foreach(i => Files.writeString(Paths.get(tmp, "log", s"$i.json"),
      (i * 50 until i * 50 + 50)
        .map(id => s"""{"id":$id,"text":"doc-$id"}""").mkString("\n")))
    val spec = Pipeline.builder("forks")
      .source("log", Connectors.JsonLinesSource(s"$tmp/log", "docs",
        schema = Some(org.apache.spark.sql.types.StructType.fromDDL(
          "id long, text string")), maxFilesPerTrigger = Some(1)))
      .save("a", Connectors.ParquetSink(s"$tmp/a"))
      .build()
    val (_, forks) = processStartsDuring(
      spec.runStream(spark, s"$tmp/ckpt").awaitTermination())
    assert(forks.isEmpty, forks)
    assert(Files.exists(Paths.get(tmp, "ckpt", "commits", "1")))
  }

  test("a search-index epoch and its maintenance pass start no process") {
    val tmp = Files.createTempDirectory("graft-forks-idx").toString
    val docs = graft.core.Tables.table(spark, sf, "documents")
      .select("doc_id", "text")
    val cfg = IncrementalSearchIndex.Config(s"$tmp/index", hashBuckets = 8)
    val sink = new IncrementalSearchIndex.IndexSink(cfg, Seq("doc_id", "text"),
      maintain = Some(Maintenance.Policy(everyEpochs = 2, graceMs = 0L)))
    sink.writeEpoch(docs.filter(pmod(col("doc_id"), lit(2)) === 0), 0L)
    val (_, forks) = processStartsDuring(
      sink.writeEpoch(docs.filter(pmod(col("doc_id"), lit(2)) === 1), 1L))
    assert(forks.isEmpty, forks)
    assert(graft.streaming.GenStore.committedGens(spark, cfg.dir) == Seq(0L),
      "the second epoch must have run the maintenance pass")
  }
}
