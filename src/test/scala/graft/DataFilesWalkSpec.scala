package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables

/** `Tables.dataFiles` — the fork-free recursive walk every file count,
  * footer read and schema entry uses — returns exactly the non-hidden
  * data files of Hadoop's recursive `listFiles` (whose per-file
  * `LocatedFileStatus` forks `ls -ld` on the local filesystem). */
class DataFilesWalkSpec extends AnyFunSuite {

  private val fs = FileSystem.getLocal(new Configuration())

  private def touch(root: JPath, rel: String, bytes: Int = 3): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, Array.fill(bytes)(1.toByte))
  }

  /** listFiles' files whose names start with neither `_` nor `.`. */
  private def viaListFiles(p: Path): Set[(String, Long)] = {
    val it = fs.listFiles(p, true)
    var out = Set.empty[(String, Long)]
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (st.isFile && !n.startsWith("_") && !n.startsWith("."))
        out += ((st.getPath.toString, st.getLen))
    }
    out
  }

  private def viaWalk(p: Path): Set[(String, Long)] =
    Tables.dataFiles(fs, p).map(st => (st.getPath.toString, st.getLen)).toSet

  private lazy val tree: JPath = {
    val root = Files.createTempDirectory("graft-walk")
    touch(root, "t/_SUCCESS", 0)
    touch(root, "t/epoch=0/t_mod=1/part-00000-a.parquet", 10)
    touch(root, "t/epoch=0/t_mod=1/.part-00000-a.parquet.crc")
    touch(root, "t/epoch=0/t_mod=5/part-00001-b.parquet", 20)
    touch(root, "t/epoch=0/_SUCCESS", 0)
    touch(root, "t/epoch=1/t_mod=2/part-00000-c.parquet", 30)
    touch(root, "t/epoch=1/_committed_x")
    touch(root, "t/_temporary/0/task/part-00009-d.parquet", 7)
    touch(root, "t/.hidden/part-00010-e.parquet", 8)
    touch(root, "t/a=1/b=2/c=3/part-00011-f.parquet", 9)
    Files.createDirectories(root.resolve("t/epoch=2/t_mod=0"))
    Files.createDirectories(root.resolve("empty/x/y"))
    root
  }

  test("nested partition dirs, _ and . files, hidden dirs: listFiles' data files") {
    val p = new Path(tree.resolve("t").toUri)
    val want = viaListFiles(p)
    assert(want.size == 6, want)
    assert(viaWalk(p) == want)
    // a sub-tree and a single file, as listFiles sees them
    val sub = new Path(tree.resolve("t/epoch=0").toUri)
    assert(viaWalk(sub) == viaListFiles(sub))
    val file = new Path(tree.resolve("t/epoch=1/t_mod=2/part-00000-c.parquet").toUri)
    assert(viaWalk(file) == viaListFiles(file))
    assert(viaWalk(file).size == 1)
    val hidden = new Path(tree.resolve("t/_SUCCESS").toUri)
    assert(viaWalk(hidden).isEmpty && viaListFiles(hidden).isEmpty)
  }

  test("empty directories hold no data files") {
    val p = new Path(tree.resolve("empty").toUri)
    assert(viaListFiles(p).isEmpty)
    assert(viaWalk(p).isEmpty)
    val e = new Path(tree.resolve("t/epoch=2").toUri)
    assert(viaWalk(e).isEmpty && viaListFiles(e).isEmpty)
  }

  test("a missing path walks as empty, where listFiles throws") {
    val p = new Path(tree.resolve("no/such/dir").toUri)
    intercept[FileNotFoundException](viaListFiles(p))
    assert(viaWalk(p).isEmpty)
  }
}
