package graft

import java.net.URI
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.engine.LocalFs

/** The session's `file:` FileSystem sets the same modes as Hadoop's
  * stock one, without forking `chmod` for them.
  *
  * Hadoop caches the first `file:` FileSystem a JVM creates, whatever
  * conf created it, so the class is checked on a fresh instance
  * (`FileSystem.newInstance`) under the session's Hadoop conf: that
  * holds alone and after any other suite.
  */
class LocalFsSpec extends AnyFunSuite {
  import SparkTestBase._

  private val root = new URI("file:///")

  private def sessionFs(): FileSystem =
    FileSystem.newInstance(root, spark.sessionState.newHadoopConf())

  private def stockFs(): FileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(root, new Configuration())
    fs
  }

  /** The full st_mode permission bits, sticky bit included. */
  private def mode(p: Path): Int =
    Files.getAttribute(java.nio.file.Paths.get(p.toString), "unix:mode")
      .asInstanceOf[Integer] & 0xfff

  /** Run `body` on the session's FileSystem ("ours"), then the stock one. */
  private def withBoth(body: (String, FileSystem) => Unit): Unit = {
    val (ours, stock) = (sessionFs(), stockFs())
    try { body("ours", ours); body("stock", stock) }
    finally { ours.close(); stock.close() }
  }

  test("the session's file: FileSystem is LocalFs") {
    val fs = sessionFs()
    try {
      val want =
        if (org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded) classOf[LocalFileSystem]
        else classOf[LocalFs]
      assert(fs.getClass == want)
    } finally fs.close()
  }

  test("create and mkdirs set the stock FileSystem's modes") {
    val dir = graft.engine.Scratch.dir("graft_localfs_")
    for (m <- Seq("644", "700", "755")) {
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      withBoth { (side, fs) =>
        val out = fs.create(new Path(s"$dir/$side-$m.bin"), perm, true, 4096,
          1.toShort, 1L << 20, null)
        out.write(1)
        out.close()
        assert(fs.mkdirs(new Path(s"$dir/$side-$m.d"), perm))
      }
      // the data file, its checksum side file and the directory
      def made(side: String) =
        Seq(s"$side-$m.bin", s".$side-$m.bin.crc", s"$side-$m.d").map(f => new Path(s"$dir/$f"))
      made("ours").zip(made("stock")).foreach { case (ours, stock) =>
        assert(mode(ours) == mode(stock), f"$ours: ${mode(ours)}%o vs stock ${mode(stock)}%o")
      }
      assert(mode(made("ours").head) == perm.toShort)
    }
    graft.engine.Scratch.delete(dir)
  }

  test("a sticky-bit mode takes the stock path") {
    val dir = graft.engine.Scratch.dir("graft_localfs_")
    val perm = new FsPermission(Integer.parseInt("1777", 8).toShort)
    withBoth { (side, fs) =>
      assert(fs.mkdirs(new Path(s"$dir/$side")))
      fs.setPermission(new Path(s"$dir/$side"), perm)
    }
    val got = mode(new Path(s"$dir/ours"))
    assert((got & Integer.parseInt("1000", 8)) != 0, f"sticky bit lost: $got%o")
    assert(got == mode(new Path(s"$dir/stock")))
    graft.engine.Scratch.delete(dir)
  }
}
