package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}

/** The fork-free local filesystem against stock `LocalFileSystem` on the
  * same directory: same modes, same `.crc` sidecars, same statuses.
  */
class ForkFreeLocalFileSystemSpec extends AnyFunSuite {

  private def withFileSystems(body: (FileSystem, FileSystem, String) => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_forkfree")
    val conf = new Configuration()
    val stock = new LocalFileSystem()
    stock.initialize(FileSystem.getDefaultUri(conf), conf)
    val ours = new ForkFreeLocalFileSystem()
    ours.initialize(FileSystem.getDefaultUri(conf), conf)
    try body(stock, ours, dir.toString)
    finally {
      stock.close(); ours.close()
      graft.streaming.StreamHarness.delete(dir.toFile)
    }
  }

  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  private def fields(s: FileStatus) = (s.getPath, s.isDirectory, s.isSymlink,
    s.getLen, s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)

  test("default create and mkdirs give the stock modes, and the .crc sidecar") {
    withFileSystems { (stock, ours, dir) =>
      for ((fs, tag) <- Seq(stock -> "stock", ours -> "ours")) {
        val out = fs.create(new Path(s"$dir/$tag/a/b/f"))
        out.write(Array[Byte](1, 2, 3)); out.close()
        assert(fs.mkdirs(new Path(s"$dir/$tag/d/e")))
      }
      assert(Files.exists(Paths.get(s"$dir/ours/a/b/.f.crc")))
      for (rel <- Seq("", "/a", "/a/b", "/a/b/f", "/a/b/.f.crc", "/d", "/d/e"))
        assert(mode(s"$dir/ours$rel") == mode(s"$dir/stock$rel"), rel)
    }
  }

  test("an explicit create permission is applied: 600") {
    withFileSystems { (stock, ours, dir) =>
      for ((fs, tag) <- Seq(stock -> "stock", ours -> "ours"))
        fs.create(new Path(s"$dir/$tag"), new FsPermission("600"), false,
          4096, 1.toShort, 1L << 25, null).close()
      assert(mode(s"$dir/ours") == "rw-------")
      assert(mode(s"$dir/ours") == mode(s"$dir/stock"))
    }
  }

  test("getFileLinkStatus is getFileStatus for a file and a directory") {
    withFileSystems { (_, ours, dir) =>
      ours.create(new Path(s"$dir/f")).close()
      for (p <- Seq(new Path(s"$dir/f"), new Path(dir))) {
        val link = ours.getFileLinkStatus(p)
        assert(!link.isSymlink)
        assert(fields(link) == fields(ours.getFileStatus(p)))
      }
      intercept[FileNotFoundException](ours.getFileLinkStatus(new Path(s"$dir/missing")))
    }
  }

  test("a real symlink gets the stock link status") {
    withFileSystems { (stock, ours, dir) =>
      ours.create(new Path(s"$dir/target")).close()
      Files.createSymbolicLink(Paths.get(s"$dir/link"), Paths.get(s"$dir/target"))
      val p = new Path(s"$dir/link")
      val (s, o) = (stock.getFileLinkStatus(p), ours.getFileLinkStatus(p))
      assert(o.isSymlink && s.isSymlink)
      assert(fields(o) == fields(s) && o.getSymlink == s.getSymlink)
    }
  }

  test("the FileContext view writes .crc sidecars and renames with them") {
    withFileSystems { (_, _, dir) =>
      val conf = new Configuration()
      ForkFreeLocalFileSystem.confs.foreach { case (k, v) => conf.set(k, v) }
      val fc = FileContext.getFileContext(new Path(dir).toUri, conf)
      val fs = fc.getDefaultFileSystem
      assert(fs.isInstanceOf[ForkFreeLocalFs])
      val tmp = new Path(s"$dir/.tmp")
      val out = fc.create(tmp, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      out.write(Array[Byte](4, 5)); out.close()
      fc.rename(tmp, new Path(s"$dir/final"))
      assert(Files.exists(Paths.get(s"$dir/final")) && Files.exists(Paths.get(s"$dir/.final.crc")))
      assert(!Files.exists(Paths.get(s"$dir/.tmp")) && !Files.exists(Paths.get(s"$dir/..tmp.crc")))
      // and the FileSystem API resolves the fork-free class under the same keys
      val viaGet = FileSystem.get(new Path(dir).toUri, conf)
      assert(viaGet.isInstanceOf[ForkFreeLocalFileSystem])
      assert(viaGet.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
      viaGet.close()
    }
  }
}
