package graft

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag, FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.util.SerializableConfiguration

/** The session's `file:` filesystem ([[ForkFreeLocalFileSystem]] and its
  * FileContext twin [[ForkFreeLocalFs]]) must be what Spark actually uses,
  * and must behave like stock Hadoop apart from not forking.
  */
class ForkFreeLocalFsSpec extends SparkSpec {
  import ForkFreeLocalFsSpec._

  private def bits(p: NioPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("file: paths resolve to the fork-free classes on the driver and inside a task") {
    val want = (classOf[ForkFreeLocalFileSystem].getName, classOf[ForkFreeLocalFs].getName)
    val conf = spark.sessionState.newHadoopConf()
    assert(classes(conf) === want)
    assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    val shipped = new SerializableConfiguration(conf)
    val inTask = spark.sparkContext.parallelize(Seq(0), 1)
      .map(_ => classes(shipped.value)).collect().head
    assert(inTask === want)
  }

  test("created files and dirs get the stock LocalFileSystem's POSIX bits") {
    val root = tmpDir("ffl-perms")
    Seq("022", "027", "077").foreach { umask =>
      val conf = new Configuration(spark.sessionState.newHadoopConf())
      conf.set("fs.permissions.umask-mode", umask)
      val ours = new ForkFreeLocalFileSystem
      ours.initialize(fileUri, conf)
      val stock = new LocalFileSystem
      stock.initialize(fileUri, conf)
      val stockFc = {
        val c = new Configuration(conf)
        c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
        FileContext.getFileContext(fileUri, c)
      }
      val oursFc = FileContext.getFileContext(fileUri, conf)
      def made(tag: String) = new Path(root.toString, s"$umask/$tag")
      def nio(tag: String) = root.resolve(s"$umask/$tag")
      for ((tag, fs) <- Seq("ours" -> ours, "stock" -> stock)) {
        fs.create(made(s"$tag/d/f"), true).close()
        fs.mkdirs(made(s"$tag/m/n"))
        fs.create(made(s"$tag/explicit"), new FsPermission("640"), true, 4096,
          1.toShort, 1L << 26, null).close()
      }
      for ((tag, fc) <- Seq("ours-fc" -> oursFc, "stock-fc" -> stockFc)) {
        fc.create(made(s"$tag/d/f"), java.util.EnumSet.of(CreateFlag.CREATE),
          CreateOpts.createParent()).close()
        fc.mkdir(made(s"$tag/m/n"), FsPermission.getDirDefault, true)
      }
      for ((a, b) <- Seq("ours" -> "stock", "ours-fc" -> "stock-fc");
           rel <- Seq("d", "d/f", "m", "m/n") ++ (if (a == "ours") Seq("explicit") else Nil))
        assert(bits(nio(s"$a/$rel")) === bits(nio(s"$b/$rel")), s"umask $umask, $a/$rel")
      val fileBits = Map("022" -> "rw-r--r--", "027" -> "rw-r-----", "077" -> "rw-------")
      assert(bits(nio("ours/d/f")) === fileBits(umask))
    }
  }

  test("the sticky bit still reaches the directory") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path("file:/").getFileSystem(conf)
    val dir = new Path(tmpDir("ffl-sticky").toString, "shared")
    fs.mkdirs(dir)
    fs.setPermission(dir, new FsPermission("1777"))
    val stock = new LocalFileSystem
    stock.initialize(fileUri, conf)
    assert(stock.getFileStatus(dir).getPermission === new FsPermission("1777"))
  }

  test("getFileLinkStatus still reports symlinks through FileSystem and FileContext") {
    val conf = spark.sessionState.newHadoopConf()
    val root = tmpDir("ffl-link")
    val target = Files.writeString(root.resolve("target"), "x")
    val link = Files.createSymbolicLink(root.resolve("link"), target)
    val fs = FileSystem.getLocal(conf)
    val fc = FileContext.getFileContext(fileUri, conf)
    for (st <- Seq(fs.getFileLinkStatus(new Path(link.toString)),
                   fc.getFileLinkStatus(new Path(link.toString)))) {
      assert(st.isSymlink)
      assert(st.getSymlink.toUri.getPath === target.toString)
    }
    for (st <- Seq(fs.getFileLinkStatus(new Path(target.toString)),
                   fc.getFileLinkStatus(new Path(target.toString)))) {
      assert(!st.isSymlink && st.isFile && st.getLen === 1L)
    }
    intercept[java.io.FileNotFoundException](
      fc.getFileLinkStatus(new Path(root.toString, "missing")))
  }

  test("a flipped byte still fails checksum verification") {
    val conf = spark.sessionState.newHadoopConf()
    val root = tmpDir("ffl-crc")
    val fs = FileSystem.getLocal(conf)
    val fc = FileContext.getFileContext(fileUri, conf)
    val payload = Array.tabulate[Byte](3000)(i => (i % 251).toByte)
    val viaFs = new Path(root.toString, "via-fs")
    val o1 = fs.create(viaFs, true); o1.write(payload); o1.close()
    val viaFc = new Path(root.toString, "via-fc")
    val o2 = fc.create(viaFc, java.util.EnumSet.of(CreateFlag.CREATE)); o2.write(payload); o2.close()
    for (p <- Seq(viaFs, viaFc)) {
      val f = root.resolve(p.getName)
      assert(Files.exists(root.resolve(s".${p.getName}.crc")), s"no checksum sidecar for $p")
      val bytes = Files.readAllBytes(f)
      bytes(1234) = (bytes(1234) ^ 0x5a).toByte
      Files.write(f, bytes)
    }
    intercept[ChecksumException] {
      val in = fs.open(viaFs); try in.readAllBytes() finally in.close()
    }
    // FileContext.open(path) bypasses ChecksumFs in stock Hadoop too
    // (FilterFs forwards the one-argument open to the raw filesystem);
    // the buffered open is the checksummed one
    intercept[ChecksumException] {
      val in = fc.open(viaFc, 4096); try in.readAllBytes() finally in.close()
    }
  }
}

object ForkFreeLocalFsSpec {
  private val fileUri = URI.create("file:///")

  private def classes(conf: Configuration): (String, String) =
    (new Path("file:/tmp").getFileSystem(conf).getClass.getName,
      AbstractFileSystem.get(fileUri, conf).getClass.getName)
}
