package graft

import java.io.{File, FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, LinkOption}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag, FileContext,
  Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** graft's `file://` FileContext filesystem ([[graft.io.LocalFs]]) against
  * Hadoop's stock `LocalFs`: the same steps in two sibling directories must
  * leave the same files, `.crc` siblings and permissions and report the
  * same statuses; each reads what the other wrote, and the checksum still
  * guards a file graft wrote. Then `LocalFs.bind`, which must never
  * override a binding the user made. */
class LocalFsSpec extends SparkSpec {

  private val Key = graft.io.LocalFs.Key
  private val Stock = "org.apache.hadoop.fs.local.LocalFs"
  private val Graft = classOf[graft.io.LocalFs].getName

  private def fileContext(impl: String): FileContext = {
    val conf = new Configuration()
    conf.set(Key, impl)
    conf.set("fs.permissions.umask-mode", "027")
    FileContext.getFileContext(conf)
  }

  private def withDir[T](tag: String)(f: File => T): T = {
    val d = Files.createTempDirectory(s"graft_localfs_$tag").toFile
    try f(d) finally FileUtils.deleteQuietly(d)
  }

  private def perm(mode: Int) = new FsPermission(mode.toShort)

  private def write(fc: FileContext, p: Path, mode: Int, bytes: Array[Byte]): Unit = {
    val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.perms(perm(mode)), Options.CreateOpts.createParent())
    try out.write(bytes) finally out.close()
  }

  /** Reads `p` whole. Passes a buffer size: Hadoop 3.4.2's
    * `FileContext.open(path)` reaches `FilterFs.open(path)`, which opens
    * the raw file and skips the `.crc` check for either LocalFs. */
  private def read(fc: FileContext, p: Path): Array[Byte] = {
    val in = fc.open(p, 4096)
    try in.readAllBytes() finally in.close()
  }

  /** Every path under `root`, relative, with its type and full mode bits. */
  private def tree(root: File): Seq[String] = {
    val r = root.toPath
    val walk = Files.walk(r)
    try walk.iterator.asScala.filter(_ != r).map { p =>
      val mode = Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS)
        .asInstanceOf[Int] & 0xfff
      val kind = if (Files.isSymbolicLink(p)) "l" else if (Files.isDirectory(p)) "d" else "f"
      f"${r.relativize(p)} $kind ${if (kind == "l") 0 else mode}%o"
    }.toSeq.sorted finally walk.close()
  }

  /** What `getFileLinkStatus` reports, relative to `root`, or the
    * exception class it throws. */
  private def linkStatus(fc: FileContext, root: File, name: String): String =
    Try(fc.getFileLinkStatus(new Path(new File(root, name).getAbsolutePath))).map { s =>
      Seq(s.getPath.toUri.getPath.stripPrefix(root.getAbsolutePath), s.isFile, s.isDirectory,
        s.isSymlink, s.getLen, s.getPermission, s.getOwner, s.getGroup, s.getReplication,
        s.getBlockSize).mkString(" ")
    }.recover { case e => e.getClass.getName }.get

  /** The differential steps in `root` through `fc`; returns what they
    * observed. */
  private def steps(fc: FileContext, root: File): Seq[String] = {
    def p(name: String) = new Path(new File(root, name).getAbsolutePath)
    write(fc, p("f600"), 0x180, "six hundred".getBytes) // 0600
    write(fc, p("f644"), 0x1a4, "six forty-four".getBytes) // 0644
    write(fc, p("f755"), 0x1ed, "seven fifty-five".getBytes) // 0755
    fc.mkdir(p("d750/sub"), perm(0x1ed), true) // 0755 under umask 027
    write(fc, p("d750/sub/src"), 0x1a4, "renamed".getBytes)
    write(fc, p("d750/sub/dst"), 0x1a4, "overwritten".getBytes)
    fc.rename(p("d750/sub/src"), p("d750/sub/dst"), Options.Rename.OVERWRITE)
    fc.mkdir(p("sticky"), perm(0x1ed), false)
    fc.setPermission(p("sticky"), perm(0x3ed)) // 01755
    // the chmod command keeps a directory's setgid bit under a 4-digit mode
    fc.mkdir(p("setgid"), perm(0x1ed), false)
    assert(new ProcessBuilder("chmod", "2755", s"$root/setgid").start().waitFor() == 0)
    fc.setPermission(p("setgid"), perm(0x1e8)) // 0750
    Files.createSymbolicLink(new File(root, "link").toPath, new File(root, "f644").toPath)
    Files.createSymbolicLink(new File(root, "dangling").toPath, new File(root, "gone").toPath)
    val statuses = Seq("f600", "f644", "f755", "d750", "d750/sub/dst", "sticky", "link",
      "dangling", "missing").map(n => s"$n: ${linkStatus(fc, root, n)}")
    tree(root) ++ statuses :+ new String(read(fc, p("d750/sub/dst")))
  }

  test("graft's LocalFs leaves the same files, .crc siblings, permissions and " +
    "statuses as the stock LocalFs") {
    withDir("diff") { d =>
      val stock = steps(fileContext(Stock), new File(d, "stock"))
      val graft = steps(fileContext(Graft), new File(d, "graft"))
      assert(graft === stock)
      // the steps mean something: modes under umask 027, checksums, a
      // renamed file, sticky and setgid bits, statuses and a missing path
      Seq("f600 f 600", "f644 f 640", "f755 f 750", "d750 d 750", ".f600.crc f 600",
        "d750/sub/.dst.crc f 640", "sticky d 1755", "setgid d 2750", "link l 0",
        "f644: /f644 true false false 14 rw-r-----",
        "d750: /d750 false true false",
        "link: /link false false true 14 rw-r-----",
        "dangling: /dangling false false true",
        s"missing: ${classOf[FileNotFoundException].getName}", "renamed").foreach { want =>
        assert(stock.exists(_.startsWith(want)), s"$want in\n${stock.mkString("\n")}")
      }
      assert(!stock.exists(_.startsWith("d750/sub/src")))
    }
  }

  test("each LocalFs reads what the other wrote, and one flipped byte in a " +
    "file graft wrote fails a stock read with ChecksumException") {
    withDir("crc") { d =>
      val (stock, graft) = (fileContext(Stock), fileContext(Graft))
      val bytes = Array.tabulate[Byte](4000)(i => (i * 31).toByte)
      val (byStock, byGraft) = (new Path(s"$d/by_stock"), new Path(s"$d/by_graft"))
      write(stock, byStock, 0x1a4, bytes)
      write(graft, byGraft, 0x1a4, bytes)
      assert(read(graft, byStock) === bytes)
      assert(read(stock, byGraft) === bytes)
      assert(new File(d, ".by_graft.crc").isFile)
      val raf = new RandomAccessFile(new File(d, "by_graft"), "rw")
      try {
        raf.seek(2500)
        val b = raf.read()
        raf.seek(2500)
        raf.write(b ^ 0x10)
      } finally raf.close()
      intercept[ChecksumException](read(stock, byGraft))
      intercept[ChecksumException](read(graft, byGraft))
    }
  }

  /** The `file` AbstractFileSystem a FileContext built from `s`'s Hadoop
    * conf gets: what Spark's metadata logs and state stores get. */
  private def boundClass(s: org.apache.spark.sql.SparkSession): String =
    AbstractFileSystem.get(new URI("file:///"), s.sessionState.newHadoopConf()).getClass.getName

  test("bind binds an unbound session, and a second call changes nothing") {
    val s = spark.newSession()
    assert(s.conf.getOption(Key).isEmpty)
    assert(boundClass(s) === Stock)
    graft.io.LocalFs.bind(s)
    assert(s.conf.get(Key) === Graft)
    assert(boundClass(s) === Graft)
    graft.io.LocalFs.bind(s)
    assert(s.conf.get(Key) === Graft)
    // the spec session itself is bound, so no spec depends on test order
    assert(boundClass(spark) === Graft)
  }

  test("bind leaves a user's binding alone: in the session conf, as " +
    "spark.hadoop., or in the SparkContext's Hadoop conf") {
    val own = spark.newSession()
    own.conf.set(Key, Stock)
    graft.io.LocalFs.bind(own)
    assert(own.conf.get(Key) === Stock)
    assert(boundClass(own) === Stock)

    val prefixed = spark.newSession()
    prefixed.conf.set(s"spark.hadoop.$Key", Stock)
    graft.io.LocalFs.bind(prefixed)
    assert(prefixed.conf.getOption(Key).isEmpty)

    val hadoop = spark.sparkContext.hadoopConfiguration
    val prior = Option(hadoop.getRaw(Key))
    hadoop.set(Key, "com.example.OwnLocalFs")
    try {
      val s = spark.newSession()
      graft.io.LocalFs.bind(s)
      assert(s.conf.getOption(Key).isEmpty)
    } finally prior match {
      case Some(v) => hadoop.set(Key, v)
      case None => hadoop.unset(Key)
    }
  }
}
