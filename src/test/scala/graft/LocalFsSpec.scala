package graft

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Path => JPath, Paths}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException,
  FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.scalatest.funsuite.AnyFunSuite

/** `graft.localfs` against Hadoop's own local filesystem, the same
  * operation on the same input on both: created modes, link statuses,
  * rename semantics and checksums agree. Each filesystem is built fresh
  * from its conf, never taken from Hadoop's cache, so a umask applies.
  * Then the point of it: streams that checkpoint start no process from
  * Hadoop's filesystem layer, however the session met `file:` first. */
class LocalFsSpec extends AnyFunSuite {
  private val uri = URI.create("file:///")

  private def conf(graft: Boolean, umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    if (graft) {
      c.set("fs.file.impl", classOf[localfs.LocalFileSystem].getName)
      c.set("fs.AbstractFileSystem.file.impl", classOf[localfs.LocalFs].getName)
    }
    c
  }

  /** A fresh `FileSystem` of each side: Hadoop's, then graft's. */
  private def fileSystems(umask: String = "022"): Seq[FileSystem] =
    Seq(new org.apache.hadoop.fs.LocalFileSystem, new localfs.LocalFileSystem).map { fs =>
      fs.initialize(uri, conf(fs.isInstanceOf[localfs.LocalFileSystem], umask)); fs
    }

  /** A `FileContext` of each side: Hadoop's, then graft's. */
  private def fileContexts(umask: String = "022"): Seq[FileContext] =
    Seq(false, true).map(g => FileContext.getFileContext(uri, conf(g, umask)))

  private def tmp(): JPath = Paths.get(Scratch.dir("localfs_"))

  /** The full mode bits, sticky and setuid/setgid included. */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("the installed session routes file: through graft's filesystem") {
    val spark = SparkSessionFixture.spark
    val hc = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(uri, hc).isInstanceOf[localfs.LocalFileSystem])
    assert(FileSystem.getLocal(hc).getRaw.isInstanceOf[localfs.NioRawLocalFileSystem])
    assert(FileContext.getFileContext(uri, hc).getDefaultFileSystem
      .isInstanceOf[localfs.LocalFs])
  }

  test("created files and dirs get Hadoop's modes under umask 022 and 077") {
    for (umask <- Seq("022", "077")) {
      val modes = fileSystems(umask).map { fs =>
        val d = tmp()
        val f = new Path(d.toString, "f")
        fs.create(f).close()
        fs.mkdirs(new Path(d.toString, "a/b"))
        val explicit = new Path(d.toString, "e")
        fs.create(explicit, new FsPermission("640"), false, 4096, 1.toShort, 1L << 20, null).close()
        Seq("f", ".f.crc", "a", "a/b", "e").map(n => mode(d.resolve(n)))
      }
      assert(modes.head === modes.last, s"umask $umask")
      val u = Integer.parseInt(umask, 8)
      assert(modes.last === Seq("666", "666", "777", "777", "640")
        .map(m => Integer.parseInt(m, 8) & ~u), s"umask $umask")
      val own = fileContexts(umask).map { fc =>
        val d = tmp()
        fc.create(new Path(d.toString, "f"), EnumSet.of(CreateFlag.CREATE)).close()
        fc.mkdir(new Path(d.toString, "m"), FsPermission.getDirDefault, true)
        Seq("f", ".f.crc", "m").map(n => mode(d.resolve(n)))
      }
      assert(own.head === own.last, s"FileContext, umask $umask")
    }
    val Seq(ours) = fileSystems().tail.map { fs =>
      val f = new Path(tmp().toString, "f")
      fs.create(f).close()
      fs.setPermission(f, new FsPermission("640"))
      mode(Paths.get(f.toUri.getPath))
    }
    assert(ours === Integer.parseInt("640", 8))
  }

  test("a sticky bit and a setgid directory take Hadoop's chmod") {
    val sticky = Integer.parseInt("1777", 8)
    val setgid = Integer.parseInt("2000", 8)
    val got = fileSystems().map { fs =>
      val d = tmp()
      val s = d.resolve("s"); Files.createDirectory(s)
      fs.setPermission(new Path(s.toString), FsPermission.createImmutable(sticky.toShort))
      val g = d.resolve("g"); Files.createDirectory(g)
      Files.setAttribute(g, "unix:mode", Integer.valueOf(Integer.parseInt("2775", 8)))
      fs.setPermission(new Path(g.toString), new FsPermission("750"))
      (mode(s), mode(g))
    }
    assert(got.head === got.last)
    assert(got.last._1 === sticky)
    assert((got.last._2 & setgid) === setgid, "chmod keeps a directory's setgid bit")
  }

  test("getFileLinkStatus agrees on a file, a dir, symlinks and a missing path") {
    val d = tmp()
    Files.write(d.resolve("file"), Array[Byte](1, 2, 3))
    Files.createDirectory(d.resolve("dir"))
    Files.createSymbolicLink(d.resolve("link"), d.resolve("file"))
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    def view(s: FileStatus) = (s.getPath, s.isDirectory, s.isFile, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime)
    def outcome(status: => FileStatus) =
      try Right(view(status)) catch { case e: FileNotFoundException => Left(e.getClass) }
    val names = Seq("file", "dir", "link", "dangling", "missing")
    // unqualified and qualified paths: Hadoop reads a link only on the former
    val paths = names.flatMap { n =>
      val p = new Path(d.resolve(n).toString)
      Seq(p, p.makeQualified(uri, new Path("/")))
    }
    val byFs = fileSystems().map(fs => paths.map(p => outcome(fs.getFileLinkStatus(p))))
    assert(byFs.head === byFs.last)
    assert(byFs.last.count(_.isLeft) >= 2, "the missing path raises on both paths")
    assert(byFs.last.exists(_.exists(_._4)), "an unqualified symlink reads as a symlink")
    val byFc = fileContexts().map(fc => paths.map(p => outcome(fc.getFileLinkStatus(p))))
    assert(byFc.head === byFc.last)
  }

  test("FileSystem.rename onto an existing file fails, as on the class file: resolves to") {
    val default = FileSystem.getFileSystemClass("file", new Configuration())
    val got = Seq(default.getDeclaredConstructor().newInstance(), new localfs.LocalFileSystem)
      .map { fs =>
        fs.initialize(uri, conf(fs.isInstanceOf[localfs.LocalFileSystem]))
        val d = tmp()
        Seq("src", "dst").foreach(n => Files.write(d.resolve(n), n.getBytes))
        val onto = fs.rename(new Path(d.toString, "src"), new Path(d.toString, "dst"))
        val fresh = fs.rename(new Path(d.toString, "src"), new Path(d.toString, "new"))
        (onto, fresh, new String(Files.readAllBytes(d.resolve("dst"))))
      }
    assert(got.last === ((false, true, "dst")))
    if (default.getName == "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem")
      assert(got.head === got.last)
  }

  test("FileContext.rename: NONE refuses an existing target, OVERWRITE replaces it") {
    val got = fileContexts().map { fc =>
      val d = tmp()
      def write(n: String, b: Int): Path = {
        val p = new Path(d.toString, n)
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
        out.write(b); out.close(); p
      }
      val (src, dst) = (write("src", 1), write("dst", 2))
      val refused = intercept[FileAlreadyExistsException](
        fc.rename(src, dst, Options.Rename.NONE))
      assert(refused.getMessage.contains("dst"))
      val readDst = () => { val in = fc.open(dst); try in.read() finally in.close() }
      val before = readDst()
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      (before, readDst(), Files.exists(d.resolve("src")), Files.exists(d.resolve(".src.crc")),
        Files.list(d).map(_.getFileName.toString).sorted.toArray.toSeq)
    }
    assert(got.head === got.last)
    assert(got.last._1 === 2 && got.last._2 === 1)
  }

  test("a corrupted byte still raises ChecksumException on read") {
    val bytes = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    /** Writes `bytes`, flips byte 100 behind the checksum's back, reads it all. */
    def corruptAndRead(write: Path => java.io.OutputStream,
        read: Path => java.io.InputStream): Either[Class[_], Int] = {
      val p = new Path(tmp().toString, "data")
      val out = write(p); out.write(bytes); out.close()
      val raf = new RandomAccessFile(p.toUri.getPath, "rw")
      try { raf.seek(100); val b = raf.read(); raf.seek(100); raf.write(b ^ 0xff) }
      finally raf.close()
      val in = read(p)
      try { val got = new Array[Byte](bytes.length); in.read(got); Right(got(100).toInt) }
      catch { case e: ChecksumException => Left(e.getClass) }
      finally in.close()
    }
    val checked = Left(classOf[ChecksumException])
    for (fs <- fileSystems())
      assert(corruptAndRead(fs.create, fs.open) === checked)
    val create = (fc: FileContext) => (p: Path) => fc.create(p, EnumSet.of(CreateFlag.CREATE))
    val Seq(hadoops, grafts) = fileContexts()
    for (fc <- Seq(hadoops, grafts))
      assert(corruptAndRead(create(fc), fc.open(_, 4096)) === checked)
    // Hadoop's FilterFs.open(Path) hands out the raw stream, so Hadoop's
    // LocalFs reads the flipped byte unchecked on the one-argument open,
    // the form Spark's checkpoint manager calls; graft's reads it checked
    assert(corruptAndRead(create(hadoops), hadoops.open) ===
      Right((100 * 31 ^ 0xff).toByte.toInt))
    assert(corruptAndRead(create(grafts), grafts.open) === checked)
  }

  /** Every process started while `body` runs whose stack passes through
    * Hadoop's filesystem layer or its `Shell`, as "command <- frame". */
  private def hadoopForks(body: => Any): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = tmp().resolve("forks.jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq.flatMap { e =>
        val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
        frames.find(n => n.startsWith("org.apache.hadoop.fs.") ||
            n.startsWith("org.apache.hadoop.util.Shell"))
          .map(n => s"${e.getString("command")} <- $n")
      }
    } finally rec.close()
  }

  private def run(name: String): Long =
    SparkEntry.queries(name)(SparkSessionFixture.spark, SparkSessionFixture.sfDir).count()

  test("the fork recording sees Hadoop's own chmod") {
    val forks = hadoopForks(fileSystems().head.setPermission(
      new Path(tmp().toString), new FsPermission("750")))
    assert(forks.exists(_.startsWith("chmod")), forks)
  }

  test("st08 and st16 start no process from Hadoop's filesystem layer") {
    val forks = hadoopForks(Seq("st08_stream_dedup", "st16_checkpoint_resume").map(run))
    assert(forks.isEmpty, forks.distinct.take(5))
  }

  test("no process either when Hadoop's file: instance was cached before the first query") {
    val hc = SparkSessionFixture.spark.sparkContext.hadoopConfiguration
    // the state of a session that met file: before any graft call: the
    // default routes, the default class's instance in the cache
    FileSystem.get(uri, hc).close()
    val defaults = new Configuration()
    for (k <- Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl"))
      Option(defaults.get(k)).fold(hc.unset(k))(hc.set(k, _))
    assert(!FileSystem.get(uri, hc).isInstanceOf[localfs.LocalFileSystem])
    val forks = hadoopForks(Seq("st16_checkpoint_resume", "st08_stream_dedup").map(run))
    assert(forks.isEmpty, forks.distinct.take(5))
    assert(FileSystem.get(uri, hc).isInstanceOf[localfs.LocalFileSystem])
  }
}
