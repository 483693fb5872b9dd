package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag,
  FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

/** The engine's `file:` filesystem against stock Hadoop: same link
  * statuses, same modes, checksums kept, registered for the session, and no
  * process forked per call.
  */
class LocalFsSpec extends SparkSpec {

  private val root = new URI("file:///")
  private def conf = spark.sessionState.newHadoopConf()

  private def stockRaw = { val fs = new RawLocalFileSystem; fs.initialize(root, conf); fs }
  private def nioRaw = { val fs = new NioRawLocalFileSystem; fs.initialize(root, conf); fs }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def fields(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.getPermission, s.getOwner, s.getGroup,
      s.getModificationTime, s.isSymlink, if (s.isSymlink) s.getSymlink else null)

  /** `processes` in /proc/stat: forks and threads started since boot. */
  private def processes(): Long = {
    val line = Files.readAllLines(Paths.get("/proc/stat")).toArray(Array.empty[String])
      .find(_.startsWith("processes ")).get
    line.split(" ")(1).toLong
  }

  test("link statuses equal stock RawLocalFileSystem for a file, a dir, a symlink " +
    "and a dangling symlink; a missing path is FileNotFoundException") {
    val dir = tempDir("graft-localfs")
    val file = Files.write(dir.resolve("data.bin"), Array.fill[Byte](1234)(7))
    val sub = Files.createDirectory(dir.resolve("sub"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val (stock, nio) = (stockRaw, nioRaw)
    // stock finds a link only through an unqualified path (see
    // NioRawLocalFileSystem), so links are compared through one
    for (p <- Seq(file, sub, link, dangling).map(x => new Path(x.toString))) {
      assert(fields(nio.getFileLinkStatus(p)) === fields(stock.getFileLinkStatus(p)), p)
    }
    assert(nio.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    assert(nio.getLinkTarget(new Path(link.toString)) ===
      stock.getLinkTarget(new Path(link.toString)))

    intercept[FileNotFoundException](
      nio.getFileLinkStatus(new Path(dir.resolve("missing").toString)))
  }

  test("setPermission leaves the same mode as stock (644, 755, 700, 1777, setgid dir)") {
    val dir = tempDir("graft-localfs-perm")
    val (stock, nio) = (stockRaw, nioRaw)
    for (m <- Seq("644", "755", "700", "1777"); kind <- Seq("file", "dir")) {
      val (a, b) = (dir.resolve(s"stock-$kind-$m"), dir.resolve(s"nio-$kind-$m"))
      if (kind == "file") { Files.write(a, Array[Byte](1)); Files.write(b, Array[Byte](1)) }
      else { Files.createDirectory(a); Files.createDirectory(b) }
      val perm = new FsPermission(m)
      stock.setPermission(new Path(a.toString), perm)
      nio.setPermission(new Path(b.toString), perm)
      assert(mode(b) === mode(a), s"$kind $m")
      assert(mode(b) === Integer.parseInt(m, 8), s"$kind $m")
      assert(nio.getFileStatus(new Path(b.toString)).getPermission === perm)
    }
    // a numeric chmod keeps a directory's setgid bit; so must this
    val (a, b) = (Files.createDirectory(dir.resolve("stock-sg")),
      Files.createDirectory(dir.resolve("nio-sg")))
    for (d <- Seq(a, b))
      assert(new ProcessBuilder("chmod", "2775", d.toString).start().waitFor() === 0)
    stock.setPermission(new Path(a.toString), new FsPermission("755"))
    nio.setPermission(new Path(b.toString), new FsPermission("755"))
    assert(mode(b) === mode(a))
    intercept[FileNotFoundException](
      nio.setPermission(new Path(dir.resolve("missing").toString), new FsPermission("644")))
  }

  test("the session's Hadoop conf resolves file: to the engine classes") {
    assert(FileSystem.get(root, conf).getClass === classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass === classOf[NioRawLocalFileSystem])
    assert(AbstractFileSystem.get(root, conf).getClass === classOf[NioLocalFs])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass ===
      classOf[NioLocalFs])
  }

  test("FileSystem.rename refuses an existing destination file") {
    val dir = tempDir("graft-localfs-rename")
    val (a, b) = (dir.resolve("a"), dir.resolve("b"))
    Files.write(a, Array[Byte](1)); Files.write(b, Array[Byte](2))
    val fs = FileSystem.get(root, conf)
    assert(!fs.rename(new Path(a.toUri), new Path(b.toUri)))
    assert(Files.readAllBytes(a).toSeq === Seq[Byte](1))
    assert(Files.readAllBytes(b).toSeq === Seq[Byte](2))
    assert(fs.rename(new Path(a.toUri), new Path(dir.resolve("c").toUri)))
  }

  test("checksums stay: .crc sidecars are written and a flipped byte fails the read") {
    val dir = tempDir("graft-localfs-crc")
    val data = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
    val viaFs = new Path(dir.resolve("fs.bin").toUri)
    val fs = FileSystem.get(root, conf)
    val out = fs.create(viaFs)
    out.write(data); out.close()
    assert(Files.exists(dir.resolve(".fs.bin.crc")))

    val viaFc = new Path(dir.resolve("fc.bin").toUri)
    val fc = FileContext.getFileContext(conf)
    val fcOut = fc.create(viaFc, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    fcOut.write(data); fcOut.close()
    assert(Files.exists(dir.resolve(".fc.bin.crc")))

    val raf = new java.io.RandomAccessFile(dir.resolve("fc.bin").toFile, "rw")
    try { raf.seek(100); raf.write(data(100) ^ 0x55) } finally raf.close()
    // read through FileContext with a buffer size: Hadoop's FilterFs hands
    // open(Path) straight to the raw fs, past ChecksumFs. A corrupt read
    // through LocalFileSystem would move the file to a bad_files dir at
    // the top writable level of its device, so that side is not read.
    intercept[ChecksumException] {
      val in = fc.open(viaFc, 4096)
      try in.readFully(new Array[Byte](data.length)) finally in.close()
    }
  }

  test("Spark's checkpoint file manager verifies checksums: a flipped byte fails the read") {
    val dir = tempDir("graft-localfs-ckpt")
    val data = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
    val log = new Path(dir.resolve("0").toUri)
    // the offset and commit logs' write: createAtomic, then a rename
    val out = CheckpointFileManager.create(log, conf).createAtomic(log, false)
    out.write(data); out.close()
    assert(Files.exists(dir.resolve(".0.crc")))
    def read(): Array[Byte] = {
      val in = CheckpointFileManager.create(log, conf).open(log)
      val got = new Array[Byte](data.length)
      try in.readFully(got) finally in.close()
      got
    }
    assert(read().toSeq === data.toSeq)

    val raf = new java.io.RandomAccessFile(dir.resolve("0").toFile, "rw")
    try { raf.seek(100); raf.write(data(100) ^ 0x55) } finally raf.close()
    intercept[ChecksumException](read())
  }

  test("create + rename through the session's FileContext and FileSystem fork no process") {
    val dir = tempDir("graft-localfs-fork")
    val fc = FileContext.getFileContext(conf)
    val fs = FileSystem.get(root, conf)
    def round(i: Int): Unit = {
      // FileContext: the streaming checkpoint's createAtomic
      val tmp = new Path(dir.resolve(s".$i.tmp").toUri)
      val out = fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      out.write(i); out.close()
      fc.rename(tmp, new Path(dir.resolve(s"$i").toUri), Options.Rename.OVERWRITE)
      // FileSystem: a task's output file and its commit
      val part = new Path(dir.resolve(s"_tmp/part-$i").toUri)
      val po = fs.create(part)
      po.write(i); po.close()
      assert(fs.rename(part, new Path(dir.resolve(s"part-$i").toUri)))
    }
    round(0) // class loading and first-use set-up are not per call
    // the counter is machine-wide: up to three tries of 50 rounds, so
    // only forking in every try (this JVM's, not a neighbour's) fails
    def try50(t: Int): Long = {
      val before = processes()
      (1 to 50).foreach(i => round(t * 100 + i))
      processes() - before
    }
    var forked = Long.MaxValue
    for (t <- 0 until 3 if forked >= 50) forked = forked min try50(t)
    info(s"50 rounds advanced /proc/stat processes by $forked")
    assert(forked < 50, s"50 create+rename rounds started $forked processes")
  }
}
