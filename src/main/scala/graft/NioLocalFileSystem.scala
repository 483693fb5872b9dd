package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream,
  FileStatus, FSLinkResolver, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` [[org.apache.hadoop.fs.FileSystem]]: Hadoop's
  * checksummed `LocalFileSystem` (`.crc` sidecars written and verified as
  * before) over [[NioRawLocalFileSystem]]. [[GraftSession.builder]]
  * registers it for every session; see there for why.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {

  /** Refuses an existing destination file, as the `FileSystem` contract
    * and HDFS do. Stock `LocalFileSystem` replaces it; the class Spark's
    * classpath registers for `file:` without this one (Hive's
    * `ProxyLocalFileSystem`) refuses, and so does this.
    */
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile = try getFileStatus(dst).isFile
      catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** `RawLocalFileSystem` with its shell calls replaced by `java.nio.file`.
  *
  * Without Hadoop's native library the stock class forks `chmod` for
  * every `setPermission` (so for every create and mkdir) and `readlink`
  * for every link-status lookup. Here those are `chmod` and `readlink`
  * system calls. Everything else (statuses, listings, streams, rename,
  * delete, mkdirs) is the stock code, which reaches these methods by
  * dynamic dispatch. A status still loads its permission, owner and group
  * lazily through `ls -ld`, as stock does; no engine write or read path
  * asks for them (Spark's file listing builds its statuses without them).
  *
  * One divergence: the stock `getFileLinkStatus` runs `readlink` on the
  * path's string form, so it reports a `file:`-qualified symlink as the
  * file it points to; this class reports it as a link, as it does an
  * unqualified one.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** `chmod` by system call: a write of `unix:mode` sets the full mode,
    * sticky bit included. A numeric `chmod` keeps a directory's
    * setuid/setgid bits, so they are carried over.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val nio = pathToFile(p).toPath
    try {
      val mode = Files.getAttribute(nio, "unix:mode").asInstanceOf[Int]
      val kept = if ((mode & TypeMask) == DirType) mode & SetIdBits else 0
      Files.setAttribute(nio, "unix:mode", Int.box(permission.toShort | kept))
    } catch { case _: NoSuchFileException => throw notFound(p) }
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** The stock link status: a symlink keeps its raw (unqualified)
    * target and the path as given, and a dangling one gets the stock
    * placeholder fields.
    */
  private def linkStatus(f: Path): FileStatus = {
    val nio = pathToFile(f).toPath
    if (!Files.isSymbolicLink(nio)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(nio).toString)
      try {
        val s = getFileStatus(f)
        new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize,
          s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner,
          s.getGroup, target, f)
      } catch {
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    }
  }
}

object NioRawLocalFileSystem {
  private val TypeMask = 0xf000 // S_IFMT
  private val DirType = 0x4000 // S_IFDIR
  private val SetIdBits = 0xc00 // S_ISUID | S_ISGID

  private def notFound(f: Path) = new FileNotFoundException(s"File $f does not exist")
}

/** The `FileContext` twin of [[NioLocalFileSystem]] (what `LocalFs` is to
  * `LocalFileSystem`): Hadoop's `ChecksumFs` over [[NioRawLocalFs]].
  * Streaming offset, commit and state logs go through this one.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf)) {

  /** Verifies checksums. Hadoop's `FilterFs.open(Path)` hands the call to
    * the raw filesystem, past `ChecksumFs`; Spark's checkpoint file
    * manager opens offset logs, commit logs and state files this way.
    */
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}

/** `RawLocalFs` over [[NioRawLocalFileSystem]], with its overrides. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "Hadoop 2.8")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
