package graft.fs

import java.net.URI
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Local `file:` filesystem with process-fork-free permission handling.
  *
  * Hadoop's stock `RawLocalFileSystem` has no JNI fallback in this
  * image (no libhadoop), so `setPermission` — which the stock
  * `LocalFSFileOutputStream` constructor invokes for EVERY file
  * created, and `mkdirs(path, perm)` for every directory — forks a
  * `chmod` subprocess via `Shell.execCommand` (~3–10 ms each).
  * Profiled at 36×20 ms of main-thread time in ONE warm
  * s34_deletion_vectors rep (BenchProfile, guide §7.3), plus the same
  * tax inside every executor-side file commit, checkpoint write and
  * manifest publish. This subclass routes `setPermission` through
  * `java.nio.file.Files.setPosixFilePermissions` — the exact same
  * chmod(2) syscall the forked process would issue, without the fork.
  *
  * Semantics are unchanged: same permission bits applied, same
  * checksummed `LocalFileSystem` wrapper, same listing/rename/atomic
  * behavior. Production relevance: any deployment whose scratch,
  * checkpoint or staging paths hit `file:` without libhadoop pays the
  * identical fork tax; clusters with libhadoop already take the
  * equivalent native path, so this changes nothing at scale.
  *
  * Wire with:
  * {{{
  *   spark.hadoop.fs.file.impl = graft.fs.FastLocalFileSystem
  *   spark.hadoop.fs.AbstractFileSystem.file.impl = graft.fs.FastLocalFs
  * }}}
  * (the second covers the FileContext path Structured Streaming's
  * checkpoint manager uses).
  */
class FastRawLocalFileSystem extends RawLocalFileSystem {
  /** Fork-free link status. The stock path
    * (`deprecatedGetFileLinkStatusInternal`, taken whenever libhadoop
    * is absent) shells out to `readlink` for EVERY call — and every
    * FileContext rename calls it twice (src + dst existence checks in
    * `AbstractFileSystem.renameInternal`), which is 2+ forks per
    * micro-batch in Structured Streaming's checkpoint manager
    * (offset log + commit log + state files; BenchProfile s27 showed
    * the forkAndExec stacks under
    * `FileContextBasedCheckpointFileManager.renameTempFile`). NIO
    * reads the same lstat/readlink(2) without a subprocess; semantics
    * mirror the stock method bit-for-bit: follow-the-link status with
    * the target recorded for symlinks, plain status for regular
    * paths, a synthetic zero status for dangling links, FNF
    * otherwise. */
  override def getFileLinkStatus(f: Path): org.apache.hadoop.fs.FileStatus = {
    val nioP = pathToFile(f).toPath
    val target =
      try {
        if (java.nio.file.Files.isSymbolicLink(nioP))
          java.nio.file.Files.readSymbolicLink(nioP).toString
        else ""
      } catch {
        case _: UnsupportedOperationException | _: java.io.IOException =>
          return super.getFileLinkStatus(f)
      }
    val fi =
      try {
        val st = getFileStatus(f)
        if (target.isEmpty) st
        else new org.apache.hadoop.fs.FileStatus(st.getLen, false,
          st.getReplication, st.getBlockSize, st.getModificationTime,
          st.getAccessTime, st.getPermission, st.getOwner, st.getGroup,
          new Path(target), f)
      } catch {
        case e: java.io.FileNotFoundException =>
          if (target.nonEmpty) // dangling link, same shape as stock
            new org.apache.hadoop.fs.FileStatus(0, false, 0, 0, 0, 0,
              FsPermission.getDefault, "", "", new Path(target), f)
          else throw e
      }
    // stock getFileLinkStatus fully qualifies the link target — keep that
    if (fi.isSymlink)
      fi.setSymlink(org.apache.hadoop.fs.FSLinkResolver
        .qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if (permission == null) return
    val f = pathToFile(p).toPath
    try {
      java.nio.file.Files.setPosixFilePermissions(
        f, FastRawLocalFileSystem.toNio(permission))
    } catch {
      // non-POSIX store or exotic bits (setuid/sticky): stock path
      case _: UnsupportedOperationException |
           _: IllegalArgumentException |
           _: java.lang.ClassCastException =>
        super.setPermission(p, permission)
    }
  }
}

object FastRawLocalFileSystem {
  private[fs] def toNio(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val bits = p.toShort
    if ((bits & 0xE00) != 0) // setuid/setgid/sticky: NIO can't express
      throw new IllegalArgumentException(s"special bits in $p")
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    def add(bit: Int, perm: PosixFilePermission): Unit =
      if ((bits & bit) != 0) { s.add(perm); () }
    add(0x100, OWNER_READ); add(0x80, OWNER_WRITE); add(0x40, OWNER_EXECUTE)
    add(0x20, GROUP_READ); add(0x10, GROUP_WRITE); add(0x8, GROUP_EXECUTE)
    add(0x4, OTHERS_READ); add(0x2, OTHERS_WRITE); add(0x1, OTHERS_EXECUTE)
    s
  }
}

/** `fs.file.impl` replacement: the stock checksummed local filesystem
  * over the fork-free raw layer. */
class FastLocalFileSystem extends LocalFileSystem(new FastRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` replacement (the FileContext
  * side, mirroring org.apache.hadoop.fs.local.{RawLocalFs, LocalFs}). */
class FastRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new FastRawLocalFileSystem, conf,
    "file", false)

class FastLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new FastRawLocalFs(uri, conf))

object FastLocalFs {
  /** The builder-level conf pairs every entry-point session applies
    * (must be set BEFORE the first `file:` FileSystem is instantiated —
    * Hadoop's FileSystem cache keys on scheme, not conf). */
  val sparkConfs: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[FastLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[FastLocalFs].getName)

  /** Apply [[sparkConfs]] to a session builder (every session built
    * by [[session]] routes through this; measured −40% wall on the s34
    * lake lifecycle at sf0.1/local[32], BenchOne min-of-4). */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    sparkConfs.foldLeft(b)((x, kv) => x.config(kv._1, kv._2))

  /** The one local session every entry point, probe and spec builds:
    * this file system, `local[cpus]` with as many shuffle partitions,
    * UTC session time and no UI; logs at WARN. */
  def session(cpus: String): SparkSession = {
    val spark = FastLocalFs.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
