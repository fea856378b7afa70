package perfbench

import java.net.URI
import java.util.EnumSet
import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Process-wide counts of calls into the local filesystem. The stock
  * local FileSystem records bytes but no operation counts, so the traced
  * session installs these wrappers for `file://` (both the FileSystem and
  * the FileContext entry points) and the tracer diffs the counters at
  * span boundaries. Counts are taken at the raw layer, so a checksummed
  * create counts the data file and its `.crc` sidecar. */
object FsCounters {
  val Kinds: Seq[String] = Seq("create", "rename", "delete", "mkdirs", "list", "status", "open")
  private val counts = Kinds.map(_ -> new LongAdder).toMap
  def inc(kind: String): Unit = counts(kind).increment()
  def snapshot(): Map[String, Long] = counts.map { case (k, v) => k -> v.sum() }
}

class CountingRawLocalFileSystem extends RawLocalFileSystem {
  import FsCounters.inc
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { inc("open"); super.open(f, bufferSize) }
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream = {
    inc("create"); super.append(f, bufferSize, progress)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    inc("create"); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    inc("create"); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    inc("create"); super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    inc("create"); super.createNonRecursive(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { inc("rename"); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { inc("delete"); super.delete(p, recursive) }
  override def listStatus(f: Path): Array[FileStatus] = { inc("list"); super.listStatus(f) }
  override def exists(f: Path): Boolean = { inc("status"); super.exists(f) }
  override def mkdirs(f: Path): Boolean = { inc("mkdirs"); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { inc("mkdirs"); super.mkdirs(f, permission) }
  override def getFileStatus(f: Path): FileStatus = { inc("status"); super.getFileStatus(f) }
}

/** `fs.file.impl` for the traced session: the stock checksummed local
  * FileSystem over the counting raw one. */
class CountingLocalFileSystem extends LocalFileSystem(new CountingRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` for the traced session: what the
  * stock `LocalFs` is (checksums over a raw delegate), with the counting
  * raw FileSystem as the delegate. */
class CountingLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new CountingRawLocalFs(uri, conf))

class CountingRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CountingRawLocalFileSystem, conf, "file", false)
