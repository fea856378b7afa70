package graft.sources

import java.net.URI
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataInputStream, FileStatus, Path,
  RawLocalFileSystem}

/** The local filesystem under the `hookfs` scheme, running a hook once
  * when a parquet file is first opened after [[HookFs.arm]]: a test
  * puts its table at `hookfs:///<local path>` and makes something
  * happen between the listing of a read and its first data file (a
  * rival publish, a deleted file). A status hook ([[HookFs.onStatus]])
  * runs on every status or existence probe until disarmed, for a probe
  * that fails. */
class HookFs extends RawLocalFileSystem {
  override def getUri: URI = HookFs.Uri
  override def getScheme: String = HookFs.Scheme

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getName.endsWith(".parquet"))
      Option(HookFs.armed.getAndSet(null)).foreach(_(f))
    super.open(f, bufferSize)
  }

  override def getFileStatus(f: Path): FileStatus = {
    Option(HookFs.status.get).foreach(_(f))
    super.getFileStatus(f)
  }

  override def exists(f: Path): Boolean = {
    Option(HookFs.status.get).foreach(_(f))
    super.exists(f)
  }
}

/** [[HookFs]] behind `FileContext`. */
class HookAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new HookFs, conf, HookFs.Scheme, false)

object HookFs {
  val Scheme = "hookfs"
  val Uri: URI = URI.create(s"$Scheme:///")

  private val armed = new AtomicReference[Path => Unit]()
  private val status = new AtomicReference[Path => Unit]()

  /** Registers the scheme with `conf` (idempotent). */
  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[HookFs].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[HookAfs].getName)
  }

  /** Runs `hook` with the path of the next parquet file opened. */
  def arm(hook: Path => Unit): Unit = armed.set(hook)

  /** Whether the armed hook has not run yet. */
  def pending: Boolean = armed.get != null

  /** Runs `hook` with the path of every status or existence probe until
    * [[disarm]]. */
  def onStatus(hook: Path => Unit): Unit = status.set(hook)

  def disarm(): Unit = { armed.set(null); status.set(null) }
}
