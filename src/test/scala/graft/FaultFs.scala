package graft

import java.io.IOException
import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}

/** The local FS's raw layer under the [[FaultFs.Scheme]] scheme. A rename
  * onto a path armed by [[FaultFs.failingRenamesTo]] returns `false`, the
  * way Hadoop's `FileSystem.rename` reports a failure.
  */
class FaultRawFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${FaultFs.Scheme}:///")
  override def rename(src: Path, dst: Path): Boolean =
    !FaultFs.armed(dst) && super.rename(src, dst)
}

/** The `FileContext` binding of [[FaultRawFs]]. Its overwriting rename is
  * one step, as HDFS's rename2 is (Hadoop's default deletes the target
  * first), and a rename that fails throws.
  */
class FaultAbstractFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new FaultRawFs, conf, FaultFs.Scheme, false) {
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    if (!overwrite && fsImpl.exists(dst)) throw new FileAlreadyExistsException(s"$dst exists")
    if (!fsImpl.rename(src, dst)) throw new IOException(s"rename $src -> $dst failed")
  }
}

/** Fault injection for publish paths: bind the scheme into a conf, address
  * a local dir through it, and fail the renames onto one target on demand.
  */
object FaultFs {
  val Scheme = "faultfs"

  private val failing = ConcurrentHashMap.newKeySet[String]()

  def armed(p: Path): Boolean = failing.contains(p.toUri.getPath)

  def bind(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[FaultRawFs].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[FaultAbstractFs].getName)
  }

  /** `dir` addressed through the fault scheme. */
  def uri(dir: java.nio.file.Path): String = s"$Scheme://${dir.toAbsolutePath}"

  /** Run `body` while every rename onto the local path `target` fails. */
  def failingRenamesTo[T](target: java.nio.file.Path)(body: => T): T = {
    val key = target.toAbsolutePath.toString
    failing.add(key)
    try body
    finally failing.remove(key)
  }
}
