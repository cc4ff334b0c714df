package graft.ingest

import java.nio.file.{AtomicMoveNotSupportedException, Files, Path, Paths, StandardCopyOption}

/** The file shape of a checked publish on a local file system (java.nio): a
  * complete temp file becomes the target in one step, so a reader sees the
  * old target or the new one, never a half-written one.
  *
  *  - With `overwrite`, rename(2) (`ATOMIC_MOVE`) replaces the target in one
  *    step; where the file system has no atomic move, a plain replacing move
  *    is the fallback.
  *  - Without it, link(2) names the temp file's inode as the target and fails
  *    with EEXIST when the target exists (`FileAlreadyExistsException`, the
  *    target untouched), then the temp name is deleted. Neither name is ever
  *    replaced, so even two racing publishers cannot clobber each other. A
  *    file system without hard links fails the publish loudly.
  *
  * Crash windows: nothing is fsynced. A PROCESS crash leaves the old target
  * or the complete new one, plus at most a stray temp file (a crash before
  * the move, or between link and delete). After a power loss or OS crash the
  * publish may be lost (the work re-runs, at-least-once) or the target may
  * be left empty or short, which every reader here rejects as corrupt. Every
  * failed step throws; none returns a status to ignore.
  */
object Publish {

  /** Publish the complete file `tmp` as `target` (same directory). */
  def move(tmp: Path, target: Path, overwrite: Boolean): Unit =
    if (overwrite)
      try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      catch {
        case _: AtomicMoveNotSupportedException =>
          Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING)
      }
    else {
      Files.createLink(target, tmp)
      Files.delete(tmp)
    }

  /** Write `bytes` to a temp file beside `target`, then [[move]] it over
    * `target`. A failed write or move deletes the temp file and rethrows.
    */
  def file(target: Path, bytes: Array[Byte]): Unit = {
    val abs = target.toAbsolutePath
    val dir = Option(abs.getParent).getOrElse(Paths.get("."))
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, s".${abs.getFileName}", ".tmp")
    try {
      Files.write(tmp, bytes)
      move(tmp, abs, overwrite = true)
    } finally Files.deleteIfExists(tmp) // a no-op once the move has happened
  }
}
