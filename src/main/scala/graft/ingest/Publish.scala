package graft.ingest

import java.nio.file.{AtomicMoveNotSupportedException, Files, Path, Paths, StandardCopyOption}
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** The one checked publish: complete work becomes visible under its final
  * name in one step, or the publish throws. Every failed step throws; none
  * returns a status to ignore. Nothing is fsynced.
  *
  * Three shapes:
  *  - `file(target: java.nio.file.Path, bytes)` (a local path):
  *    [[Watermark]]'s progress file. It stays on NIO because its path is
  *    local by contract and it runs once per day in the ingest job.
  *  - `file(fs, target: hadoop.fs.Path, bytes, overwrite)` (a Hadoop path):
  *    every marker and manifest the index and shard writers keep:
  *    `_MANIFEST.json`, its generation archives and schema twins,
  *    `_SCHEMA.g<n>.json` and `_GENERATION` (`graft.sources.ShardSink`),
  *    `_LIVE_STATE` (`graft.ops.IvfIndex`, also NSW's rebuilds) and
  *    `_meta_col` (`graft.ops.NswIndex`), plus every Kafka log segment
  *    (`graft.sources.KafkaLogFormat`). It writes through
  *    [[CheckpointFiles]], the ingest streams' checkpoint manager, so the
  *    process has one rename implementation.
  *  - [[stagedDir]]: a batch dir a Spark job wrote under a hidden staging
  *    name (`NswIndex.insertBatch`, `IndexStreams.upsertBatch`).
  *
  * Crash windows, file shapes: on the local FS a PROCESS crash leaves the
  * old target or the complete new one, plus at most a stray hidden temp
  * file (a crash before the move, or between link and delete). After a
  * power loss or OS crash the publish may be lost (the work re-runs,
  * at-least-once) or the target may be left empty or short, which every
  * reader here rejects as corrupt. On any other file system the Hadoop
  * shape is Spark's `FileContext` rename: one step on HDFS (rename2), but
  * delete-then-rename on a `FileSystem`-backed binding such as S3A, where a
  * crash between the two leaves no target. A failed publish there may leave
  * the hidden temp file behind.
  */
object Publish {

  /** Publish the complete file `tmp` as `target` (same directory).
    *  - With `overwrite`, rename(2) (`ATOMIC_MOVE`) replaces the target in
    *    one step; where the file system has no atomic move, a plain
    *    replacing move is the fallback.
    *  - Without it, link(2) names the temp file's inode as the target and
    *    fails with EEXIST when the target exists (`FileAlreadyExistsException`,
    *    the target untouched), then the temp name is deleted. Neither name is
    *    ever replaced, so even two racing publishers cannot clobber each
    *    other. A file system without hard links fails the publish loudly.
    */
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

  /** Publish `bytes` as `target` on `fs`, making its parent dir first.
    * [[CheckpointFiles]] writes a hidden temp file beside it and publishes it
    * when the stream closes. On the local FS that is [[move]] after deleting
    * a stale `.<name>.crc`, which would otherwise fail the checksummed
    * `LocalFileSystem`'s reads of the new bytes; on any other FS, Spark's
    * `FileContext` rename. Without `overwrite` an existing target is kept and
    * the publish throws Hadoop's `FileAlreadyExistsException`. A failed
    * write cancels the temp file and rethrows.
    */
  def file(fs: FileSystem, target: HPath, bytes: Array[Byte], overwrite: Boolean = true): Unit = {
    val dest = fs.makeQualified(target)
    val files = new CheckpointFiles(dest.getParent, fs.getConf)
    files.mkdirs(dest.getParent)
    val out = files.createAtomic(dest, overwrite)
    try out.write(bytes)
    catch {
      case e: Throwable =>
        out.cancel()
        throw e
    }
    out.close()
  }

  /** Publish the dir a job wrote at `staging` as `target`, which holds
    * `rows` rows. A rowless batch publishes nothing: its staging dir is
    * deleted, because a `batch=<id>` dir without rows carries no partition
    * columns and would break schema inference for every later reader. Else
    * an existing `target` (a replayed epoch) is deleted and `staging` is
    * renamed onto it; a rename that returns `false` throws naming both.
    *
    * Replay window: between the delete and the rename the epoch is absent,
    * and a crash there leaves it absent until the replay re-publishes it.
    * POSIX cannot swap non-empty dirs atomically, so a move-aside step
    * would add code without closing the window.
    */
  def stagedDir(fs: FileSystem, staging: HPath, target: HPath, rows: Long): Unit =
    if (rows == 0) fs.delete(staging, true)
    else {
      fs.delete(target, true)
      if (!fs.rename(staging, target))
        throw new IllegalStateException(s"could not publish $staging as $target")
    }
}
