package graft.ingest

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** The checkpoint file manager of the two ingest streams
  * ([[IngestStream.runAvailableNow]], [[IngestStream.runKafkaAvailableNow]]):
  * Spark's `FileContextBasedCheckpointFileManager`, except that on Hadoop's
  * local FS it writes, publishes and creates directories with java.nio.
  *
  * Why: without the native libhadoop, the local FS shells out for file
  * metadata. Spark's `createTempFile` forks a `chmod` per log file,
  * `renameTempFile` a `readlink`, and `mkdirs` a `chmod` per directory:
  * about 22 processes per micro-batch for the offset and commit logs, plus
  * a few per query start.
  * NIO forks none.
  *
  * On the local FS (`isLocal`: the FileContext is `LocalFs` or `RawLocalFs`):
  *  - `createTempFile` creates the temp file with NIO (`CREATE_NEW`), so it
  *    gets no `.crc` sibling;
  *  - `renameTempFile` deletes a stale `.<name>.crc` sibling of the target,
  *    then publishes with [[Publish.move]]. A leftover checksum would make
  *    a verifying reader (Hadoop's checksummed `LocalFileSystem`, as under
  *    Spark's `FileSystemBasedCheckpointFileManager`) check the new bytes
  *    against an old file's sums and refuse the log, e.g. after an operator
  *    removed `offsets/<n>` but not `.<n>.crc` to re-run a batch. Without overwrite it keeps the checksum
  *    of a target that exists: that publish fails and the target stays as
  *    it was. A failed publish deletes its temp file and throws;
  *  - `mkdirs` and `createCheckpointDirectory` (once per query start) are
  *    `Files.createDirectories`.
  *  Reads, listings, `exists` and `delete` stay Spark's, as does every
  *  method on any other file system (HDFS keeps its native rename), except
  *  that there too a failed `renameTempFile` deletes its temp file before
  *  it rethrows: Spark's `RenameBasedFSDataOutputStream` marks itself
  *  closed before the rename throws, so its `cancel()` deletes nothing. A
  *  checkpoint on a file system with no `FileContext` binding fails at
  *  construction, where Spark's default factory would fall back to its
  *  `FileSystem`-based manager.
  *
  * The overwrite guarantee: with `overwriteIfPossible = false` (every
  * offset and commit log write), the publish is link(2), which fails with
  * EEXIST when the target exists, so an existing log file is never replaced
  * even by a racing second writer. The failure surfaces as Hadoop's
  * `FileAlreadyExistsException`, which Spark's `RenameBasedFSDataOutputStream`
  * rethrows and `HDFSMetadataLog` reports as two queries sharing one
  * checkpoint. With `overwriteIfPossible = true` the temp file replaces the
  * target by rename(2), atomically.
  *
  * Crash windows, stated as they are (Spark's default manager on the local
  * FS has the same ones, and fsyncs nothing either):
  *  - a crash before the publish leaves a hidden `.<name>.<uuid>.tmp` file
  *    and no log file; Spark lists only numeric names, so the batch re-runs;
  *  - a crash between link and the temp file's delete leaves the complete
  *    log file plus a second name for it, which Spark never lists;
  *  - after a power loss or OS crash, a log file may be missing (the batch
  *    re-runs, at-least-once) or empty or short, which Spark refuses to
  *    read ("Incomplete log file"): the query fails loudly until the file
  *    is removed.
  *
  * Spark builds one instance per log (`CheckpointFileManager.create`, by
  * reflection from the session's Hadoop conf); it holds no static or
  * per-query state beyond Spark's own.
  */
class CheckpointFiles(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  private val local = isLocal

  private def nio(p: Path): java.nio.file.Path = Paths.get(fc.makeQualified(p).toUri)

  override def createTempFile(p: Path): FSDataOutputStream =
    if (local) new FSDataOutputStream(Files.newOutputStream(nio(p), StandardOpenOption.CREATE_NEW), null)
    else super.createTempFile(p)

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    if (local) {
      val (tmp, target) = (nio(src), nio(dst))
      if (overwriteIfPossible || Files.notExists(target))
        Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
      try Publish.move(tmp, target, overwriteIfPossible)
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"$dst exists; not overwriting it with $src")
            .initCause(e)
      } finally Files.deleteIfExists(tmp) // a no-op once published
    } else
      try super.renameTempFile(src, dst, overwriteIfPossible)
      catch {
        case e: Throwable =>
          try delete(src) catch { case d: Exception => e.addSuppressed(d) }
          throw e
      }

  override def mkdirs(p: Path): Unit =
    if (local) Files.createDirectories(nio(p)) else super.mkdirs(p)

  override def createCheckpointDirectory(): Path =
    if (local) {
      val root = fc.makeQualified(path)
      Files.createDirectories(nio(root))
      root
    } else super.createCheckpointDirectory()
}
