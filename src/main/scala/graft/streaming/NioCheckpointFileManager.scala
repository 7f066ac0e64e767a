package graft.streaming

import java.io.{BufferedOutputStream, File}
import java.nio.file.{Files, StandardCopyOption, FileAlreadyExistsException => NioExists}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Streaming checkpoint files on a local path, created and renamed through
  * java.nio instead of Hadoop's local filesystem.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` shells out for
  * file permissions and link status: every offset-log, commit-log,
  * metadata and state-store delta write forked `chmod` and `readlink`
  * processes: 20 forks per HW3 micro-batch, about half of its trigger
  * time, and a `chmod` per log or state directory a query creates. The
  * three calls that forked are replaced here for local paths; a non-local
  * path and every other call (list, open, exists, delete) go to Spark's
  * manager unchanged. `SparkLocal.sharedConf` registers the class for
  * every session through `spark.sql.streaming.checkpointFileManagerClass`.
  *
  * What `HDFSMetadataLog` relies on is kept:
  *  - a rename without overwrite fails atomically with Hadoop's
  *    `FileAlreadyExistsException` when the target exists. `rename(2)`
  *    would silently replace it, so the temp file is hard-linked to the
  *    target (which fails if the target exists) and then removed;
  *  - a rename with overwrite first removes the target's `.<name>.crc`,
  *    so Hadoop's checksummed `open` never checks new bytes against an
  *    old checksum;
  *  - no `.crc` is written. Durability is unchanged: neither path fsyncs.
  */
class NioCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  /** The local file of a Hadoop path; a relative path resolves against the
    * working directory, as in `RawLocalFileSystem`. */
  private def file(p: Path): java.nio.file.Path = new File(p.toUri.getPath).toPath

  override def createTempFile(p: Path): FSDataOutputStream =
    if (!isLocal) super.createTempFile(p)
    else new FSDataOutputStream(
      new BufferedOutputStream(Files.newOutputStream(file(p))), null)

  override def mkdirs(p: Path): Unit =
    if (!isLocal) super.mkdirs(p)
    else Files.createDirectories(file(p)): Unit

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    if (!isLocal) super.renameTempFile(src, dst, overwriteIfPossible)
    else {
      val (s, d) = (file(src), file(dst))
      if (overwriteIfPossible) {
        Files.deleteIfExists(d.resolveSibling(s".${d.getFileName}.crc"))
        Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
      } else {
        try Files.createLink(d, s)
        catch { case _: NioExists => throw new FileAlreadyExistsException(s"$dst already exists") }
        finally Files.deleteIfExists(s): Unit
      }
    }
}
