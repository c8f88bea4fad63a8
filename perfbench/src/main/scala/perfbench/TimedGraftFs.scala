package perfbench

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `graft.fs.GraftCachingFileSystem` with a span around each namespace
  * call and stream open, so a traced run can time the fs layer as Spark
  * and `GraftTable` use it. Registered as `fs.graft.impl`; with tracing
  * off every method is a plain call to the parent. */
class TimedGraftFs extends graft.fs.GraftCachingFileSystem {
  private def timed[T](name: String)(body: => T): T = Trace.span("fs", name)(body)

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    timed("fs.open")(super.open(f, bufferSize))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    timed("fs.create")(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))

  override def rename(src: Path, dst: Path): Boolean =
    timed("fs.rename")(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    timed("fs.delete")(super.delete(f, recursive))

  override def listStatus(f: Path): Array[FileStatus] =
    timed("fs.list")(super.listStatus(f))

  override def getFileStatus(f: Path): FileStatus =
    timed("fs.getFileStatus")(super.getFileStatus(f))

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    timed("fs.mkdirs")(super.mkdirs(f, permission))
}
