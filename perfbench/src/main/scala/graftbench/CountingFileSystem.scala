package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with operation counters. Hadoop's statistics
  * for `file://` count bytes but not operations, so the traced run
  * registers this class as `fs.file.impl` to count the metadata and
  * data operations that table scans, writers and streaming commits
  * issue. It counts only while [[CountingFileSystem.counting]] is set,
  * which the tracer does for the traced pass alone, so the counting
  * cost falls in that pass and shows in its overhead. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    count(readOps); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    count(readOps); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    count(readOps); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    count(writeOps)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    count(writeOps); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    count(writeOps); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    count(writeOps); super.mkdirs(f, permission)
  }
}

object CountingFileSystem {
  val readOps = new AtomicLong
  val writeOps = new AtomicLong
  @volatile var counting = false

  private def count(ops: AtomicLong): Unit = if (counting) ops.incrementAndGet()
}
