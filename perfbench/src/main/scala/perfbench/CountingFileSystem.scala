package perfbench

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import java.util.concurrent.atomic.AtomicLong

/** The local file system with namespace operations counted: traced runs
  * install it as `fs.file.impl`, so every Hadoop call the engine's commit
  * paths make (create, rename, delete, mkdirs; open, list, stat) shows up
  * in `io.fs_write_ops` / `io.fs_read_ops`.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = { writes.incrementAndGet(); super.rename(src, dst) }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet()
    super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet()
    super.mkdirs(f, permission)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet()
    super.open(f, bufferSize)
  }

  override def listStatus(f: Path): Array[FileStatus] = { reads.incrementAndGet(); super.listStatus(f) }

  override def getFileStatus(f: Path): FileStatus = { reads.incrementAndGet(); super.getFileStatus(f) }
}

object CountingFileSystem {
  val reads = new AtomicLong
  val writes = new AtomicLong
}
