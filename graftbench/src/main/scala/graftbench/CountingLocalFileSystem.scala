package graftbench

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import java.util.concurrent.atomic.LongAdder

/** The local file system, counting its metadata and open/create
  * operations. A traced run installs it as `fs.file.impl`, so every
  * file-system call graft and Spark make is counted where it happens. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.ops
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    ops.increment(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    ops.increment()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    ops.increment(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    ops.increment(); super.getFileStatus(f)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    ops.increment(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    ops.increment(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    ops.increment(); super.mkdirs(f, permission)
  }
}

object CountingLocalFileSystem {
  val ops = new LongAdder()
}
