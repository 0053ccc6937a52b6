package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem, counting the namespace and stream calls made
  * through it. A traced run installs it as `fs.file.impl`, so every
  * Hadoop call the pipeline makes on local paths is counted. */
class CountingFs extends LocalFileSystem {
  import CountingFs.ops
  override def rename(src: Path, dst: Path): Boolean = { ops.incrementAndGet(); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { ops.incrementAndGet(); super.delete(p, recursive) }
  override def mkdirs(p: Path, perm: FsPermission): Boolean = { ops.incrementAndGet(); super.mkdirs(p, perm) }
  override def listStatus(p: Path): Array[FileStatus] = { ops.incrementAndGet(); super.listStatus(p) }
  override def getFileStatus(p: Path): FileStatus = { ops.incrementAndGet(); super.getFileStatus(p) }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = { ops.incrementAndGet(); super.open(p, bufferSize) }
  override def create(p: Path, perm: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    ops.incrementAndGet()
    super.create(p, perm, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CountingFs {
  val ops = new AtomicLong
}
