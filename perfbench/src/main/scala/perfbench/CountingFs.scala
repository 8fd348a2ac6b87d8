package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.util.Progressable

/** The local Hadoop FileSystem with a write-operation counter: the traced
  * run installs it as `fs.file.impl`, because the local filesystem's own
  * statistics count bytes but not operations. Creates, mkdirs, renames and
  * deletes are the commit protocol's cost.
  */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writeOps.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writeOps.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writeOps.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writeOps.incrementAndGet(); super.delete(f, recursive)
  }
}

object CountingFs {
  val writeOps = new AtomicLong
}
