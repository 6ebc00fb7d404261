package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Counts the local file system's metadata and write calls. The local file
  * system keeps no operation counters in Hadoop's storage statistics, so
  * the benchmark installs this wrapper as `fs.file.impl`; it only counts,
  * then delegates. */
object FsCounters {
  val metadata = new AtomicLong
  val writes = new AtomicLong
}

class CountingRawFs extends RawLocalFileSystem {
  import FsCounters._
  override def listStatus(f: Path): Array[FileStatus] = { metadata.incrementAndGet(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { metadata.incrementAndGet(); super.getFileStatus(f) }
  override def mkdirs(f: Path, p: FsPermission): Boolean = { writes.incrementAndGet(); super.mkdirs(f, p) }
  override def rename(s: Path, d: Path): Boolean = { writes.incrementAndGet(); super.rename(s, d) }
  override def delete(f: Path, recursive: Boolean): Boolean = { writes.incrementAndGet(); super.delete(f, recursive) }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet(); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

class CountingLocalFs extends LocalFileSystem(new CountingRawFs)
