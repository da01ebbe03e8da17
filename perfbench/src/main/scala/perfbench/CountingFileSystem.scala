package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with a call counter per metadata/data
  * operation. Hadoop's storage statistics for `file:` only carry bytes
  * and coarse read/write op totals, so traced runs install this class as
  * `fs.file.impl` to count opens, creates, renames, deletes, mkdirs,
  * listings and stats as the engine (driver and local executors) issues
  * them. Calls the checksum layer makes internally are not counted. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path): Boolean = {
    mkdirCalls.incrementAndGet(); super.mkdirs(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mkdirCalls.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    listings.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    stats.incrementAndGet(); super.getFileStatus(f)
  }
}

object CountingFileSystem {
  val opens, creates, renames, deletes, mkdirCalls, listings, stats =
    new AtomicLong()

  /** Current counts by metric name. */
  def snapshot(): Map[String, Long] = Map(
    "fs.open" -> opens.get, "fs.create" -> creates.get,
    "fs.rename" -> renames.get, "fs.delete" -> deletes.get,
    "fs.mkdirs" -> mkdirCalls.get, "fs.list_status" -> listings.get,
    "fs.get_file_status" -> stats.get)
}
