package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local `file:` FileSystem with a counter on each metadata and data
  * call its callers make. The traced run installs it as `fs.file.impl`,
  * so graft's operators, Spark's readers and writers and the committers
  * all go through it; the plain run does not.
  *
  * Counts are taken at this outer boundary only: the checksum sidecar
  * calls LocalFileSystem makes on its inner raw FileSystem are not
  * counted twice. Bytes come from Hadoop's per-scheme statistics for
  * `file`, which include the sidecars.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    stats.incrementAndGet(); super.getFileStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet(); super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet(); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet(); super.delete(f, recursive)
  }
}

object CountingFileSystem {
  private val lists, stats, opens, creates, renames, deletes = new AtomicLong

  /** Call counts since JVM start plus `file:` bytes read and written. */
  def snapshot(): Map[String, Double] = {
    val file = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Map(
      "list_calls" -> lists.get.toDouble,
      "stat_calls" -> stats.get.toDouble,
      "open_calls" -> opens.get.toDouble,
      "create_calls" -> creates.get.toDouble,
      "rename_calls" -> renames.get.toDouble,
      "delete_calls" -> deletes.get.toDouble,
      "bytes_read" -> file.map(_.getBytesRead).sum.toDouble,
      "bytes_written" -> file.map(_.getBytesWritten).sum.toDouble)
  }
}
