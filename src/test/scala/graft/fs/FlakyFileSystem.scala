package graft.fs

import java.io.IOException
import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable

/** Fault-injecting FileSystem for retry specs: the local file system
  * under the `flaky:` scheme, whose `create` throws for the first
  * [[FlakyFileSystem.failures]] calls on each path. Every call is
  * counted per path, so a spec can pin how many attempts a file took.
  * State lives in the companion: Spark's local-mode tasks share the
  * test JVM, and whichever cached instance they resolve sees it.
  */
class FlakyFileSystem extends RawLocalFileSystem {
  import FlakyFileSystem._

  override def getUri: URI = Uri
  override def getScheme: String = Scheme

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    failIfDue(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    failIfDue(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FlakyFileSystem {
  val Scheme = "flaky"
  val Uri: URI = URI.create(s"$Scheme:///")
  @volatile var failures = 0
  private val calls = new ConcurrentHashMap[String, AtomicInteger]()

  /** Fail the first `k` creates of every path from now on. */
  def reset(k: Int): Unit = { failures = k; calls.clear() }

  /** `create` calls seen for `uri` since the last [[reset]]. */
  def createCalls(uri: String): Int =
    Option(calls.get(key(new Path(uri)))).fold(0)(_.get)

  /** The same location as a `file:` URI, under the `flaky:` scheme. */
  def flaky(fileUri: String): String = s"$Scheme:" + new Path(fileUri).toUri.getPath

  private def key(f: Path) = Path.getPathWithoutSchemeAndAuthority(f).toString

  private def failIfDue(f: Path): Unit = {
    val n = calls.computeIfAbsent(key(f), _ => new AtomicInteger).incrementAndGet()
    if (n <= failures) throw new IOException(s"injected create failure $n of $failures on $f")
  }
}
