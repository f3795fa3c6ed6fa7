package graft.fs

import java.io.IOException
import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.permission.{AclEntry, FsPermission}
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable

/** Fault-injecting FileSystem for retry specs: the local file system
  * under the `flaky:` scheme, whose `create` throws for the first
  * [[FlakyFileSystem.failures]] calls on each path. Every call is
  * counted per path, so a spec can pin how many attempts a file took.
  * Opt-in, `rename` throws for every target [[FlakyFileSystem.failRenamesOnto]]
  * picks, `delete` throws for the next k calls
  * ([[FlakyFileSystem.failNextDeletes]]) or what
  * [[FlakyFileSystem.failDeletesWith]] makes, and `modifyAclEntries` throws
  * what [[FlakyFileSystem.failAclsWith]] makes; every `delete` is counted
  * ([[FlakyFileSystem.deleteCalls]]).
  * Every mutating call (create, rename, delete, mkdirs) on a path outside
  * Spark's `_temporary` folders is counted
  * ([[FlakyFileSystem.mutatingCalls]]); from call k of
  * [[FlakyFileSystem.abortAtMutatingCall]] on, each one throws before it
  * acts, as if the process had died at call k — a crash that also kills
  * the caller's cleanup.
  * State lives in the companion: Spark's local-mode tasks share the
  * test JVM, and whichever cached instance they resolve sees it.
  */
class FlakyFileSystem extends RawLocalFileSystem {
  import FlakyFileSystem._

  override def getUri: URI = Uri
  override def getScheme: String = Scheme

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    mutate(f)
    failIfDue(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    mutate(f)
    failIfDue(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    mutate(src, dst)
    if (failRenameOnto(key(dst))) throw renameFailure()
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    mutate(f)
    val n = deletes.incrementAndGet()
    if (n <= failDeletesUpTo) throw new IOException(s"injected delete failure (call $n) on $f")
    deleteFailure.foreach(e => throw e())
    super.delete(f, recursive)
  }

  override def mkdirs(f: Path): Boolean = {
    mutate(f)
    super.mkdirs(f)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mutate(f)
    super.mkdirs(f, permission)
  }

  override def modifyAclEntries(path: Path, aclSpec: java.util.List[AclEntry]): Unit = {
    aclFailure.foreach(e => throw e())
    super.modifyAclEntries(path, aclSpec)
  }
}

object FlakyFileSystem {
  val Scheme = "flaky"
  val Uri: URI = URI.create(s"$Scheme:///")
  @volatile var failures = 0
  @volatile private var failRenameOnto: String => Boolean = _ => false
  private val InjectedRenameFailure: () => Throwable = () => new IOException("injected rename failure")
  @volatile private var renameFailure = InjectedRenameFailure
  @volatile private var failDeletesUpTo = 0
  @volatile private var deleteFailure: Option[() => Throwable] = None
  @volatile private var aclFailure: Option[() => Throwable] = None
  private val calls = new ConcurrentHashMap[String, AtomicInteger]()
  private val deletes = new AtomicInteger()
  @volatile private var abortAt = Int.MaxValue
  private val mutating = new AtomicInteger()

  /** Fail the first `k` creates of every path from now on; renames, deletes and ACL calls succeed. */
  def reset(k: Int): Unit = {
    failures = k; failRenameOnto = _ => false; failDeletesUpTo = 0; deleteFailure = None; aclFailure = None
    calls.clear(); deletes.set(0); abortAt = Int.MaxValue; mutating.set(0)
  }

  /** Restart the mutating-call count; call `k` (1-based) and every later
    * mutating call throw an `IOException` before they act.
    */
  def abortAtMutatingCall(k: Int): Unit = { mutating.set(0); abortAt = k }

  /** Mutating calls outside `_temporary` folders since the last [[reset]] or [[abortAtMutatingCall]]. */
  def mutatingCalls: Int = mutating.get

  /** Make every rename onto a target whose scheme-less path satisfies `p` throw `e()`. */
  def failRenamesOnto(p: String => Boolean, e: () => Throwable = InjectedRenameFailure): Unit = {
    renameFailure = e; failRenameOnto = p
  }

  /** Make the next `k` deletes throw an `IOException`. */
  def failNextDeletes(k: Int): Unit = failDeletesUpTo = deletes.get + k

  /** Make every delete throw `e()`. */
  def failDeletesWith(e: () => Throwable): Unit = deleteFailure = Some(e)

  /** Make every `modifyAclEntries` throw `e()`. */
  def failAclsWith(e: () => Throwable): Unit = aclFailure = Some(e)

  /** `delete` calls seen on any path since the last [[reset]]. */
  def deleteCalls: Int = deletes.get

  /** `create` calls seen for `uri` since the last [[reset]]. */
  def createCalls(uri: String): Int =
    Option(calls.get(key(new Path(uri)))).fold(0)(_.get)

  /** The same location as a `file:` URI, under the `flaky:` scheme. */
  def flaky(fileUri: String): String = s"$Scheme:" + new Path(fileUri).toUri.getPath

  private def key(f: Path) = Path.getPathWithoutSchemeAndAuthority(f).toString

  private def mutate(paths: Path*): Unit =
    if (!paths.exists(_.toUri.getPath.split('/').contains("_temporary"))) {
      val n = mutating.incrementAndGet()
      if (n >= abortAt) throw new IOException(s"injected crash: mutating call $n (from $abortAt) on ${paths.mkString(" -> ")}")
    }

  private def failIfDue(f: Path): Unit = {
    val n = calls.computeIfAbsent(key(f), _ => new AtomicInteger).incrementAndGet()
    if (n <= failures) throw new IOException(s"injected create failure $n of $failures on $f")
  }
}
