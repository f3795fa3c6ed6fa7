package graft.fs

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

/** The per-path effect runner behind every effectful fs and ACL
  * operator: how one metadata call per path is pooled, timed out, caught
  * and retried is decided here and nowhere else.
  *
  *   - [[onDriver]] runs the calls on one bounded driver pool
  *     ([[Fs.driverPoolSize]] threads, [[Fs.OpTimeout]] per call) and
  *     retries the failed subset ([[retryFailed]]);
  *   - [[inTasks]] is the per-partition function a Spark job maps its
  *     work with; the caller's job (or [[DistributedRetry]]) does the
  *     retrying.
  *
  * In both forms an item fails when its call returns false or throws a
  * `NonFatal` error. Any other `Throwable` (`InterruptedException`, a
  * `LinkageError`, …) ends the whole call with that error instead of
  * being retried as one more failed item.
  *
  * The retry loop follows the reference (fs/DistributedExecution.scala:72-83,
  * fs/LocalExecution.scala:85-96 — up to 5 attempts, return per-path
  * results, throw once attempts are exhausted) with one DELIBERATE
  * divergence: the reference fails fast when an attempt makes zero
  * progress (failed.length == paths.length aborts the loop); here a
  * zero-progress attempt is retried like any other, because a
  * batch-wide transient outage (storage briefly unreachable) fails
  * EVERY item in an attempt and must still recover on a later one
  * (pinned by the transient-failures property in PropertySpec).
  */
object Retry {
  val MaxAttempts = 5

  /** Run `op` over `work`, re-running only the failed subset, up to
    * [[MaxAttempts]] times.
    *
    * @param keyOf       identifies a work item by the path its result reports
    * @param repair      optional false-negative repair (reference
    *                    fs/LocalExecution.scala:151-157): applied to the
    *                    failed subset after each attempt; items it returns
    *                    are counted as successes (e.g. a rename that "failed"
    *                    but whose target exists and source is gone)
    * @return one result per work item
    */
  def retryFailed[W](
      work: Seq[W],
      op: Seq[W] => Seq[FsOperationResult],
      keyOf: W => String,
      repair: Seq[W] => Seq[W] = (_: Seq[W]) => Seq.empty,
      maxAttempts: Int = MaxAttempts): Seq[FsOperationResult] = {
    var pending = work
    var done = Vector.empty[FsOperationResult]
    var attempt = 0
    while (pending.nonEmpty && attempt < maxAttempts) {
      attempt += 1
      val results = op(pending)
      val failedPaths = results.filter(!_.success).map(_.path).toSet
      val failed = pending.filter(w => failedPaths(keyOf(w)))
      done ++= results.filter(_.success)
      val repaired = repair(failed).map(keyOf).toSet
      done ++= failed.collect { case w if repaired(keyOf(w)) => FsOperationResult(keyOf(w), success = true) }
      pending = failed.filterNot(w => repaired(keyOf(w)))
    }
    if (pending.nonEmpty)
      throw new IllegalStateException(
        s"${pending.size} operations still failing after $maxAttempts attempts: " +
          pending.take(5).map(keyOf).mkString(", "))
    done
  }

  /** Driver form: `op` once per item on the driver pool ([[onPool]]),
    * the failed subset retried through [[retryFailed]] with `repair`.
    *
    * @return one result per item, keyed by `keyOf`
    */
  def onDriver[W](work: Seq[W], keyOf: W => String,
      repair: Seq[W] => Seq[W] = (_: Seq[W]) => Seq.empty)(op: W => Boolean): Seq[FsOperationResult] =
    retryFailed[W](work, pending => onPool(pending)(w => FsOperationResult(keyOf(w), succeeds(op, w))),
      keyOf, repair)

  /** `f` over `items` on one fixed pool of [[Fs.driverPoolSize]] threads
    * (at most 1000), results in item order. Whatever a task throws is
    * rethrown here, and a task not done [[Fs.OpTimeout]] after its turn to
    * be awaited ends the call with a `TimeoutException`; either way the
    * pool is shut down at once, so no queued call runs after the caller
    * has its answer.
    */
  private[graft] def onPool[W, R](items: Seq[W])(f: W => R): Vector[R] = {
    val pool = Executors.newFixedThreadPool(Fs.driverPoolSize.max(1).min(1000))
    try {
      val tasks = items.iterator.map(w => pool.submit(new Callable[R] { def call(): R = f(w) })).toVector
      tasks.map { t =>
        try t.get(Fs.OpTimeout.toMillis, TimeUnit.MILLISECONDS)
        catch { case e: ExecutionException => throw e.getCause }
      }
    } finally pool.shutdownNow()
  }

  /** Task form: the function each partition of a side-effecting Spark
    * job maps its items with. Checked on the driver, when it is built:
    * speculative execution must be off, since a speculative copy of a
    * task would repeat its effects. `conf` ships with the function once; the
    * op is built once per partition from it (a `FileSystem` handle or an
    * `AclEntry` list is not Serializable).
    */
  def inTasks[W](conf: Configuration, keyOf: W => String)(opFor: Configuration => W => Boolean)(
      implicit spark: SparkSession): Iterator[W] => Iterator[FsOperationResult] = {
    require(!spark.conf.getOption("spark.speculation").contains("true"),
      "per-path effect tasks are side-effecting; disable spark.speculation")
    val sconf = new SerializableHadoopConf(conf)
    it => {
      val op = opFor(sconf.value)
      it.map(w => FsOperationResult(keyOf(w), succeeds(op, w)))
    }
  }

  private def succeeds[W](op: W => Boolean, w: W): Boolean =
    try op(w) catch { case NonFatal(_) => false }
}
