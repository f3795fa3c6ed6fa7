package graft.fs

import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, SparkSession}

/** Distributed file copy: the flagship data-movement operator
  * (reference semantics: fs/DistributedExecution.scala:22-84).
  *
  * Spark-first redesign (SURVEY §7.4):
  *   - one task per slot by default, files dealt round-robin; the
  *     reference's one-file-per-task layout is `taskCount = <file count>`;
  *   - Hadoop conf ships to tasks via [[SerializableHadoopConf]] exactly
  *     as the reference broadcasts `SerializableWritable`;
  *   - per-task FS handles opened once per partition (`mapPartitions`);
  *   - [[copyFiles]] retries on the driver ([[Retry.retryFailed]], one
  *     `collect` per attempt); [[copyDataset]] keeps work and results
  *     distributed ([[DistributedRetry]]), so a billion-file copy never
  *     materializes on the driver;
  *   - copy is overwrite=true → idempotent, safe under task retry
  *     (speculation must stay off: side-effecting tasks).
  */
object DistributedExecution {

  /** Copy a whole folder tree: list, derive target paths by prefix
    * rewrite, distributed copy of all files (empty dirs skipped —
    * reference fs/DistributedExecution.scala:22-30).
    */
  def copyFolder(sourceUri: String, targetUri: String, taskCount: Int = -1)(
      implicit spark: SparkSession): Array[FsOperationResult] = {
    implicit val conf = spark.sparkContext.hadoopConfiguration
    copyFiles(Fs.list(sourceUri).toIndexedSeq.filter(!_.isDirectory)
      .map(e => Paths(e.path, Fs.rebase(e.path, sourceUri, targetUri))), taskCount)
  }

  /** Distributed copy with retry-failed-subset ≤5 (reference
    * fs/DistributedExecution.scala:42-84). `taskCount = -1` runs
    * `min(files, defaultParallelism)` tasks; `taskCount = paths.size` is
    * the reference's one-file-per-task layout for high-latency stores.
    * Each attempt is one shuffle-free job: the driver deals the pending
    * files round-robin into the tasks and collects their results.
    */
  def copyFiles(paths: Seq[Paths], taskCount: Int = -1)(
      implicit spark: SparkSession): Array[FsOperationResult] = {
    val (tasksFor, copy) = attempt(taskCount)
    Retry.retryFailed[Paths](paths, pending => {
      val tasks = pending.zipWithIndex.groupMap(_._2 % tasksFor(pending.size))(_._1).values.toSeq
      spark.sparkContext.parallelize(tasks, tasks.size).mapPartitions(it => copy(it.flatten)).collect().toSeq
    }, _.sourcePath).toArray
  }

  /** Fully-distributed variant: both work list and results are Datasets.
    * The returned Dataset is materialized (persisted + counted) so the
    * copies have already happened when it returns.
    */
  def copyDataset(work: Dataset[Paths], taskCount: Int = -1)(
      implicit spark: SparkSession): Dataset[FsOperationResult] = {
    import spark.implicits._
    val (tasksFor, copy) = attempt(taskCount)
    DistributedRetry.run[Paths](work, "sourcePath", "copies",
      (pending, pendingCount) => pending.repartition(tasksFor(pendingCount)).mapPartitions(copy))
  }

  /** What both entry points share: the task count for a number of
    * pending files, and the per-partition copy.
    */
  private def attempt(taskCount: Int)(implicit spark: SparkSession)
      : (Long => Int, Iterator[Paths] => Iterator[FsOperationResult]) = {
    require(!spark.conf.getOption("spark.speculation").contains("true"),
      "distributed copy tasks are side-effecting; disable spark.speculation")
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val limit = if (taskCount > 0) taskCount else spark.sparkContext.defaultParallelism
    (pending => math.min(limit.toLong, pending).max(1L).toInt, it => {
      val c = conf.value
      it.map { p =>
        // a self-copy with overwrite=true TRUNCATES the file before
        // reading it — refuse rather than destroy data (this is the
        // failure mode of a mis-spelled prefix rewrite upstream)
        val ok =
          if (p.sourcePath == p.targetPath) false
          else try Fs.copySingleFile(c, p.sourcePath, p.targetPath)
               catch { case NonFatal(_) => false }
        FsOperationResult(p.sourcePath, ok)
      }
    })
  }
}
