package graft.ext

import scala.reflect.ClassTag
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.DeserializationFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.compact.Compactor
import graft.fs.{FolderSwap, Fs, Paths, SafetyFuse}

/** Operational lifecycle for the persisted similarity-index artifacts:
  * the ext/ indexes are plain parquet, so they get the SAME treatment
  * tables get on the fs surface — rebuild to a sibling path, compact +
  * z-order the rewrite ([[Compactor.doAutoCoalesce]]), and promote it
  * through [[graft.fs.FolderSwap]], the one crash-safe folder replace
  * compaction and partition moves use too: a hidden [[SafetyFuse]]
  * marker records (rebuild, live), live → `.<name>_graft_aside`,
  * rebuild → live, drop the aside, close the marker, so a crashed swap
  * is finished or rolled back by [[recoverSwap]].
  *
  * Every persisted index family shares one artifact protocol, kept
  * here: its build parameters ride a [[Sidecar]] inside the artifact
  * folder, and every update/forget/merge/rebuild goes through
  * [[replace]] (build beside the live folder, write the sidecar, swap).
  *
  * Serving continuity: [[graft.streaming.StreamingSimilarity.startAt]]
  * re-reads the index path per micro-batch, so a swap that lands
  * between micro-batches is picked up by the NEXT batch with no stream
  * restart — the E2E spec pins stream == batch across a rebuild+swap.
  */
object IndexLifecycle {

  private val Json = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES)
    .disable(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES)
    .build()

  /** The params sidecar of one artifact kind:
    * `<dir>/_graft_<kind>_params.json`, one JSON object of `P`'s fields
    * in declaration order (underscore-prefixed, so parquet readers skip
    * it like `_SUCCESS`). An index family reads its build parameters
    * from here, never from call-site literals: a probe or update under
    * different parameters than the build matches nothing or garbage.
    */
  final class Sidecar[P](kind: String)(implicit ct: ClassTag[P]) {
    val file: String = s"_graft_${kind}_params.json"
    private def at(dir: String) = new Path(dir, file)

    def write(spark: SparkSession, dir: String, params: P): Unit = {
      val out = fsOf(spark, dir).create(at(dir), true)
      try out.write(Json.writeValueAsBytes(params)) finally out.close()
    }

    /** The params of the artifact at `dir`; None when it has no sidecar. */
    def read(spark: SparkSession, dir: String): Option[P] = {
      val fs = fsOf(spark, dir)
      if (!fs.exists(at(dir))) None
      else {
        val in: java.io.InputStream = fs.open(at(dir))
        try Some(Json.readValue(in, ct.runtimeClass.asInstanceOf[Class[P]])) finally in.close()
      }
    }

    def exists(spark: SparkSession, dir: String): Boolean = fsOf(spark, dir).exists(at(dir))

    /** [[read]] that fails loudly; `why` names what `dir` then is not. */
    def require(spark: SparkSession, dir: String, why: String): P =
      read(spark, dir).getOrElse(throw new MissingSidecarException(dir, file, why))
  }

  /** The one error for an artifact folder `dir` without the sidecar
    * `file`. A serving batch that reads a live index inside
    * [[swapIn]]'s rename window gets exactly this, so
    * [[retryingDuringSwap]] parks on this type.
    */
  final class MissingSidecarException(dir: String, file: String, why: String)
      extends IllegalArgumentException(s"$dir has no $file sidecar — $why")

  /** Build a new version of the artifact at `livePath` and swap it in:
    * `build` writes it to `<livePath>_rebuild` (compaction included),
    * then [[swapIn]] promotes it. Readers keep using `livePath`
    * throughout; only the rename window is exclusive.
    */
  def replace(spark: SparkSession, livePath: String)(build: String => Unit): Unit = {
    val rebuild = s"${livePath}_rebuild"
    build(rebuild)
    swapIn(spark, rebuild, livePath)
  }

  /** [[replace]] for an artifact with a params sidecar: `params` are
    * written after `build` returns, so an artifact swapped in always
    * carries them — a compaction inside `build` that rewrites the
    * folder cannot drop them.
    */
  def replace[P](spark: SparkSession, livePath: String, sidecar: Sidecar[P], params: P)(
      build: String => Unit): Unit =
    replace(spark, livePath) { rebuild =>
      build(rebuild)
      sidecar.write(spark, rebuild, params)
    }

  /** Rebuild the LSH index for `vectors` and atomically swap it into
    * `livePath` ([[replace]]). The rebuild is compacted and z-ordered
    * on (table, bucket) — the probe join's key, so bucket reads cluster
    * into contiguous row groups — and records the build corpus's
    * distribution fingerprint so ingest can ask [[driftSinceBuild]]
    * without keeping the corpus around.
    */
  def rebuildLshIndex(vectors: DataFrame, livePath: String, dim: Int,
      bitsPerTable: Int = 8, tables: Int = 8, seedBase: Long = 2000L,
      requestedSizeMb: Int = 100,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    implicit val spark: SparkSession = vectors.sparkSession
    replace(spark, livePath, Similarity.LshSidecar,
        Similarity.LshParams(dim, bitsPerTable, tables, seedBase)) { rebuild =>
      Similarity.writeLshIndex(vectors, rebuild, dim, bitsPerTable, tables, seedBase,
        idCol, vecCol)
      Compactor.doAutoCoalesce(rebuild, requestedSizeMb,
        zorderCols = Seq("table", "bucket"))
      Similarity.writeMomentsSidecar(vectors, rebuild, vecCol)
    }
  }

  /** [[rebuildLshIndex]] for the IVF family: rebuild codebook +
    * inverted lists (lists compacted and z-ordered on `centroid_id` —
    * the probe join's key, so an nProbe read touches contiguous row
    * groups), then swap the whole index directory in one fuse-guarded
    * promotion (codebook and lists move together — a probe can never
    * see a new codebook over old lists). `trainIters > 0` swaps the
    * hash-sampled codebook for a Lloyd's-trained one
    * ([[Similarity.trainCodebook]]).
    */
  def rebuildIvfIndex(corpus: DataFrame, livePath: String, nCentroids: Int = 16,
      requestedSizeMb: Int = 100,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainIters: Int = 0): Unit = {
    implicit val spark: SparkSession = corpus.sparkSession
    val index =
      if (trainIters > 0)
        Similarity.ivfIndexTrained(corpus, nCentroids, trainIters, idCol, vecCol)
      else Similarity.ivfIndex(corpus, nCentroids, idCol, vecCol)
    replace(spark, livePath) { rebuild =>
      Similarity.writeIvfIndexParts(index, rebuild)
      Compactor.doAutoCoalesce(s"$rebuild/lists", requestedSizeMb,
        zorderCols = Seq("centroid_id"))
      Similarity.writeMomentsSidecar(corpus, rebuild, vecCol)
    }
  }

  /** [[rebuildIvfIndex]] for the PQ family: train + encode, compact +
    * z-order the codes on the ADC probe join's (sub, code) key, and
    * promote codebook + codes + sidecar together under the fuse.
    */
  def rebuildPqIndex(corpus: DataFrame, livePath: String, m: Int = 4,
      k: Int = 8, iters: Int = 2, requestedSizeMb: Int = 100,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    implicit val spark: SparkSession = corpus.sparkSession
    replace(spark, livePath) { rebuild =>
      Similarity.writePqIndex(corpus, rebuild, m, k, iters, idCol, vecCol)
      Compactor.doAutoCoalesce(s"$rebuild/codes", requestedSizeMb,
        zorderCols = Seq("sub", "code"))
      Similarity.writeMomentsSidecar(corpus, rebuild, vecCol)
    }
  }

  /** [[rebuildLshIndex]] for the minhash text family: rebuild the
    * banded-signature index, compact + z-order on (band, bandHash) —
    * the candidate join's key — and swap it in under the fuse.
    */
  def rebuildMinhashIndex(docs: DataFrame, livePath: String,
      n: Int = 3, k: Int = 32, bands: Int = 16, requestedSizeMb: Int = 100,
      textCol: String = "text", idCol: String = "doc_id"): Unit = {
    implicit val spark: SparkSession = docs.sparkSession
    replace(spark, livePath, Dedup.MinhashSidecar, Dedup.MinhashParams(n, k, bands)) {
      rebuild =>
        Dedup.writeMinhashIndex(docs, rebuild, n, k, bands, textCol, idCol)
        Compactor.doAutoCoalesce(rebuild, requestedSizeMb,
          zorderCols = Seq("band", "bandHash"))
    }
  }

  /** [[rebuildMinhashIndex]] for the near-dup pair-graph artifact
    * ([[Dedup.writePairGraph]]): full recompute, compacted (z-ordered
    * on id_a — every consumer's first join/groupBy key, so
    * cluster/representative/graph reads touch contiguous row groups),
    * fuse-guarded swap. The full-rebuild member of the pair-graph
    * lifecycle ([[Dedup.updatePairGraph]] / [[Dedup.forgetDocs]] are
    * the incremental ones): run it on snapshot boundaries or when
    * incremental drift warrants a clean base.
    */
  def rebuildPairGraph(docs: DataFrame, livePath: String, n: Int = 3,
      minJaccard: Double = 0.5, requestedSizeMb: Int = 100,
      textCol: String = "text", idCol: String = "doc_id",
      prefixFilter: Boolean = false, broadcastDf: Boolean = false): Unit = {
    implicit val spark: SparkSession = docs.sparkSession
    replace(spark, livePath, Dedup.PairGraphSidecar,
        Dedup.PairGraphParams("jaccard", n, minJaccard)) { rebuild =>
      Dedup.writePairGraph(docs, rebuild, n, minJaccard, textCol, idCol,
        prefixFilter, broadcastDf)
      Compactor.doAutoCoalesce(rebuild, requestedSizeMb, zorderCols = Seq("id_a"))
    }
  }

  /** Drift of an ingest batch against the distribution the LIVE index
    * was built from ([[Similarity.embeddingDrift]] vs the
    * `_graft_moments` sidecar every vector rebuild records): the
    * measured answer to "do the planes/codebooks still describe this
    * corpus?", thresholded by the caller —
    * `if (Similarity.maxAbsDrift(driftSinceBuild(...)) > tol)
    * rebuild…Index(...)`. Dim-row cost on the index side; one
    * map-side-combined aggregation over the batch.
    */
  def driftSinceBuild(spark: SparkSession, livePath: String, batch: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    val before = Similarity.readMomentsSidecar(spark, livePath).getOrElse(
      throw missingMoments(livePath))
    Similarity.embeddingDrift(before, Similarity.embeddingMoments(batch, vecCol))
  }

  /** The error for a live index without the `_graft_moments` sidecar. */
  def missingMoments(livePath: String): MissingSidecarException =
    new MissingSidecarException(livePath, "_graft_moments",
      "rebuild with the current lifecycle to record the build distribution")

  /** Promote `rebuildPath` over `livePath` through the one crash-safe
    * folder replace ([[graft.fs.FolderSwap]]), under a marker beside the
    * live folder that records both paths. Refuses to run over an open
    * marker: [[recoverSwap]] resolves that first.
    */
  def swapIn(spark: SparkSession, rebuildPath: String, livePath: String): Unit = {
    val fuse = swapFuse(spark, livePath)
    require(!fuse.isInProgress(), s"unfinished swap on $livePath — run recoverSwap first")
    FolderSwap.replace(fsOf(spark, livePath), fuse, Seq(Paths(rebuildPath, livePath)))
  }

  /** Complete or roll back a swap whose process died mid-transaction
    * ([[graft.fs.FolderSwap.recover]]): a missing live index takes the
    * rebuild if it is still there, or else the previous build back, so
    * serving resumes on one of the two. It also resolves the swap of an
    * earlier build, which recorded the bare rebuild path and kept the
    * previous build in `<livePath>_swap_bak`. Returns true when a marker
    * was found and resolved.
    */
  def recoverSwap(spark: SparkSession, livePath: String): Boolean =
    FolderSwap.recover(fsOf(spark, livePath), swapFuse(spark, livePath), Some(new Path(livePath)))

  /** Run `body`, retrying briefly while the live index is mid-[[swapIn]]:
    * between rename(live → aside) and rename(rebuild → live) the live path
    * does not exist, so a serving micro-batch firing inside that window
    * would throw and permanently fail its streaming query. The window is
    * two renames (milliseconds); this parks the batch for up to
    * `attempts × sleepMs` (default 10 s) on a missing path or a
    * [[MissingSidecarException]], matched by type anywhere in the cause
    * chain, before letting the failure through; any other non-fatal
    * error fails at once, and a fatal one is never caught. Retrying the
    * WHOLE batch body — including its parquet append — is safe under
    * Spark's default commit protocol: a job that failed before commit
    * has published no files, so the re-run appends exactly once.
    */
  def retryingDuringSwap[T](attempts: Int = 100, sleepMs: Long = 100)(body: => T): T = {
    var left = attempts
    while (true) {
      try return body
      catch {
        case NonFatal(e) if left > 0 && isTransientMissing(e) =>
          left -= 1; Thread.sleep(sleepMs)
      }
    }
    sys.error("unreachable")
  }

  /** A missing live path / params sidecar, anywhere in the cause chain —
    * what a batch sees when it races [[swapIn]]'s rename pair.
    */
  @annotation.tailrec
  private def isTransientMissing(e: Throwable): Boolean = e match {
    case null => false
    case _: java.io.FileNotFoundException | _: MissingSidecarException => true
    case t: org.apache.spark.SparkThrowable if t.getCondition == "PATH_NOT_FOUND" => true
    case t => isTransientMissing(t.getCause)
  }

  private def fsOf(spark: SparkSession, path: String) =
    Fs.getFileSystem(spark.sparkContext.hadoopConfiguration, path)

  private def swapFuse(spark: SparkSession, livePath: String): SafetyFuse = {
    val p = new Path(livePath)
    new SafetyFuse(fsOf(spark, livePath), p.getParent.toString, s"${p.getName}_swap")
  }
}
