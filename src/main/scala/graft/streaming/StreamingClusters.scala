package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ext.{Dedup, IndexLifecycle}
import graft.fs.Fs
import org.apache.hadoop.fs.Path

/** Continuous cluster maintenance: a STREAM of near-dup pairs folded
  * into a persisted labeling — the streaming tail of the dedup
  * lifecycle (pair graph → labels), completing the chain
  * [[StreamingDedup]] starts (stream finds batch-touching pairs
  * against the corpus index; this folds them into cluster ids).
  *
  * The first micro-batch bootstraps the labeling with
  * [[Dedup.clusters]]; every later one folds through
  * [[Dedup.updateClusters]] — old labels re-enter as (member, label)
  * edges, so components over (label edges ∪ batch pairs) equal
  * components over ALL pairs ever ingested, in membership AND min-id
  * (the d37 identity, applied inductively per batch). A batch that
  * BRIDGES two existing clusters therefore merges them exactly as a
  * batch rebuild would; the spec pins streamed == batch
  * [[Dedup.clusters]] over the union after every interleaving.
  *
  * Per-batch cost is |labels| + |batch pairs| edges — the corpus pair
  * set is never re-propagated. The labeling lands through the
  * fuse-guarded atomic swap ([[IndexLifecycle.swapIn]]), so readers
  * see the previous complete labeling until the fold commits, and a
  * crashed fold is recoverable with [[IndexLifecycle.recoverSwap]].
  * No driver-side state: the artifact on disk IS the state, as with
  * [[StreamingChunks]].
  */
object StreamingClusters {

  def startAt(pairsStream: DataFrame, labelsPath: String, checkpoint: String,
      idA: String = "id_a", idB: String = "id_b",
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val spark = pairsStream.sparkSession
    pairsStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val pairs = batch.select(col(idA), col(idB))
        if (!pairs.isEmpty) {
          val fs = Fs.getFileSystem(spark.sparkContext.hadoopConfiguration,
            labelsPath)
          val next =
            if (!fs.exists(new Path(labelsPath))) Dedup.clusters(pairs, idA, idB)
            else Dedup.updateClusters(
              spark.read.parquet(labelsPath), pairs, idA, idB)
          // pin column order before the write (artifact-writer rule) and
          // materialize the fold BEFORE the swap touches the live path —
          // updateClusters reads the current labeling lazily
          IndexLifecycle.replace(spark, labelsPath)(
            next.select(col("id"), col("cluster_id")).write.mode("overwrite").parquet)
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }
}
