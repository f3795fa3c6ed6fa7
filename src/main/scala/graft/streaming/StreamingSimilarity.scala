package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ext.Similarity

/** Online ANN: a STREAM of query vectors served against a persisted
  * corpus [[graft.ext.Similarity.lshIndex]] — the embedding twin of
  * [[StreamingDedup]], same two surfaces:
  *
  *  - [[candidates]]: stateless stream-static join. The stream side is
  *    hashed with the index's hyperplanes (narrow — seeded literal
  *    planes through the codegen'd dot product, no aggregation), then
  *    equi-joined on (table, bucket): append mode, no watermark, no
  *    state store; per-trigger cost is the probe batch × bucket
  *    fan-in. Emits each (query, candidate) once per shared table —
  *    at-least-once candidate semantics; ranking happens downstream.
  *  - [[start]]: foreachBatch runs the full
  *    [[Similarity.lshTopK]] (probe-side broadcast, TopKPerKey rank)
  *    per micro-batch against the index and appends (query_id,
  *    neighbor_id, sim, rank) parquet — one code path with the batch
  *    operator, so the spec can pin stream == batch exactly.
  */
object StreamingSimilarity {

  /** Stateless candidate join: (query_id, neighbor_id, table) per
    * shared bucket. `queriesStream` is a streaming DataFrame with
    * (idCol, vecCol); `corpusIndex` a static [[Similarity.lshIndex]]
    * built with the SAME (dim, bitsPerTable, tables, seedBase).
    */
  def candidates(queriesStream: DataFrame, corpusIndex: DataFrame,
      dim: Int, bitsPerTable: Int = 8, tables: Int = 8, seedBase: Long = 2000L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = Similarity.lshIndex(queriesStream, dim, bitsPerTable, tables, seedBase,
      idCol, vecCol)
    q.select(col("table"), col("bucket"), col("id").as("query_id"))
      .join(corpusIndex.select(col("table"), col("bucket"), col("id").as("neighbor_id")),
        Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("table"))
  }

  /** Serve exact-ranked top-k per micro-batch of query vectors against
    * the persisted index; appends results as parquet. Callers own
    * stop(). `(dim, bitsPerTable, tables, seedBase)` must equal the
    * index's build parameters — read them from its
    * [[Similarity.readLshIndexParams]] sidecar rather than repeating
    * call-site literals.
    */
  def start(queriesStream: DataFrame, corpus: DataFrame, corpusIndex: DataFrame,
      k: Int, dim: Int, outPath: String, checkpoint: String,
      bitsPerTable: Int = 12, tables: Int = 4, seedBase: Long = 1000L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    queriesStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Similarity.lshTopK(batch, corpus, k, dim, bitsPerTable, tables,
            idCol, vecCol, corpusIndex = Some(corpusIndex), seedBase = seedBase)
          .write.mode("append").parquet(outPath)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Serve top-k against a persisted index PATH, re-resolving the index
    * (files AND params sidecar) at every micro-batch: an
    * [[graft.ext.IndexLifecycle]] rebuild+swap that lands between
    * micro-batches is picked up by the next batch with NO stream
    * restart — and because the hash parameters ride the sidecar, a
    * rebuild that changed (bits, tables, seed) re-tunes the probe side
    * automatically. This is the serving shape for an index that gets
    * rebuilt on corpus growth.
    */
  def startAt(queriesStream: DataFrame, indexPath: String, k: Int,
      outPath: String, checkpoint: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val spark = queriesStream.sparkSession
    queriesStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // a batch racing swapIn's rename pair parks instead of failing
        // the query — see IndexLifecycle.retryingDuringSwap
        graft.ext.IndexLifecycle.retryingDuringSwap() {
          val p = Similarity.LshSidecar.require(spark, indexPath, "not a served LSH index")
          Similarity.lshTopKIndexed(batch, Similarity.readLshIndex(spark, indexPath),
              k, p, idCol, vecCol)
            .write.mode("append").parquet(outPath)
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** Hybrid retrieval served per micro-batch — the streaming twin of
    * the s12 batch query: the SEMANTIC arm ranks each probe vector
    * against the persisted LSH index at `indexPath` (sidecar-validated,
    * swap-aware like [[startAt]]); the LEXICAL arm is a static
    * per-query ranking `(query_id, doc_id, rank)` maintained elsewhere
    * (a BM25 serving table — lexical indexes have their own lifecycle),
    * semi-join-pruned to the micro-batch's query ids so only
    * batch-sized rows enter the fusion; the two fuse by reciprocal
    * rank ([[Similarity.rrfFusePerQuery]], integer end to end).
    * Per-batch cost: the LSH bucket probe (the only corpus-touching
    * stage) + a |batch|·k-row fusion. An
    * [[graft.ext.IndexLifecycle]] rebuild+swap landing between batches
    * is picked up by the next batch with no stream restart; a batch
    * racing the swap's rename window parks and retries.
    */
  def startAtHybrid(queriesStream: DataFrame, indexPath: String,
      lexArm: DataFrame, k: Int, outPath: String, checkpoint: String,
      kRrf: Long = 60L, semPool: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val spark = queriesStream.sparkSession
    queriesStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ext.IndexLifecycle.retryingDuringSwap() {
          val p = Similarity.LshSidecar.require(spark, indexPath, "not a served LSH index")
          val sem = Similarity.lshTopKIndexed(batch,
              Similarity.readLshIndex(spark, indexPath), semPool, p, idCol, vecCol)
            .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
          val lex = lexArm.join(
            batch.select(col(idCol).as("query_id")), Seq("query_id"), "left_semi")
          Similarity.rrfFusePerQuery(Seq(sem, lex), k, kRrf)
            .write.mode("append").parquet(outPath)
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** [[startAt]] for a persisted PQ index
    * ([[graft.ext.Similarity.writePqIndex]] /
    * [[graft.ext.IndexLifecycle.rebuildPqIndex]]): each micro-batch of
    * probe vectors is served by sidecar-validated ADC top-k
    * ([[Similarity.pqTopKAt]]) against the CURRENT index files — a
    * rebuild+swap landing between batches is picked up with no stream
    * restart, a batch racing the swap's rename window parks and
    * retries. The per-batch corpus read is the integer code table, not
    * the float vectors — the PQ compression applies to the serving
    * scan too.
    */
  def startAtPq(queriesStream: DataFrame, indexPath: String, k: Int,
      outPath: String, checkpoint: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val spark = queriesStream.sparkSession
    queriesStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ext.IndexLifecycle.retryingDuringSwap() {
          Similarity.pqTopKAt(spark, batch, k, indexPath, idCol, vecCol)
            .write.mode("append").parquet(outPath)
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }
}
