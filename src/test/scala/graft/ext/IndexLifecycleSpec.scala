package graft.ext

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Tables}
import graft.fs.{Fs, SafetyFuse}
import graft.streaming.StreamingSimilarity

/** The operational story a 100 TB pipeline needs from its index
  * artifacts: rebuild on corpus growth, compact + z-order the rewrite,
  * promote it with a fuse-guarded atomic swap, and keep SERVING across
  * the swap — stream == batch pinned on both sides of the rebuild.
  */
class IndexLifecycleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.sf
  lazy val emb = Tables.embeddings(spark, sf).cache()

  private def topkRows(df: org.apache.spark.sql.DataFrame) = df
    .select("query_id", "neighbor_id", "sim", "rank").collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet

  test("rebuild + z-order + swap: stream keeps serving, next batch sees the new corpus") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val root = Files.createTempDirectory("graft_idx_cycle").toFile.getAbsolutePath
    val live = s"$root/ann_index"
    val (dim, bits, tables, seed) = (64, 6, 8, 777L)
    Similarity.writeLshIndex(emb, live, dim, bits, tables, seed)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
    // expected answers against v1, captured BEFORE the index is swapped
    val expectedV1 = topkRows(Similarity.lshTopKAt(spark, emb.filter(col("vec_id") < 10),
      k = 5, live))
    val input = MemoryStream[(Long, Array[Float])]
    val served = StreamingSimilarity.startAt(input.toDF().toDF("vec_id", "embedding"),
      live, k = 5, s"$root/out", s"$root/ckpt")
    try {
      input.addData(queries.toIndexedSeq)
      served.processAllAvailable()
      // ---- corpus grows: near-identical twins of every vector ----
      val grown = emb.select(col("vec_id"), col("embedding"))
        .unionByName(emb.select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding")))
      IndexLifecycle.rebuildLshIndex(grown, live, dim, bits, tables, seed)
      // swap left a clean state: sidecar restored, no marker, no debris
      assert(Similarity.readLshIndexParams(spark, live)
        .contains(Similarity.LshParams(dim, bits, tables, seed)))
      val fs = Fs.getFileSystem(spark.sparkContext.hadoopConfiguration, live)
      assert(!fs.exists(new Path(s"${live}_rebuild")) && !fs.exists(new Path(s"${live}_swap_bak")))
      assert(!new SafetyFuse(fs, root, "ann_index_swap").isInProgress())
      // compaction really rewrote the artifact (32 shuffle files -> few)
      val dataFiles = fs.listStatus(new Path(live))
        .count(s => !s.isDirectory && !s.getPath.getName.startsWith("_"))
      assert(dataFiles <= 4, s"rebuild not compacted: $dataFiles files")
      // ---- SAME stream, next micro-batch: served from the NEW index ----
      val queries2 = queries.map { case (id, v) => (id + 1000L, v) }
      input.addData(queries2.toIndexedSeq)
      served.processAllAvailable()
    } finally served.stop()
    val out = spark.read.parquet(s"$root/out")
    assert(topkRows(out.filter(col("query_id") < 1000L)) == expectedV1,
      "pre-swap stream output drifted from batch against the v1 index")
    val post = topkRows(out.filter(col("query_id") >= 1000L))
    val expectedV2 = topkRows(Similarity.lshTopKAt(spark,
      emb.filter(col("vec_id") < 10).select((col("vec_id") + 1000L).as("vec_id"), col("embedding")),
      k = 5, live))
    assert(post == expectedV2, "post-swap stream output drifted from batch against the v2 index")
    // and it genuinely reflects the GROWN corpus: the planted twins
    // (cosine ~0.999) must dominate the new top-k
    assert(post.exists(_._2 >= 100000L),
      "post-swap results never surface the rebuilt corpus's twin vectors")
  }

  test("drift monitor: moments sidecar rides the rebuild+swap; planted shift triggers, same corpus doesn't") {
    val root = Files.createTempDirectory("graft_idx_drift").toFile.getAbsolutePath
    val live = s"$root/ann_index"
    // pre-sidecar index: driftSinceBuild must fail loudly, not guess
    Similarity.writeLshIndex(emb, live, 64, 6, 8, 777L)
    val eNo = intercept[IllegalArgumentException] {
      IndexLifecycle.driftSinceBuild(spark, live, emb)
    }
    assert(eNo.getMessage.contains("_graft_moments"), eNo.getMessage)
    // lifecycle rebuild records the fingerprint; it survives compaction
    // AND the atomic swap, and the index data reads are unaffected
    IndexLifecycle.rebuildLshIndex(emb, live, 64, 6, 8, 777L)
    assert(Similarity.readMomentsSidecar(spark, live).isDefined)
    assert(Similarity.readLshIndex(spark, live).columns.toSet ==
      Set("id", "vec", "norm", "table", "bucket"),
      "moments sidecar leaked into the index read")
    // same corpus: zero drift everywhere
    val same = IndexLifecycle.driftSinceBuild(spark, live, emb)
    assert(same.count() == 64 && Similarity.maxAbsDrift(same) == 0.0)
    // an ingest batch with a planted +0.25 shift on dim 5 surfaces it
    val shifted = emb.select(col("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i === 5, x + lit(0.25f)).otherwise(x)).as("embedding"))
    val drift = IndexLifecycle.driftSinceBuild(spark, live, shifted)
    val at5 = drift.filter(col("pos") === 5).head().getAs[Double]("dmean")
    assert(math.abs(at5 - 0.25) < 1e-3, s"planted drift not recovered: $at5")
    assert(math.abs(Similarity.maxAbsDrift(drift) - 0.25) < 1e-3)
  }

  test("streaming drift monitor: running moments accumulate across batches; a swap re-baselines") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val root = Files.createTempDirectory("graft_stream_drift").toFile.getAbsolutePath
    val live = s"$root/ann_index"
    IndexLifecycle.rebuildLshIndex(emb, live, 64, 6, 8, 777L)
    // ingest drifts: every vector shifted +0.25 on dim 2
    val shifted = emb.select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 2, x + lit(0.25f)).otherwise(x)).as("embedding"))
      .as[(Long, Array[Float])].collect()
    val (half1, half2) = shifted.splitAt(shifted.length / 2)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamingDrift.start(
      input.toDF().toDF("vec_id", "embedding"), live, s"$root/report", s"$root/ckpt")
    def report() = spark.read.parquet(s"$root/report")
    try {
      input.addData(half1.toIndexedSeq)
      q.processAllAvailable()
      val r1 = report().filter(col("pos") === 2).head()
      // 0.01 tolerance: batch 1 is HALF the population, so its mean
      // differs from the build corpus's by sampling noise (~0.003 on
      // this fixture) on top of the planted 0.25
      assert(math.abs(r1.getAs[Double]("dmean") - 0.25) < 0.01,
        s"batch-1 drift not surfaced: ${r1.getAs[Double]("dmean")}")
      assert(r1.getAs[Long]("cnt_after") == half1.length, "report must cover batch 1 only")
      // second batch ACCUMULATES: the report now covers the whole stream
      input.addData(half2.toIndexedSeq)
      q.processAllAvailable()
      val r2 = report()
      assert(r2.filter(col("pos") === 2).head().getAs[Long]("cnt_after") == shifted.length,
        "running moments must accumulate across micro-batches")
      // report == the batch operator over everything streamed so far
      val expected = Similarity.embeddingDrift(
          Similarity.readMomentsSidecar(spark, live).get,
          Similarity.embeddingMoments(shifted.toSeq.toDF("vec_id", "embedding")))
        .collect().map(r => (r.getLong(0), r.getAs[Double]("dmean"))).toMap
      r2.collect().foreach { r =>
        assert(r.getAs[Double]("dmean") == expected(r.getLong(0)),
          s"stream != batch at pos ${r.getLong(0)}")
      }
      // the index rebuilds on the DRIFTED corpus and swaps mid-stream:
      // the next trigger re-baselines against the new sidecar, so the
      // previously-drifting dim reads as (near) zero again
      IndexLifecycle.rebuildLshIndex(
        shifted.toSeq.toDF("vec_id", "embedding"), live, 64, 6, 8, 777L)
      input.addData(Seq(shifted.head))
      q.processAllAvailable()
      val r3 = report().filter(col("pos") === 2).head().getAs[Double]("dmean")
      // the running stream now holds shifted-all + one duplicated row,
      // vs the sidecar of shifted-all: only the dup row's pull remains
      assert(math.abs(r3) < 0.01,
        s"post-swap report must baseline against the NEW sidecar, got $r3")
    } finally q.stop()
  }

  test("hybrid RRF serving across an index swap: stream == batch on both sides") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val root = Files.createTempDirectory("graft_idx_hybrid").toFile.getAbsolutePath
    val live = s"$root/ann_index"
    Similarity.writeLshIndex(emb, live, 64, 6, 8, 777L)
    // static lexical arm: deterministic per-query top-5 doc ranks; the
    // +1000 post-swap queries have NO lexical rows — the fusion must
    // serve them semantic-only (n_arms = 1), never drop them
    val lexArm = spark.range(10).select(col("id").as("query_id"))
      .crossJoin(spark.range(1, 6).select(col("id").as("rank")))
      .select(col("query_id"), (col("query_id") * 3 + col("rank") * 7).as("doc_id"),
        col("rank"))
      .cache()
    def hybridBatch(queries: org.apache.spark.sql.DataFrame) = {
      val p = Similarity.readLshIndexParams(spark, live).get
      val sem = Similarity.lshTopKIndexed(queries,
          Similarity.readLshIndex(spark, live), 50, p)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      val lex = lexArm.join(queries.select(col("vec_id").as("query_id")),
        Seq("query_id"), "left_semi")
      Similarity.rrfFusePerQuery(Seq(sem, lex), k = 5)
    }
    def fusedRows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "doc_id", "rrf_micro", "n_arms", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
    val expectedV1 = fusedRows(hybridBatch(emb.filter(col("vec_id") < 10)))
    assert(expectedV1.exists(_._4 == 2L), "fixture never fuses both arms — weak test")
    val input = MemoryStream[(Long, Array[Float])]
    val served = StreamingSimilarity.startAtHybrid(
      input.toDF().toDF("vec_id", "embedding"), live, lexArm, k = 5,
      s"$root/out", s"$root/ckpt")
    try {
      input.addData(queries.toIndexedSeq)
      served.processAllAvailable()
      // corpus grows; rebuild + swap between micro-batches
      val grown = emb.select(col("vec_id"), col("embedding"))
        .unionByName(emb.select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding")))
      IndexLifecycle.rebuildLshIndex(grown, live, 64, 6, 8, 777L)
      input.addData(queries.map { case (id, v) => (id + 1000L, v) }.toIndexedSeq)
      served.processAllAvailable()
    } finally served.stop()
    val out = spark.read.parquet(s"$root/out")
    assert(fusedRows(out.filter(col("query_id") < 1000L)) == expectedV1,
      "pre-swap hybrid stream output drifted from the batch composition")
    val post = fusedRows(out.filter(col("query_id") >= 1000L))
    val expectedV2 = fusedRows(hybridBatch(
      emb.filter(col("vec_id") < 10).select((col("vec_id") + 1000L).as("vec_id"),
        col("embedding"))))
    assert(post == expectedV2,
      "post-swap hybrid stream output drifted from the batch composition")
    // post-swap fusion really served the grown index AND stayed
    // semantic-only for queries with no lexical rows
    assert(post.exists(_._2 >= 100000L),
      "post-swap hybrid results never surface the rebuilt corpus's twins")
    assert(post.forall(_._4 == 1L),
      "queries with no lexical rows must fuse semantic-only (n_arms = 1)")
  }

  test("IVF and minhash rebuilds swap atomically and probe-equal a fresh recompute") {
    val root = Files.createTempDirectory("graft_idx_fam").toFile.getAbsolutePath
    val fs = Fs.getFileSystem(spark.sparkContext.hadoopConfiguration, root)
    // ---- IVF: codebook + lists move as ONE directory ----
    val ivfLive = s"$root/ivf"
    IndexLifecycle.rebuildIvfIndex(emb.filter(col("vec_id") < 50), ivfLive, nCentroids = 8)
    IndexLifecycle.rebuildIvfIndex(emb, ivfLive, nCentroids = 16)
    val q = emb.filter(col("vec_id") < 20)
    def topk(ci: Option[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)]) =
      Similarity.ivfTopK(q, emb, k = 5, nCentroids = 16, nProbe = 16, corpusIndex = ci)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(topk(Some(Similarity.readIvfIndex(spark, ivfLive))) == topk(None),
      "swapped-in IVF index diverged from inline")
    assert(!fs.exists(new Path(s"${ivfLive}_rebuild")) && !fs.exists(new Path(s"${ivfLive}_swap_bak")))
    // trained-codebook rebuild rides the same lifecycle: swap is clean
    // and the served index is the ivfIndexTrained pair verbatim
    IndexLifecycle.rebuildIvfIndex(emb, ivfLive, nCentroids = 16, trainIters = 2)
    val trained = Similarity.readIvfIndex(spark, ivfLive)
    val (cbT, listsT) = Similarity.ivfIndexTrained(emb, nCentroids = 16, iters = 2)
    assert(trained._1.collect().map(_.getLong(0)).sorted.toSeq ==
      cbT.collect().map(_.getLong(0)).sorted.toSeq,
      "served trained codebook != fresh training")
    assert(trained._2.count() == listsT.count())
    assert(topk(Some(trained)).nonEmpty)
    assert(!fs.exists(new Path(s"${ivfLive}_rebuild")) && !fs.exists(new Path(s"${ivfLive}_swap_bak")))
    // ---- minhash: banded signatures, z-ordered on the join key ----
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val mhLive = s"$root/mh"
    IndexLifecycle.rebuildMinhashIndex(corpus.limit(100), mhLive)
    IndexLifecycle.rebuildMinhashIndex(corpus, mhLive)
    val newDocs = docs.filter(col("doc_id") % 10 === 0)
    def pairs(ci: Option[org.apache.spark.sql.DataFrame]) =
      Dedup.minhashDedupNewPairs(newDocs, corpus, minJaccard = 0.5, corpusIndex = ci)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = pairs(None)
    assert(direct.nonEmpty)
    assert(pairs(Some(Dedup.readMinhashIndex(spark, mhLive))) == direct,
      "swapped-in minhash index diverged from direct recompute")
    assert(!fs.exists(new Path(s"${mhLive}_rebuild")) && !fs.exists(new Path(s"${mhLive}_swap_bak")))
  }

  test("PQ rebuild swaps atomically; sidecar-validated serving equals inline ADC") {
    val root = Files.createTempDirectory("graft_pq_idx").toString
    val fs = Fs.getFileSystem(spark.sparkContext.hadoopConfiguration, root)
    val live = s"$root/pq"
    // stale first build, then the real corpus — serving must see the second
    IndexLifecycle.rebuildPqIndex(emb.filter(col("vec_id") < 50), live, m = 4, k = 4, iters = 1)
    IndexLifecycle.rebuildPqIndex(emb, live, m = 4, k = 8, iters = 2)
    assert(!fs.exists(new Path(s"${live}_rebuild")) && !fs.exists(new Path(s"${live}_swap_bak")))
    // sidecar records the SECOND build's parameters
    assert(Similarity.readPqIndexParams(spark, live)
      .contains(Similarity.PqParams(4, 8, 2, 64)))
    val probes = emb.filter(col("vec_id") < 5)
    val served = topkRows(Similarity.pqTopKAt(spark, probes, k = 10, live))
    val state = Similarity.pqTrain(emb, m = 4, k = 8, iters = 2)
    val inline = topkRows(Similarity.pqTopK(probes, Similarity.pqEncode(emb, state), state, k = 10))
    assert(served == inline, "served PQ ADC diverged from inline train+encode")
    // dimension mismatch is refused before any join runs
    val bad = emb.select(col("vec_id"), expr("slice(embedding, 1, 32)").as("embedding"))
    intercept[IllegalArgumentException] {
      Similarity.pqTopKAt(spark, bad.filter(col("vec_id") < 5), k = 10, live)
    }
  }

  test("PQ streaming serving crosses a rebuild+swap: stream == batch on both sides") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val root = Files.createTempDirectory("graft_pq_stream").toFile.getAbsolutePath
    val live = s"$root/pq_index"
    IndexLifecycle.rebuildPqIndex(emb, live, m = 4, k = 8, iters = 1)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
    val expectedV1 = topkRows(Similarity.pqTopKAt(spark,
      emb.filter(col("vec_id") < 5), k = 5, live))
    val input = MemoryStream[(Long, Array[Float])]
    val served = StreamingSimilarity.startAtPq(input.toDF().toDF("vec_id", "embedding"),
      live, k = 5, s"$root/out", s"$root/ckpt")
    try {
      input.addData(queries.toIndexedSeq)
      served.processAllAvailable()
      // rebuild with MORE training between micro-batches
      IndexLifecycle.rebuildPqIndex(emb, live, m = 4, k = 8, iters = 2)
      assert(Similarity.readPqIndexParams(spark, live)
        .contains(Similarity.PqParams(4, 8, 2, 64)))
      val queries2 = queries.map { case (id, v) => (id + 1000L, v) }
      input.addData(queries2.toIndexedSeq)
      served.processAllAvailable()
    } finally served.stop()
    val out = spark.read.parquet(s"$root/out")
    assert(topkRows(out.filter(col("query_id") < 1000L)) == expectedV1,
      "pre-swap PQ stream output drifted from batch against the v1 index")
    val expectedV2 = topkRows(Similarity.pqTopKAt(spark,
      emb.filter(col("vec_id") < 5).select((col("vec_id") + 1000L).as("vec_id"), col("embedding")),
      k = 5, live))
    assert(topkRows(out.filter(col("query_id") >= 1000L)) == expectedV2,
      "post-swap PQ stream output drifted from batch against the v2 index")
  }

  test("minhash serving crosses a rebuild+swap: stream == batch on both sides") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val root = Files.createTempDirectory("graft_mh_cycle").toFile.getAbsolutePath
    val live = s"$root/mh_index"
    val docs = Tables.documents(spark, sf)
    // v1 corpus: a SUBSET — so the v2 rebuild genuinely changes answers
    val corpusV1 = docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 3 === 0)
    val corpusV2 = docs.filter(col("doc_id") % 10 =!= 0)
    IndexLifecycle.rebuildMinhashIndex(corpusV1, live)
    val batch = docs.filter(col("doc_id") % 10 === 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectV1 = pairSet(Dedup.minhashDedupNewPairsAt(spark,
      spark.createDataFrame(batch.toIndexedSeq).toDF("doc_id", "text"), corpusV1, live,
      minJaccard = 0.5))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    // serve corpus v2 text but index v1/v2 across the swap: the spec
    // streams batch 1 against v1, swaps, streams batch 2 (salted ids)
    // against v2 — same running query throughout
    val served = graft.streaming.StreamingDedup.startAt(
      input.toDF().toDF("doc_id", "text"), corpusV2, live,
      s"$root/out", s"$root/ckpt", minJaccard = 0.5)
    try {
      input.addData(batch.toIndexedSeq)
      served.processAllAvailable()
      IndexLifecycle.rebuildMinhashIndex(corpusV2, live)
      input.addData(batch.map { case (id, t) => (id + 1000000L, t) }.toIndexedSeq)
      served.processAllAvailable()
    } finally served.stop()
    val out = spark.read.parquet(s"$root/out")
    // batch 1 (pre-swap): candidates from the v1 index only. Corpus
    // TEXT was v2 throughout, but candidates gate the pairs — v1 pins
    // that pre-swap answers came from the old artifact.
    assert(pairSet(out.filter(col("id_a") < 1000000L)) == expectV1,
      "pre-swap stream drifted from batch against the v1 index")
    val expectV2 = pairSet(Dedup.minhashDedupNewPairsAt(spark,
      spark.createDataFrame(batch.map { case (id, t) => (id + 1000000L, t) }.toIndexedSeq)
        .toDF("doc_id", "text"), corpusV2, live, minJaccard = 0.5))
    assert(pairSet(out.filter(col("id_a") >= 1000000L)) == expectV2,
      "post-swap stream drifted from batch against the v2 index")
    assert(expectV2.size > expectV1.size,
      "fixture: the v2 rebuild should surface MORE corpus pairs than v1")
  }

  test("minhash serving crosses an UPSERT swap: next batch candidates against the grown index") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val root = Files.createTempDirectory("graft_mh_upsert_stream").toFile.getAbsolutePath
    val live = s"$root/mh_index"
    val docs = Tables.documents(spark, sf)
    val corpusV1 = docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 3 === 0)
    val corpusV2 = docs.filter(col("doc_id") % 10 =!= 0)
    IndexLifecycle.rebuildMinhashIndex(corpusV1, live)
    val batch = docs.filter(col("doc_id") % 10 === 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val served = graft.streaming.StreamingDedup.startAt(
      input.toDF().toDF("doc_id", "text"), corpusV2, live,
      s"$root/out", s"$root/ckpt", minJaccard = 0.5)
    try {
      input.addData(batch.toIndexedSeq)
      served.processAllAvailable()
      // UPSERT (not rebuild): fold the missing corpus rows in — same
      // swap mechanics, so the running stream must pick it up too
      Dedup.updateMinhashIndex(spark,
        corpusV2.join(corpusV1.select("doc_id"), Seq("doc_id"), "left_anti"), live)
      input.addData(batch.map { case (id, t) => (id + 1000000L, t) }.toIndexedSeq)
      served.processAllAvailable()
    } finally served.stop()
    val out = spark.read.parquet(s"$root/out")
    val expectV2 = pairSet(Dedup.minhashDedupNewPairsAt(spark,
      spark.createDataFrame(batch.map { case (id, t) => (id + 1000000L, t) }.toIndexedSeq)
        .toDF("doc_id", "text"), corpusV2, live, minJaccard = 0.5))
    assert(pairSet(out.filter(col("id_a") >= 1000000L)) == expectV2,
      "post-upsert stream drifted from batch against the upserted index")
    assert(pairSet(out.filter(col("id_a") < 1000000L)).size < expectV2.size,
      "fixture: the upsert should surface MORE corpus pairs than v1")
  }

  test("recoverSwap: completes a crash between renames; restores from bak when rebuild is lost") {
    val root = Files.createTempDirectory("graft_idx_recover").toFile.getAbsolutePath
    val fs = Fs.getFileSystem(spark.sparkContext.hadoopConfiguration, root)
    val live = s"$root/idx"
    def ids(path: String) = Similarity.readLshIndex(spark, path)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    // crash case 1: marker open, live moved aside, rebuild present
    Similarity.writeLshIndex(emb.filter(col("vec_id") < 50), live, dim = 64)
    Similarity.writeLshIndex(emb, s"${live}_rebuild", dim = 64)
    val fuse = new SafetyFuse(fs, root, "idx_swap")
    fuse.startTransaction(s"${live}_rebuild")
    require(fs.rename(new Path(live), new Path(s"${live}_swap_bak")))
    assert(IndexLifecycle.recoverSwap(spark, live), "open marker not detected")
    assert(!fuse.isInProgress() && !fs.exists(new Path(s"${live}_swap_bak")))
    assert(ids(live) == emb.select("vec_id").collect().map(_.getLong(0)).toSet,
      "recovery did not complete the promotion")
    // crash case 2: marker open, live AND rebuild gone, bak holds the old build
    require(fs.rename(new Path(live), new Path(s"${live}_swap_bak")))
    fuse.startTransaction("/nonexistent_rebuild")
    assert(IndexLifecycle.recoverSwap(spark, live))
    assert(fs.exists(new Path(live)) && !fuse.isInProgress(),
      "recovery did not restore the previous build from bak")
    // no marker -> no-op
    assert(!IndexLifecycle.recoverSwap(spark, live))
    // and swapIn refuses to run over somebody's open transaction
    fuse.startTransaction("theirs")
    val ex = intercept[IllegalArgumentException] {
      IndexLifecycle.swapIn(spark, s"${live}_rebuild", live)
    }
    assert(ex.getMessage.contains("unfinished swap"))
    fuse.endTransaction()
  }

  test("retryingDuringSwap parks a batch through the rename window, fails on real errors") {
    val root = Files.createTempDirectory("graft_idx_retry").toFile.getAbsolutePath
    val live = s"$root/idx"
    Similarity.writeLshIndex(emb.filter(col("vec_id") < 20), s"${live}_pending", dim = 64)
    // simulate a serving batch firing mid-swap: the live path appears
    // only after a few probe attempts (a concurrent thread finishing
    // swapIn's second rename)
    val fs = Fs.getFileSystem(spark.sparkContext.hadoopConfiguration, root)
    val promoter = new Thread(() => {
      Thread.sleep(300)
      require(fs.rename(new Path(s"${live}_pending"), new Path(live)))
    })
    promoter.start()
    val n = IndexLifecycle.retryingDuringSwap(attempts = 100, sleepMs = 50) {
      Similarity.readLshIndex(spark, live).count()
    }
    promoter.join()
    assert(n > 0, "batch did not see the promoted index")
    // the codec's missing-sidecar error parks too
    var calls = 0
    val v = IndexLifecycle.retryingDuringSwap(attempts = 3, sleepMs = 1) {
      calls += 1
      if (calls < 3) Similarity.LshSidecar.require(spark, s"$root/absent", "not an index")
      42
    }
    assert(v == 42 && calls == 3)
    // a genuine error is NOT swallowed
    val ex2 = intercept[IllegalArgumentException] {
      IndexLifecycle.retryingDuringSwap(attempts = 5, sleepMs = 1) {
        throw new IllegalArgumentException("real bug")
      }
    }
    assert(ex2.getMessage == "real bug")
  }

  test("a serving batch racing replace parks on the codec's missing-sidecar error, then serves the new index") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val root = Files.createTempDirectory("graft_idx_race").toFile.getAbsolutePath
    val live = s"$root/ann_index"
    // inside swapIn's rename window the live folder is gone: what a
    // serving batch reads there is the codec's own error
    val e = intercept[IndexLifecycle.MissingSidecarException] {
      Similarity.LshSidecar.require(spark, live, "not a served LSH index")
    }
    assert(e.getMessage.contains("_graft_lsh_params.json"), e.getMessage)
    // the build replace swaps in is staged up front, so the race window
    // is replace's own renames, not an index build
    val staged = s"$root/staged"
    Similarity.writeLshIndex(emb.filter(col("vec_id") < 40), staged, 64, 6, 4, 99L)
    val fs = Fs.getFileSystem(spark.sparkContext.hadoopConfiguration, root)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
    val input = MemoryStream[(Long, Array[Float])]
    val served = StreamingSimilarity.startAt(input.toDF().toDF("vec_id", "embedding"),
      live, k = 3, s"$root/out", s"$root/ckpt")
    try {
      input.addData(queries.toIndexedSeq)
      // the batch is running, parked because the index does not exist
      // yet, before the replace that creates it starts
      def running = served.status.isDataAvailable && served.status.isTriggerActive
      val deadline = System.nanoTime() + 60000000000L
      while (!running && System.nanoTime() < deadline) Thread.sleep(20)
      assert(running, "the serving batch never started")
      Thread.sleep(500)
      assert(served.isActive && served.exception.isEmpty, "the batch failed instead of parking")
      assert(!served.recentProgress.exists(_.numInputRows > 0), "the batch ran without an index")
      IndexLifecycle.replace(spark, live, Similarity.LshSidecar,
          Similarity.LshParams(64, 6, 4, 99L)) { rebuild =>
        require(fs.rename(new Path(staged), new Path(rebuild)))
      }
      served.processAllAvailable()
    } finally served.stop()
    assert(served.exception.isEmpty, served.exception)
    val expected = topkRows(Similarity.lshTopKAt(spark, emb.filter(col("vec_id") < 5),
      k = 3, live))
    assert(expected.nonEmpty)
    assert(topkRows(spark.read.parquet(s"$root/out")) == expected,
      "the parked batch did not serve the index replace swapped in")
  }

  private def sameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("pair-graph rebuild: compacted + z-ordered + swapped, artifact == direct write") {
    val docs = Tables.documents(spark, sf)
    val root = Files.createTempDirectory("graft_pg_rebuild").toFile.getAbsolutePath
    val live = s"$root/pairs"; val ref = s"$root/ref"
    // seed a v1 so the rebuild exercises the move-aside path
    Dedup.writePairGraph(docs.filter(col("doc_id") % 3 === 0), live, n = 3, minJaccard = 0.5)
    IndexLifecycle.rebuildPairGraph(docs, live)
    Dedup.writePairGraph(docs, ref, n = 3, minJaccard = 0.5)
    assert(sameRows(Dedup.readPairGraph(spark, live), Dedup.readPairGraph(spark, ref)))
    assert(Dedup.readPairGraphParams(spark, live)
      .contains(Dedup.PairGraphParams("jaccard", 3, 0.5)),
      "compaction must not eat the sidecar")
    val fs = Fs.getFileSystem(spark.sparkContext.hadoopConfiguration, live)
    assert(!fs.exists(new Path(s"${live}_rebuild")) && !fs.exists(new Path(s"${live}_swap_bak")))
    // lifecycle composes: incremental mutations apply to the rebuilt base
    Dedup.forgetDocs(spark, live, docs.filter(col("doc_id") % 11 === 7).select("doc_id"))
    assert(Dedup.readPairGraph(spark, live).count() <
      Dedup.readPairGraph(spark, ref).count())
  }

  test("pair-graph guards: containment updates under its OWN semantics; identities hold") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val root = Files.createTempDirectory("graft_pg_guard").toFile.getAbsolutePath
    val cont = s"$root/cont"; val jac = s"$root/jac"
    // the sidecar kind dispatches the incremental semantics: an update
    // against a containment artifact computes CONTAINMENT pairs — fold
    // a batch into a base containment graph and it must equal the
    // from-scratch containment rebuild
    Dedup.writeContainmentPairGraph(docs.filter(col("doc_id") % 10 =!= 0), cont,
      n = 3, minContainment = 0.6)
    Dedup.updatePairGraph(docs.filter(col("doc_id") % 10 === 0),
      docs.filter(col("doc_id") % 10 =!= 0), cont)
    def contRows(df: org.apache.spark.sql.DataFrame) = df
      .select("id_a", "id_b", "cont_a_in_b", "cont_b_in_a").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(contRows(Dedup.readPairGraph(spark, cont)) ==
      contRows(Dedup.ngramContainmentPairs(docs, 3, 0.6)),
      "containment update(base, batch) != containment rebuild")
    assert(Dedup.readPairGraphParams(spark, cont)
      .contains(Dedup.PairGraphParams("containment", 3, 0.6)))
    Dedup.writePairGraph(docs, jac, n = 3, minJaccard = 0.5)
    val before = Dedup.readPairGraph(spark, jac).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // empty ingest batch: kept == everything, fresh == nothing
    Dedup.updatePairGraph(docs.filter(lit(false)), docs, jac)
    def rows() = Dedup.readPairGraph(spark, jac).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows() == before, "empty-batch update must be an identity")
    // forgetting ids the graph never mentions changes nothing
    Dedup.forgetDocs(spark, jac, Seq(-1L, -2L).toDF("doc_id"))
    assert(rows() == before, "forgetting unknown ids must be an identity")
  }

  test("LSH index upsert + forget == full rebuild; supersede drops stale buckets") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_idx_upd").toFile.getAbsolutePath
    val live = s"$root/ann"; val ref = s"$root/ref"
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    Similarity.writeLshIndex(base, live, dim = 64, bitsPerTable = 6, tables = 8,
      seedBase = 777L)
    // the ingest batch: the held-out rows PLUS one re-ingested id with a
    // CHANGED vector — its old bucket rows must not survive
    val changedId = base.select(min("vec_id")).head.getLong(0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding"))
      .unionByName(emb.filter(col("vec_id") === changedId)
        .select(col("vec_id"),
          transform(col("embedding"), x => -x).as("embedding")))
    Similarity.updateLshIndex(spark, batch, live)
    val grown = emb.filter(col("vec_id") =!= changedId)
      .select(col("vec_id"), col("embedding")).unionByName(
        batch.filter(col("vec_id") === changedId))
    Similarity.writeLshIndex(grown, ref, dim = 64, bitsPerTable = 6, tables = 8,
      seedBase = 777L)
    assert(sameRows(Similarity.readLshIndex(spark, live),
      Similarity.readLshIndex(spark, ref)), "LSH upsert drifted from full rebuild")
    assert(Similarity.readLshIndexParams(spark, live)
      .contains(Similarity.LshParams(64, 6, 8, 777L)))
    // takedown: every row of the forgotten ids leaves the artifact
    val gone = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
    Similarity.forgetLshIndex(spark, live, gone)
    val refForget = s"$root/ref_forget"
    Similarity.writeLshIndex(grown.join(gone, Seq("vec_id"), "left_anti"), refForget,
      dim = 64, bitsPerTable = 6, tables = 8, seedBase = 777L)
    assert(sameRows(Similarity.readLshIndex(spark, live),
      Similarity.readLshIndex(spark, refForget)), "LSH forget drifted from rebuild")
    // serving works against the updated artifact (sidecar + layout intact)
    assert(Similarity.lshTopKAt(spark, emb.filter(col("vec_id") < 5), k = 3, live)
      .count() > 0)
  }

  test("IVF index upsert + forget: codebook stable, lists == reassign(grown/minus ids)") {
    val root = Files.createTempDirectory("graft_ivf_upd").toFile.getAbsolutePath
    val live = s"$root/ivf"
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    Similarity.writeIvfIndex(base, live, nCentroids = 16)
    val cbBefore = Similarity.readIvfIndex(spark, live)._1
      .select("id").collect().map(_.getLong(0)).toSet
    // batch: held-out rows + one re-ingested id with a changed vector
    val changedId = base.select(min("vec_id")).head.getLong(0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding"))
      .unionByName(emb.filter(col("vec_id") === changedId)
        .select(col("vec_id"), transform(col("embedding"), x => -x).as("embedding")))
    Similarity.updateIvfIndex(spark, batch, live)
    val (cb, lists) = Similarity.readIvfIndex(spark, live)
    // the coarse quantizer did not retrain on upsert
    assert(cb.select("id").collect().map(_.getLong(0)).toSet == cbBefore)
    val grown = emb.filter(col("vec_id") =!= changedId)
      .select(col("vec_id"), col("embedding"))
      .unionByName(batch.filter(col("vec_id") === changedId))
    assert(sameRows(lists, Similarity.ivfAssign(grown, cb)),
      "IVF upsert lists drifted from reassignment under the live codebook")
    // takedown drops list rows; codebook keeps serving
    val gone = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
    Similarity.forgetIvfIndex(spark, live, gone)
    val (cb2, lists2) = Similarity.readIvfIndex(spark, live)
    assert(cb2.select("id").collect().map(_.getLong(0)).toSet == cbBefore)
    assert(sameRows(lists2,
      Similarity.ivfAssign(grown.join(gone, Seq("vec_id"), "left_anti"), cb2)))
    val goneSet = gone.collect().map(_.getLong(0)).toSet
    assert(lists2.select("id").collect().map(_.getLong(0)).forall(!goneSet(_)))
    // serving against the maintained artifact
    assert(Similarity.ivfTopK(emb.filter(col("vec_id") < 5), emb, k = 3,
      nProbe = 4, corpusIndex = Some((cb2, lists2))).count() > 0)
  }

  test("PQ index upsert + forget: codebook state stable, codes == re-encode") {
    val root = Files.createTempDirectory("graft_pq_upd").toFile.getAbsolutePath
    val live = s"$root/pq"
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    Similarity.writePqIndex(base, live, m = 4, k = 8, iters = 2)
    val stateBefore = Similarity.readPqIndex(spark, live)._2.collect()
      .map(_.toString).sorted.toSeq
    val changedId = base.select(min("vec_id")).head.getLong(0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding"))
      .unionByName(emb.filter(col("vec_id") === changedId)
        .select(col("vec_id"), transform(col("embedding"), x => -x).as("embedding")))
    Similarity.updatePqIndex(spark, batch, live)
    val (codes, state) = Similarity.readPqIndex(spark, live)
    // the per-subspace codebooks did not retrain on upsert
    assert(state.collect().map(_.toString).sorted.toSeq == stateBefore)
    val grown = emb.filter(col("vec_id") =!= changedId)
      .select(col("vec_id"), col("embedding"))
      .unionByName(batch.filter(col("vec_id") === changedId))
    assert(sameRows(codes, Similarity.pqEncode(grown, state)),
      "PQ upsert codes drifted from re-encoding under the live codebooks")
    // dimension mismatch is refused loudly, not encoded as garbage
    intercept[IllegalArgumentException] {
      Similarity.updatePqIndex(spark,
        emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding")), live)
    }
    val gone = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
    Similarity.forgetPqIndex(spark, live, gone)
    val (codes2, state2) = Similarity.readPqIndex(spark, live)
    assert(state2.collect().map(_.toString).sorted.toSeq == stateBefore)
    assert(sameRows(codes2,
      Similarity.pqEncode(grown.join(gone, Seq("vec_id"), "left_anti"), state2)))
    // sidecar-validated serving still works on the maintained artifact
    assert(Similarity.pqTopKAt(spark, emb.filter(col("vec_id") < 5), k = 3, live)
      .count() > 0)
  }

  test("IVF-PQ index upsert + forget: both quantizers stable, codes == re-encode; sidecar serving") {
    val root = Files.createTempDirectory("graft_ivfpq_upd").toFile.getAbsolutePath
    val live = s"$root/ivfpq"
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    Similarity.writeIvfPqIndex(base, live, nLists = 16, m = 4, k = 8, iters = 2)
    val (codes0, state0, coarse0) = Similarity.readIvfPqIndex(spark, live)
    val stateBefore = state0.collect().map(_.toString).sorted.toSeq
    val coarseBefore = coarse0.select("id").collect().map(_.getLong(0)).sorted.toSeq
    // reload == recompute (build determinism through the artifact)
    assert(sameRows(codes0,
      Similarity.ivfPqCodes(base, nLists = 16, m = 4, k = 8, iters = 2)))
    // sidecar serving == explicit serving on the same pieces
    val q = emb.filter(col("vec_id") < 5)
    assert(topkRows(Similarity.ivfPqTopKAt(spark, q, k = 3, live, nProbe = 4)) ==
      topkRows(Similarity.ivfPqTopK(q, codes0, state0, coarse0, k = 3, nProbe = 4)))
    // upsert: fresh ids + one superseded id with flipped content
    val changedId = base.select(min("vec_id")).head.getLong(0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding"))
      .unionByName(emb.filter(col("vec_id") === changedId)
        .select(col("vec_id"), transform(col("embedding"), x => -x).as("embedding")))
    Similarity.updateIvfPqIndex(spark, batch, live)
    val (codes1, state1, coarse1) = Similarity.readIvfPqIndex(spark, live)
    assert(state1.collect().map(_.toString).sorted.toSeq == stateBefore,
      "PQ state must not retrain on upsert")
    assert(coarse1.select("id").collect().map(_.getLong(0)).sorted.toSeq == coarseBefore,
      "coarse quantizer must not move on upsert")
    val grown = emb.filter(col("vec_id") =!= changedId)
      .select(col("vec_id"), col("embedding"))
      .unionByName(batch.filter(col("vec_id") === changedId))
    // codes == a fresh encode of the grown corpus under the LIVE quantizers
    assert(sameRows(codes1.select("vec_id", "sub", "code"),
      Similarity.pqEncode(grown, state1)),
      "IVF-PQ upsert codes drifted from re-encoding under the live PQ state")
    // and every grown vector still carries exactly one list assignment
    assert(codes1.groupBy("vec_id")
      .agg(countDistinct(col("list_id")).as("n"))
      .filter(col("n") =!= 1).count() == 0L)
    // dimension mismatch refused loudly
    intercept[IllegalArgumentException] {
      Similarity.updateIvfPqIndex(spark,
        emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding")), live)
    }
    // forget purges every code row of the ids, quantizers carry over
    val gone = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
    Similarity.forgetIvfPqIndex(spark, live, gone)
    val (codes2, state2, _) = Similarity.readIvfPqIndex(spark, live)
    assert(state2.collect().map(_.toString).sorted.toSeq == stateBefore)
    assert(codes2.join(gone, Seq("vec_id"), "left_semi").count() == 0L)
    assert(sameRows(codes2.select("vec_id", "sub", "code"),
      Similarity.pqEncode(grown.join(gone, Seq("vec_id"), "left_anti"), state2)))
    // sidecar serving still works on the maintained artifact
    assert(Similarity.ivfPqTopKAt(spark, q, k = 3, live, nProbe = 4).count() > 0)
  }

  test("text index: serve == from-scratch both variants; upsert/forget == rebuild; supersede; stats count token-less docs; loud non-index") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val root = Files.createTempDirectory("graft_text_idx").toFile.getAbsolutePath
    val live = s"$root/ti"; val ref = s"$root/ref"
    val terms = Seq("dup", "spark", "vector", "merge")
    TextOps.writeTextIndex(docs, live)
    assert(sameRows(TextOps.bm25ServeIndexed(spark, live, terms, k = 20),
      TextOps.bm25TopK(docs, terms, k = 20)), "raw serving drifted from scratch")
    assert(sameRows(
      TextOps.bm25ServeIndexed(spark, live, terms, k = 20, normalized = true),
      TextOps.bm25TopKNormalized(docs, terms, k = 20)),
      "normalized serving drifted from scratch")
    // upsert == rebuild(grown); supersede: re-ingested ids carry CHANGED
    // text, their stale postings must go
    val changed = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", concat(col("text"), lit(" spark spark")))
    TextOps.updateTextIndex(spark, changed, live)
    val grown = docs.filter(col("doc_id") % 10 =!= 0).unionByName(changed)
    TextOps.writeTextIndex(grown, ref)
    assert(sameRows(spark.read.parquet(s"$live/postings"),
      spark.read.parquet(s"$ref/postings")), "upsert postings != rebuild")
    assert(sameRows(spark.read.parquet(s"$live/stats"),
      spark.read.parquet(s"$ref/stats")), "upsert stats != rebuild")
    assert(sameRows(TextOps.bm25ServeIndexed(spark, live, terms, k = 20),
      TextOps.bm25TopK(grown, terms, k = 20)), "serving missed the supersede")
    // forget == rebuild(minus ids)
    val gone = docs.filter(col("doc_id") % 11 === 7).select("doc_id")
    TextOps.forgetTextIndex(spark, live, gone)
    val refForget = s"$root/ref_forget"
    TextOps.writeTextIndex(grown.join(gone, Seq("doc_id"), "left_anti"), refForget)
    assert(sameRows(spark.read.parquet(s"$live/postings"),
      spark.read.parquet(s"$refForget/postings")), "forget postings != rebuild")
    assert(sameRows(spark.read.parquet(s"$live/stats"),
      spark.read.parquet(s"$refForget/stats")), "forget stats != rebuild")
    // corpus stats come from the doc-grain table: a token-less doc has
    // no postings row but still counts in n_docs
    val tiny = Seq((1L, "alpha beta"), (2L, "")).toDF("doc_id", "text")
    val tinyPath = s"$root/tiny"
    TextOps.writeTextIndex(tiny, tinyPath)
    val st = spark.read.parquet(s"$tinyPath/stats").head()
    assert(st.getLong(0) == 2L && st.getLong(1) == 2L,
      s"token-less doc dropped from stats: $st")
    // a directory without the sidecar is refused loudly
    val e = intercept[IllegalArgumentException] {
      TextOps.bm25ServeIndexed(spark, s"$root/nope", terms)
    }
    assert(e.getMessage.contains("sidecar"), e.getMessage)
    // the 100 TB contract: the term predicate reaches the postings
    // parquet scan (token-sorted files + pushed In() = a file-slice
    // read, never a full postings scan)
    val plan = TextOps.bm25ServeIndexed(spark, live, terms, k = 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(token"),
      s"term filter not pushed to the postings scan:\n$plan")
  }

  test("tfidf index: serve == from-scratch; upsert/forget == rebuild; supersede; norms ride postings; loud non-index") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val root = Files.createTempDirectory("graft_tfidf_idx").toFile.getAbsolutePath
    val live = s"$root/tfi"; val ref = s"$root/ref"
    val terms = Seq("dup", "spark", "vector", "merge")
    TextOps.writeTfidfIndex(docs, live)
    assert(TextOps.isTfidfIndex(spark, live))
    assert(TextOps.readTfidfIndexParams(spark, live)
      .contains(TextOps.TfidfParams(100L, 100000L)))
    assert(sameRows(TextOps.tfidfCosineTopKAt(spark, live, terms, k = 20),
      TextOps.tfidfCosineTopK(docs, terms, k = 20)),
      "indexed serving drifted from the from-scratch pass")
    // the batch half (t65b): keyword extraction off the same artifact
    // equals the from-scratch operator — tf saturation, df/idf caps,
    // and the (w desc, token) tie rule all survive the grain
    assert(sameRows(TextOps.docKeywordsAt(spark, live, k = 3),
      TextOps.docKeywords(docs, k = 3)),
      "indexed keyword extraction drifted from the from-scratch pass")
    // upsert == rebuild(grown); supersede: re-ingested ids carry
    // CHANGED text — their stale postings must go, and the df/idf/norm
    // recompute must ripple to every doc sharing their tokens
    val changed = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", concat(col("text"), lit(" spark spark")))
    TextOps.updateTfidfIndex(spark, changed, live)
    val grown = docs.filter(col("doc_id") % 10 =!= 0).unionByName(changed)
    TextOps.writeTfidfIndex(grown, ref)
    assert(sameRows(spark.read.parquet(s"$live/postings"),
      spark.read.parquet(s"$ref/postings")), "upsert postings != rebuild")
    assert(sameRows(spark.read.parquet(s"$live/stats"),
      spark.read.parquet(s"$ref/stats")), "upsert stats != rebuild")
    assert(sameRows(TextOps.tfidfCosineTopKAt(spark, live, terms, k = 20),
      TextOps.tfidfCosineTopK(grown, terms, k = 20)),
      "serving missed the supersede")
    // forget == rebuild(minus ids)
    val gone = docs.filter(col("doc_id") % 11 === 7).select("doc_id")
    TextOps.forgetTfidfIndex(spark, live, gone)
    val refForget = s"$root/ref_forget"
    TextOps.writeTfidfIndex(grown.join(gone, Seq("doc_id"), "left_anti"), refForget)
    assert(sameRows(spark.read.parquet(s"$live/postings"),
      spark.read.parquet(s"$refForget/postings")), "forget postings != rebuild")
    assert(sameRows(TextOps.tfidfCosineTopKAt(spark, live, terms, k = 20),
      TextOps.tfidfCosineTopK(grown.join(gone, Seq("doc_id"), "left_anti"),
        terms, k = 20)), "serving missed the forget")
    // n_docs comes from the doc-grain table: a token-less doc has no
    // postings row but still counts (it moves every idf)
    val tiny = Seq((1L, "alpha beta"), (2L, "")).toDF("doc_id", "text")
    val tinyPath = s"$root/tiny"
    TextOps.writeTfidfIndex(tiny, tinyPath)
    assert(spark.read.parquet(s"$tinyPath/stats").head().getLong(0) == 2L)
    // with n=2, df(alpha)=1 → idf = (1000·3) div 2 = 1500; tfs=1 →
    // w=1500 per token, d2 = 2·1500² — the norm RIDES each posting row
    val tinyP = spark.read.parquet(s"$tinyPath/postings")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(tinyP.toSet == Set(("alpha", 1L, 1L, 4500000L), ("beta", 1L, 1L, 4500000L)),
      tinyP.mkString(", "))
    // a directory without the sidecar is refused loudly
    val e = intercept[IllegalArgumentException] {
      TextOps.tfidfCosineTopKAt(spark, s"$root/nope", terms)
    }
    assert(e.getMessage.contains("sidecar"), e.getMessage)
    // the 100 TB contract: the term predicate reaches the postings
    // parquet scan — a query reads its terms' file slice, never the
    // corpus (the norms ride the slice, so there is no doc-cardinality
    // join either: exactly one parquet scan of postings in the plan)
    val plan = TextOps.tfidfCosineTopKAt(spark, live, terms, k = 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(token"),
      s"term filter not pushed to the postings scan:\n$plan")
  }

  test("minhash index upsert + forget == full rebuild") {
    val docs = Tables.documents(spark, sf)
    val root = Files.createTempDirectory("graft_mh_upd").toFile.getAbsolutePath
    val live = s"$root/mh"; val ref = s"$root/ref"
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    Dedup.writeMinhashIndex(base, live, n = 3, k = 32, bands = 16)
    Dedup.updateMinhashIndex(spark, batch, live)
    Dedup.writeMinhashIndex(docs, ref, n = 3, k = 32, bands = 16)
    assert(sameRows(Dedup.readMinhashIndex(spark, live),
      Dedup.readMinhashIndex(spark, ref)), "minhash upsert drifted from full rebuild")
    assert(Dedup.readMinhashIndexParams(spark, live)
      .contains(Dedup.MinhashParams(3, 32, 16)))
    val gone = docs.filter(col("doc_id") % 11 === 7).select("doc_id")
    Dedup.forgetMinhashIndex(spark, live, gone)
    val refForget = s"$root/ref_forget"
    Dedup.writeMinhashIndex(docs.join(gone, Seq("doc_id"), "left_anti"), refForget,
      n = 3, k = 32, bands = 16)
    assert(sameRows(Dedup.readMinhashIndex(spark, live),
      Dedup.readMinhashIndex(spark, refForget)), "minhash forget drifted from rebuild")
    // the ingest probe still runs against the maintained artifact
    assert(Dedup.minhashDedupNewPairsAt(spark,
      docs.filter(col("doc_id") % 13 === 0), docs, live, minJaccard = 0.5)
      .columns.sameElements(Array("id_a", "id_b", "jaccard")))
  }
}
