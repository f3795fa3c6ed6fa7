package graft.ext

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.compact.Compactor
import graft.ext.IndexLifecycle.Sidecar
import graft.ops.{Approx, RankIndex}

/** The artifact protocol of the persisted index families: one params
  * codec over all twelve sidecar kinds, and [[IndexLifecycle.replace]].
  * The JSON strings below are the exact bytes earlier graft builds
  * wrote, so artifacts stay readable in both directions.
  */
class SidecarSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  case class Kind[P](sidecar: Sidecar[P], params: P, json: String)

  private val kinds: Seq[Kind[_]] = Seq(
    Kind(Similarity.LshSidecar, Similarity.LshParams(64, 12, 4, 1000L),
      """{"dim":64,"bitsPerTable":12,"tables":4,"seedBase":1000}"""),
    Kind(Dedup.MinhashSidecar, Dedup.MinhashParams(3, 32, 16),
      """{"n":3,"k":32,"bands":16}"""),
    Kind(Dedup.PairGraphSidecar, Dedup.PairGraphParams("containment", 5, 0.6),
      """{"kind":"containment","n":5,"threshold":0.6}"""),
    Kind(Dedup.ChunkIndexSidecar, Dedup.ChunkIndexParams(6), """{"maskBits":6}"""),
    Kind(Fuzzy.FuzzySidecar, Fuzzy.FuzzyIndexParams(2, 1), """{"q":2,"maxDist":1}"""),
    Kind(Similarity.PqSidecar, Similarity.PqParams(4, 8, 2, 16),
      """{"m":4,"k":8,"iters":2,"dim":16}"""),
    Kind(Similarity.IvfPqSidecar, Similarity.IvfPqParams(16, 4, 8, 2, 16),
      """{"nLists":16,"m":4,"k":8,"iters":2,"dim":16}"""),
    Kind(TextOps.TokenizerSidecar, TextOps.TokenizerParams(8, lowercase = true),
      """{"k":8,"lowercase":true}"""),
    Kind(TextOps.TextIndexSidecar, TextOps.TextIndexParams(1, "ws"),
      """{"v":1,"tokenizer":"ws"}"""),
    Kind(TextOps.TfidfSidecar, TextOps.TfidfParams(100L, 100000L),
      """{"v":1,"tfCap":100,"idfCap":100000,"tokenizer":"ws"}"""),
    Kind(Approx.KmvSidecar, Approx.KmvParams(64), """{"k":64}"""),
    Kind(RankIndex.RankSidecar, RankIndex.RankParams(3), """{"itersTotal":3}"""))

  private def tmp(name: String) = Files.createTempDirectory(name).toFile.getAbsolutePath

  test("each of the twelve sidecar kinds reads the stored bytes back and writes the same bytes") {
    assert(kinds.map(_.sidecar.file).distinct.size == 12)
    def roundTrip[P](k: Kind[P]): Unit = {
      assert(k.sidecar.file.matches("_graft_[a-z_]+_params\\.json"), k.sidecar.file)
      val stored = tmp("sidecar_stored")
      Files.write(Paths.get(stored, k.sidecar.file), k.json.getBytes(UTF_8))
      assert(k.sidecar.read(spark, stored).contains(k.params), k.json)
      val written = tmp("sidecar_written")
      k.sidecar.write(spark, written, k.params)
      val bytes = new String(Files.readAllBytes(Paths.get(written, k.sidecar.file)), UTF_8)
      assert(bytes == k.json, k.sidecar.file)
    }
    kinds.foreach(roundTrip(_))
  }

  test("a folder with no sidecar is refused with an error naming the sidecar") {
    val empty = tmp("sidecar_none")
    kinds.foreach { k =>
      assert(k.sidecar.read(spark, empty).isEmpty && !k.sidecar.exists(spark, empty))
      val e = intercept[IllegalArgumentException](k.sidecar.require(spark, empty, "why"))
      assert(e.getMessage.contains("sidecar") && e.getMessage.contains(k.sidecar.file),
        e.getMessage)
    }
    // a sidecar missing a field is an error, not a parameter read as 0
    val partial = tmp("sidecar_partial")
    Files.write(Paths.get(partial, Dedup.MinhashSidecar.file), """{"n":3,"k":32}""".getBytes(UTF_8))
    intercept[com.fasterxml.jackson.databind.JsonMappingException] {
      Dedup.MinhashSidecar.read(spark, partial)
    }
  }

  test("replace: a build that compacts its rebuild folder still swaps in with its sidecar") {
    implicit val s = spark
    val live = s"file:${tmp("sidecar_replace")}/index"
    val params = Dedup.ChunkIndexParams(5)
    val fs = graft.fs.Fs.getFileSystem(spark.sparkContext.hadoopConfiguration, live)
    IndexLifecycle.replace(spark, live, Dedup.ChunkIndexSidecar, params) { rebuild =>
      spark.range(400).repartition(8).write.parquet(rebuild)
      // a family writer records its sidecar with the data …
      Dedup.ChunkIndexSidecar.write(spark, rebuild, params)
      // … and compaction rewrites the folder without it
      assert(Compactor.doAutoCoalesce(rebuild) == 1)
      assert(!Dedup.ChunkIndexSidecar.exists(spark, rebuild), "fixture: compaction kept the sidecar")
    }
    assert(Dedup.ChunkIndexSidecar.read(spark, live).contains(params))
    assert(spark.read.parquet(live).count() == 400)
    assert(!fs.exists(new Path(s"${live}_rebuild")) && !fs.exists(new Path(s"${live}_swap_bak")))
  }
}
