package graft.compact

import java.nio.file.{Files, Paths => JPaths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.fs.FlakyFileSystem

class CompactorSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.hadoopConfiguration.set(s"fs.${FlakyFileSystem.Scheme}.impl",
      classOf[FlakyFileSystem].getName)
    s
  }

  private def local(uri: String) = JPaths.get(new Path(uri).toUri.getPath)

  /** Visible data file name → bytes, directly in `dir`. */
  private def dataFiles(dir: String): Map[String, Seq[Byte]] =
    Files.list(local(dir)).iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.matches("^[._].*"))
      .map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq).toMap

  /** Per `part` value: row count and an order-insensitive row hash. */
  private def leafHashes(table: String): Map[String, (Long, BigDecimal)] =
    spark.read.parquet(table).groupBy("part")
      .agg(count(lit(1)), sum(xxhash64(col("id"), col("payload")).cast("decimal(38,0)")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap

  /** 20 leaves `part=p00..p19` of 4 files each under a new `file:` root.
    * At a 1 MB target p00..p17 compact to 1 file, p18 (4 × ~400 KB) to 2,
    * and p19 (4 × ~1.2 MB) is already compact.
    */
  private def twentyLeaves(prefix: String): String = {
    val dir = "file:" + Files.createTempDirectory(prefix).toFile.getAbsolutePath + "/t"
    def rows(p: Int) = if (p == 19) 72000 else if (p == 18) 24000 else 200
    (0 until 20).map { p =>
      val part = f"p$p%02d"
      spark.range(0, rows(p), 1, 4)
        .select(col("id"), sha2(concat(lit(part), col("id").cast("string")), 256).as("payload"), lit(part).as("part"))
    }.reduce(_ union _).write.partitionBy("part").parquet(dir)
    dir
  }

  test("figureOutNumberOfPartitions heuristic") {
    // median >= target → skip
    assert(Compactor.figureOutNumberOfPartitions(Seq(200L << 20, 150L << 20), 100) == -1)
    // single file → skip
    assert(Compactor.figureOutNumberOfPartitions(Seq(1L), 100) == -1)
    // 64 x 1MB files at 100MB target → 1 output file
    assert(Compactor.figureOutNumberOfPartitions(Seq.fill(64)(1L << 20), 100) == 1)
    // 300MB total in 30 files → 3 outputs
    assert(Compactor.figureOutNumberOfPartitions(Seq.fill(30)(10L << 20), 100) == 3)
  }

  test("doAutoCoalesce compacts many small files preserving data") {
    val dir = "file:" + Files.createTempDirectory("compact").toFile.getAbsolutePath + "/t"
    val li = spark.read.parquet(s"${SparkTestSession.sf}/lineitem.parquet")
    li.repartition(16).write.parquet(dir)
    // decimal sum: exact + associative, immune to partition-order fp drift
    def snapshot() = spark.read.parquet(dir)
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")), count(lit(1))).head
    val before = snapshot()
    val n = Compactor.doAutoCoalesce(dir, requestedSizeMb = 100)
    assert(n == 1, s"expected 1 output file, got $n")
    val filesAfter = new java.io.File(dir.stripPrefix("file:")).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(filesAfter == 1)
    assert(snapshot() == before)
  }

  test("distributed leaf listing equals the driver listing") {
    val dir = "file:" + Files.createTempDirectory("compact_leaves").toFile.getAbsolutePath + "/t"
    val li = spark.read.parquet(s"${SparkTestSession.sf}/lineitem.parquet")
      .withColumn("y", date_format(col("l_shipdate"), "yyyy"))
      .withColumn("rf", col("l_returnflag"))
    li.limit(2000).write.partitionBy("y", "rf").parquet(dir)
    val driver = Compactor.getLowestFoldersPaths(dir).toSet
    val dist = Compactor.getLowestFoldersPaths(dir, distributedListing = true).toSet
    assert(driver.nonEmpty)
    assert(dist == driver, s"only-driver=${(driver -- dist).take(3)} only-dist=${(dist -- driver).take(3)}")
  }

  test("doItAll compacts each leaf partition dir") {
    val dir = "file:" + Files.createTempDirectory("compact_all").toFile.getAbsolutePath + "/t"
    val li = spark.read.parquet(s"${SparkTestSession.sf}/lineitem.parquet")
      .withColumn("m", date_format(col("l_shipdate"), "yyyy"))
    li.repartition(8).write.partitionBy("m").parquet(dir)
    val before = spark.read.parquet(dir).count()
    val results = Compactor.doItAll(dir, requestedSizeMb = 100)
    assert(results.nonEmpty && results.values.forall(v => v == 1 || v == -1))
    assert(spark.read.parquet(dir).count() == before)
  }

  test("doItAll rewrites 20 leaves in at most 2 jobs, keeping every leaf's rows") {
    val dir = twentyLeaves("compact_one_job")
    val leaves = Compactor.getLowestFoldersPaths(dir)
    assert(leaves.size == 20 && leaves.forall(l => dataFiles(l).size == 4), "fixture: 20 leaves of 4 files")
    val skipped = leaves.find(_.endsWith("part=p19")).get
    val skippedFiles = dataFiles(skipped)
    val hashes = leafHashes(dir)
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val res =
      try {
        val r = Compactor.doItAll(dir, requestedSizeMb = 1)
        org.apache.spark.GraftTestBridge.waitForListeners(spark.sparkContext)
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() <= 2, s"doItAll ran ${jobs.get()} jobs")
    assert(res.keySet == leaves.toSet)
    assert(res(skipped) == -1 && res(leaves.find(_.endsWith("part=p18")).get) == 2 &&
      res.values.count(_ == 1) == 18, s"plan: $res")
    // rows never move between leaves, and none are lost or doubled
    assert(leafHashes(dir) == hashes)
    res.foreach { case (l, n) =>
      val files = dataFiles(l).size
      assert(files >= 1 && files <= (if (n < 0) 4 else n), s"$l holds $files files for n = $n")
    }
    assert(dataFiles(skipped) == skippedFiles, "a skipped leaf must keep its files and bytes")
  }

  test("swap folders stay invisible: hidden folders are neither read nor picked as leaves") {
    val dir = twentyLeaves("compact_hidden")
    val parts = spark.read.parquet(dir).select("part").distinct().collect().map(_.getString(0)).toSet
    val rows = spark.read.parquet(dir).count()
    // a `.`-prefixed aside left by a crash, and a `_temporary` tree
    for (hidden <- Seq(".part=p05_graft_aside", "_temporary/0/part=p05")) {
      val d = local(s"$dir/$hidden")
      Files.createDirectories(d)
      dataFiles(s"$dir/part=p05").foreach { case (n, b) => Files.write(d.resolve(n), b.toArray) }
    }
    val leaves = Compactor.getLowestFoldersPaths(dir)
    assert(leaves.size == 20 && !leaves.exists(_.contains("_graft_aside")) &&
      !leaves.exists(_.contains("_temporary")), s"hidden folders picked as leaves: $leaves")
    assert(Compactor.getLowestFoldersPaths(dir, distributedListing = true).toSet == leaves.toSet)
    assert(spark.read.parquet(dir).count() == rows)
    Compactor.doItAll(dir, requestedSizeMb = 1)
    assert(spark.read.parquet(dir).select("part").distinct().collect().map(_.getString(0)).toSet == parts)
    assert(spark.read.parquet(dir).count() == rows)
    val parent = local(dir).getParent
    assert(Files.list(parent).iterator().asScala.map(_.getFileName.toString).toSet == Set("t"),
      "the temp root must be gone")
  }

  test("leaves with different columns each keep their own schema") {
    import spark.implicits._
    val dir = "file:" + Files.createTempDirectory("compact_schemas").toFile.getAbsolutePath + "/t"
    val a = (0 until 30).map(i => (i.toLong, i * 2)).toDF("id", "a").repartition(3)
    val b = (0 until 30).map(i => (i.toLong, s"s$i")).toDF("id", "b").repartition(3)
    a.write.parquet(s"$dir/part=a")
    b.write.parquet(s"$dir/part=b b") // Spark leaves a space unescaped in a partition folder name
    a.write.parquet(s"$dir/part=c%3Ac") // an escaped ':'; its path URI encodes the '%' 
    def snapshot(leaf: String): (String, Seq[String]) = {
      val df = spark.read.parquet(leaf)
      (df.schema.toDDL, df.collect().map(_.toString).sorted.toSeq)
    }
    val leaves = Compactor.getLowestFoldersPaths(dir)
    val before = leaves.map(l => l -> snapshot(l)).toMap
    val res = Compactor.doItAll(dir, requestedSizeMb = 100)
    assert(res.values.toSet == Set(1), s"plan: $res")
    leaves.foreach(l => assert(snapshot(l) == before(l), s"$l changed"))
    assert(before(leaves.find(_.endsWith("b b")).get)._1.contains("b STRING"))
  }

  test("a leaf whose files hold no rows is left as it is") {
    import spark.implicits._
    val dir = "file:" + Files.createTempDirectory("compact_empty").toFile.getAbsolutePath + "/t"
    val empty = Seq.empty[(Long, String)].toDF("id", "payload")
    empty.write.mode("append").parquet(s"$dir/part=e") // each empty append leaves one file
    empty.write.mode("append").parquet(s"$dir/part=e")
    Seq((1L, "x"), (2L, "y")).toDF("id", "payload").repartition(2).write.parquet(s"$dir/part=f")
    val before = dataFiles(s"$dir/part=e")
    assert(before.size == 2, "fixture: two empty files")
    val res = Compactor.doItAll(dir)
    assert(res == Map(s"$dir/part=e" -> -1, s"$dir/part=f" -> 1), s"plan: $res")
    assert(dataFiles(s"$dir/part=e") == before)
    assert(leafHashes(dir).keySet == Set("f") && spark.read.parquet(dir).count() == 2)
  }

  test("a failed promotion throws naming the leaf and keeps its original files") {
    val dir = twentyLeaves("compact_fault")
    val flaky = FlakyFileSystem.flaky(dir)
    val hashes = leafHashes(dir)
    val victim = s"$dir/part=p03"
    val originals = dataFiles(victim)
    FlakyFileSystem.reset(0)
    FlakyFileSystem.failRenamesOnto(_.endsWith("/part=p03"))
    val e =
      try intercept[IllegalStateException](Compactor.doItAll(flaky, requestedSizeMb = 1))
      finally FlakyFileSystem.reset(0)
    assert(e.getMessage.contains("part=p03"), e.getMessage)
    // every original file of the victim is still on disk, live or aside
    val onDisk = Files.walk(local(dir).getParent).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq).toSet
    originals.foreach(o => assert(onDisk.contains(o), s"${o._1} of part=p03 is gone"))
    // every other leaf still holds its rows, compacted or not
    assert(leafHashes(dir) - "p03" == hashes - "p03")
    // the next run, with healthy renames, moves the orphaned aside back
    // before it plans: part=p03 returns with its rows, and no aside is left
    assert(!Files.exists(local(victim)), "fixture: part=p03 sits only aside")
    Compactor.doItAll(dir, requestedSizeMb = 1)
    assert(leafHashes(dir) == hashes)
    assert(!Files.list(local(dir)).iterator().asScala.exists(_.getFileName.toString.endsWith("_graft_aside")))
  }

  test("an aside folder with no live leaf is moved back before planning") {
    import spark.implicits._
    val dir = "file:" + Files.createTempDirectory("compact_aside").toFile.getAbsolutePath + "/t"
    (0 until 40).map(i => (i.toLong, s"r$i", s"p${i % 2}")).toDF("id", "payload", "part")
      .repartition(4).write.partitionBy("part").parquet(dir)
    def rows() = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    def asides() = Files.list(local(dir)).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith("_graft_aside")).toSeq
    val before = rows()
    // doItAll over the distributed listing: leaf part=p1 sits only aside
    Files.move(local(s"$dir/part=p1"), local(s"$dir/.part=p1_graft_aside"))
    val res = Compactor.doItAll(dir, requestedSizeMb = 1, distributedListing = true)
    assert(res.keySet.map(new Path(_).getName) == Set("part=p0", "part=p1"), s"plan: $res")
    assert(rows() == before && asides().isEmpty)
    // doAutoCoalesce on a folder that sits only aside
    Files.move(local(s"$dir/part=p0"), local(s"$dir/.part=p0_graft_aside"))
    Compactor.doAutoCoalesce(s"$dir/part=p0", requestedSizeMb = 1)
    assert(rows() == before && asides().isEmpty)
    // doItAll on a table root that sits only aside
    val table = local(dir)
    Files.move(table, table.resolveSibling(".t_graft_aside"))
    Compactor.doItAll(dir, requestedSizeMb = 1)
    assert(rows() == before && asides().isEmpty)
    assert(Files.list(table.getParent).iterator().asScala.map(_.getFileName.toString).toSet == Set("t"))
  }

  test("a folder compacts the same spelled /abs, file:/abs and file:///abs") {
    // `_metadata.file_path` spells the folder `file:/abs/…` whatever
    // spelling the caller used; each spelling must find its leaf
    val results = Seq("", "file:", "file://").map { scheme =>
      val abs = Files.createTempDirectory("compact_spelling").toFile.getAbsolutePath + "/t"
      spark.range(0, 400, 1, 8)
        .select(col("id"), (col("id") * 7).cast("string").as("payload"))
        .write.parquet(abs)
      assert(dataFiles(abs).size == 8, s"fixture: $abs")
      Compactor.doAutoCoalesce(scheme + abs)
      val rows = spark.read.parquet(abs)
        .agg(count(lit(1)), sum(xxhash64(col("id"), col("payload")).cast("decimal(38,0)")))
        .head()
      (scheme, dataFiles(abs).size, rows.getLong(0), BigDecimal(rows.getDecimal(1)))
    }
    assert(results.map(_._2).toSet == Set(1), results)
    assert(results.map(r => (r._3, r._4)).distinct.size == 1 && results.head._3 == 400L, results)
  }
}
