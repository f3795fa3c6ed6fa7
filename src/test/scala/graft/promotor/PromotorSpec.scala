package graft.promotor

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.SparkTestSession.withJobCount
import graft.meta.{Meta, TableMetadataValidator}

/** Promotion tests modeled on the reference's end-to-end Hive-table
  * pattern (reference src/test/scala/TestPartitionCopyOverwrite.scala,
  * TestTableContentMove.scala) but on deterministic /root/testdata
  * fixtures: SALES_FCT (values ×2) vs SALES_SFCT (original), partition
  * col l_ship_month, relational oracle = counts/sums before vs after.
  */
class PromotorSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  val db = "graft_promo"

  lazy val base: String = {
    val root = "file:" + Files.createTempDirectory("promo_wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val li = spark.read.parquet(s"${SparkTestSession.sf}/lineitem.parquet")
      .withColumn("l_ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
      .where("l_ship_month >= '2001-01'") // keep the fixture small
    // source: perturbed values (quantity x2) so promotion is detectable
    li.withColumn("l_quantity", col("l_quantity") * 2)
      .write.partitionBy("l_ship_month")
      .option("path", s"$root/sales_fct").saveAsTable(s"$db.sales_fct")
    // target: original values
    li.write.partitionBy("l_ship_month")
      .option("path", s"$root/sales_sfct").saveAsTable(s"$db.sales_sfct")
    // unpartitioned pair for whole-table ops
    li.drop("l_ship_month").write
      .option("path", s"$root/sales_np_src").saveAsTable(s"$db.sales_np_src")
    li.drop("l_ship_month").withColumn("l_quantity", lit(0.0))
      .write.option("path", s"$root/sales_np_trg").saveAsTable(s"$db.sales_np_trg")
    root
  }

  def qty(table: String): Double =
    spark.table(s"$db.$table").agg(sum("l_quantity")).head.getDouble(0)

  def qtyFor(table: String, month: String): Double =
    spark.table(s"$db.$table").where(s"l_ship_month = '$month'")
      .agg(sum("l_quantity")).head.getDouble(0)

  test("copyOverwritePartitions promotes only the matching partition") {
    val _ = base
    val m = "2001-06"
    val beforeOther = qtyFor("sales_sfct", "2001-07")
    assert(qtyFor("sales_fct", m) == 2 * qtyFor("sales_sfct", m))
    val res = Promotor.copyOverwritePartitions(db, "sales_fct", db, "sales_sfct", Seq(m))
    assert(res.nonEmpty && res.forall(_.success))
    assert(qtyFor("sales_sfct", m) == qtyFor("sales_fct", m)) // promoted
    assert(qtyFor("sales_sfct", "2001-07") == beforeOther)    // untouched
  }

  test("copyOverwritePartitions refreshes the target catalog once") {
    val _ = base
    val root = "file:" + Files.createTempDirectory("promo_wide").toFile.getAbsolutePath
    // more than 10 partition folders: each recoverPartitions is then one
    // Spark job (spark.rdd.parallelListingThreshold)
    val rows = spark.range(240).select(col("id"), (col("id") % 12).as("p"))
    rows.withColumn("v", col("id") * 2).write.partitionBy("p")
      .option("path", s"$root/src").saveAsTable(s"$db.wide_src")
    rows.withColumn("v", col("id")).write.partitionBy("p")
      .option("path", s"$root/trg").saveAsTable(s"$db.wide_trg")
    assert(Meta.getTableL1PartitionsPaths(db, "wide_trg").length > 10, "fixture: more than 10 partitions")
    def vSum(table: String, p: Int): Long =
      spark.table(s"$db.$table").where(s"p = $p").agg(sum("v")).head.getLong(0)
    val other = vSum("wide_trg", 4)
    val (res, jobs) = withJobCount(
      Promotor.copyOverwritePartitions(db, "wide_src", db, "wide_trg", Seq("p=3")))
    // one copy attempt + one recoverPartitions
    assert(jobs == 2, s"copyOverwritePartitions ran $jobs jobs")
    assert(res.nonEmpty && res.forall(_.success))
    assert(vSum("wide_trg", 3) == vSum("wide_src", 3))
    assert(vSum("wide_trg", 4) == other)
  }

  test("deleteTablePartitions removes matching partitions only") {
    val _ = base
    val before = spark.table(s"$db.sales_sfct").count()
    val monthCnt = spark.table(s"$db.sales_sfct").where("l_ship_month = '2001-02'").count()
    assert(monthCnt > 0)
    Promotor.deleteTablePartitions(db, "sales_sfct", Seq("2001-02"))
    assert(spark.table(s"$db.sales_sfct").count() == before - monthCnt)
  }

  test("copyOverwriteTable replaces whole unpartitioned table content") {
    val _ = base
    assert(qty("sales_np_trg") == 0.0)
    val res = Promotor.copyOverwriteTable(db, "sales_np_src", db, "sales_np_trg")
    assert(res.forall(_.success))
    assert(qty("sales_np_trg") == qty("sales_np_src"))
  }

  test("copyOverwriteTable refuses a source file outside the source folder before deleting anything") {
    val _ = base
    val root = Files.createTempDirectory("promo_outside").toFile.getAbsolutePath
    val rows = spark.range(40).select(col("id"), (col("id") % 2).as("p"))
    rows.write.partitionBy("p").option("path", s"file:$root/src").saveAsTable(s"$db.outside_src")
    rows.write.partitionBy("p").option("path", s"file:$root/trg").saveAsTable(s"$db.outside_trg")
    // a partition with its own LOCATION, outside the source table's folder
    spark.range(40, 50).write.parquet(s"file:$root/elsewhere/p=7")
    spark.sql(s"ALTER TABLE $db.outside_src ADD PARTITION (p=7) LOCATION 'file:$root/elsewhere/p=7'")
    def targetFiles(): Set[(String, Long)] = {
      val trg = java.nio.file.Paths.get(s"$root/trg")
      val walk = Files.walk(trg)
      try walk.filter(Files.isRegularFile(_)).toArray.toSet
        .map((f: AnyRef) => f.asInstanceOf[java.nio.file.Path])
        .map(f => trg.relativize(f).toString -> Files.size(f))
      finally walk.close()
    }
    val before = targetFiles()
    assert(before.exists(_._1.endsWith(".parquet")), "fixture: the target holds data")
    val e = intercept[IllegalArgumentException] {
      Promotor.copyOverwriteTable(db, "outside_src", db, "outside_trg")
    }
    assert(e.getMessage.contains(s"$root/elsewhere/p=7/part-"), e.getMessage)
    assert(targetFiles() == before, "the target's files changed")
  }

  test("moveTablePartitions moves partition dirs metadata-only") {
    val _ = base
    val m = "2001-03"
    val srcBefore = qtyFor("sales_fct", m)
    Promotor.moveTablePartitions(db, "sales_fct", db, "sales_sfct", Seq(m))
    assert(qtyFor("sales_sfct", m) == srcBefore)
    assert(spark.table(s"$db.sales_fct").where(s"l_ship_month = '$m'").count() == 0)
  }

  test("moveFolders resume path: leftover target cleared, finished rename honored (ADVICE r1 medium)") {
    implicit val conf = spark.sessionState.newHadoopConf()
    val root = graft.fs.TestTree.newRoot("mvres")
    val fs = graft.fs.Fs.getFileSystem(conf, root)
    import org.apache.hadoop.fs.Path
    def touch(p: String): Unit = graft.fs.TestTree.touch(fs, p)
    // crashed mid-transaction: p1 not yet moved but its pre-existing target
    // survives (delete phase was interrupted); p2's rename already finished
    touch(s"$root/src/p1/data.txt")
    touch(s"$root/trg/p1/old.txt")
    touch(s"$root/trg/p2/moved.txt")
    new graft.fs.SafetyFuse(fs, s"$root/trg").startTransaction()
    val pairs = Seq(
      graft.fs.Paths(s"$root/src/p1", s"$root/trg/p1"),
      graft.fs.Paths(s"$root/src/p2", s"$root/trg/p2"))
    val res = Promotor.moveFolders(pairs)
    assert(res.forall(_.success))
    // p1 landed flat — the crashed-run leftover must not nest it (trg/p1/p1)
    assert(fs.exists(new Path(s"$root/trg/p1/data.txt")))
    assert(!fs.exists(new Path(s"$root/trg/p1/p1")))
    assert(!fs.exists(new Path(s"$root/trg/p1/old.txt")))
    // p2's completed rename is reported done and left untouched
    assert(fs.exists(new Path(s"$root/trg/p2/moved.txt")))
    assert(!new graft.fs.SafetyFuse(fs, s"$root/trg").isInProgress())
  }

  test("moveFolders partial failure leaves the fuse open; retry resumes completed pairs (ADVICE r2)") {
    implicit val conf = spark.sessionState.newHadoopConf()
    val root = graft.fs.TestTree.newRoot("mvfail")
    val fs = graft.fs.Fs.getFileSystem(conf, root)
    import org.apache.hadoop.fs.Path
    def touch(p: String): Unit = graft.fs.TestTree.touch(fs, p)
    touch(s"$root/src/p1/data.txt")
    touch(s"$root/src/p2/data.txt")
    fs.mkdirs(new Path(s"$root/trg"))
    // p2's target PARENT is a file → its rename fails persistently (and
    // the pre-move target-delete pass can't clear it: trg/bad/p2 doesn't
    // "exist" under a file parent)
    touch(s"$root/trg/bad")
    val pairs = Seq(
      graft.fs.Paths(s"$root/src/p1", s"$root/trg/p1"),
      graft.fs.Paths(s"$root/src/p2", s"$root/trg/bad/p2"))
    intercept[IllegalStateException] { Promotor.moveFolders(pairs) }
    // p1's rename went through before the failure surfaced; the fuse must
    // still be open or the retry below takes the non-resume path and
    // trips 'unsafe move' on the vanished p1 source
    assert(new graft.fs.SafetyFuse(fs, s"$root/trg").isInProgress())
    assert(fs.exists(new Path(s"$root/trg/p1/data.txt")))
    // clear the obstruction: file → directory
    fs.delete(new Path(s"$root/trg/bad"), false)
    fs.mkdirs(new Path(s"$root/trg/bad"))
    val res = Promotor.moveFolders(pairs)
    assert(res.forall(_.success) && res.size == 2)
    assert(fs.exists(new Path(s"$root/trg/bad/p2/data.txt")))
    assert(!new graft.fs.SafetyFuse(fs, s"$root/trg").isInProgress())
  }

  test("moveFolders: a failed rename puts the old partition back; a rerun completes the move") {
    import org.apache.hadoop.fs.Path
    import graft.fs.FlakyFileSystem
    spark.sparkContext.hadoopConfiguration.set(s"fs.${FlakyFileSystem.Scheme}.impl",
      classOf[FlakyFileSystem].getName)
    implicit val conf = spark.sessionState.newHadoopConf()
    val root = graft.fs.TestTree.newRoot("mvback")
    val fs = graft.fs.Fs.getFileSystem(conf, root)
    graft.fs.TestTree.touch(fs, s"$root/src/p1/new.txt")
    graft.fs.TestTree.touch(fs, s"$root/trg/p1/old.txt")
    val flaky = FlakyFileSystem.flaky(root)
    val pairs = Seq(graft.fs.Paths(s"$flaky/src/p1", s"$flaky/trg/p1"))
    // the rename of the source onto the target fails; moving the old partition back works
    var onto = 0
    FlakyFileSystem.reset(0)
    FlakyFileSystem.failRenamesOnto(p => p.endsWith("/trg/p1") && { onto += 1; onto == 1 })
    try intercept[IllegalStateException](Promotor.moveFolders(pairs)) finally FlakyFileSystem.reset(0)
    assert(fs.exists(new Path(s"$root/trg/p1/old.txt")), "the target lost its partition")
    assert(fs.exists(new Path(s"$root/src/p1/new.txt")))
    assert(new graft.fs.SafetyFuse(fs, s"$root/trg").isInProgress())
    assert(Promotor.moveFolders(pairs).map(_.success) == Seq(true))
    assert(fs.exists(new Path(s"$root/trg/p1/new.txt")) && !fs.exists(new Path(s"$root/trg/p1/old.txt")))
    assert(!fs.exists(new Path(s"$root/src/p1")) && !new graft.fs.SafetyFuse(fs, s"$root/trg").isInProgress())
  }

  test("current-database overloads: partition ops resolve bare table names") {
    val _ = base
    val prev = spark.catalog.currentDatabase
    spark.catalog.setCurrentDatabase(db)
    try {
      val m = "2001-08"
      assert(qtyFor("sales_fct", m) == 2 * qtyFor("sales_sfct", m))
      val res = Promotor.copyOverwritePartitions("sales_fct", "sales_sfct", Seq(m))
      assert(res.nonEmpty && res.forall(_.success))
      assert(qtyFor("sales_sfct", m) == qtyFor("sales_fct", m))
      // bare copyTablePartitions APPENDS (no target cleanup — reference
      // semantics): distinct part-file names, so the quantity stacks
      val m3 = "2001-09"
      val trgBefore = qtyFor("sales_sfct", m3)
      val res2 = Promotor.copyTablePartitions("sales_fct", "sales_sfct", Seq(m3))
      assert(res2.nonEmpty && res2.forall(_.success))
      assert(qtyFor("sales_sfct", m3) == trgBefore + qtyFor("sales_fct", m3))
      val m2 = "2001-04"
      val srcBefore = qtyFor("sales_fct", m2)
      Promotor.moveTablePartitions("sales_fct", "sales_sfct", Seq(m2))
      assert(qtyFor("sales_sfct", m2) == srcBefore)
      assert(spark.table(s"$db.sales_fct").where(s"l_ship_month = '$m2'").count() == 0)
    } finally spark.catalog.setCurrentDatabase(prev)
  }

  test("current-database overloads: whole-table copy and move") {
    val _ = base
    val root2 = "file:" + Files.createTempDirectory("promo_wh2").toFile.getAbsolutePath
    spark.range(100).withColumn("v", lit(1L)).write
      .option("path", s"$root2/src").saveAsTable(s"$db.ovl_src")
    spark.range(50).withColumn("v", lit(9L)).write
      .option("path", s"$root2/trg").saveAsTable(s"$db.ovl_trg")
    spark.range(0).withColumn("v", lit(0L)).write
      .option("path", s"$root2/trg2").saveAsTable(s"$db.ovl_trg2")
    val prev = spark.catalog.currentDatabase
    spark.catalog.setCurrentDatabase(db)
    try {
      val res = Promotor.copyOverwriteTable("ovl_src", "ovl_trg")
      assert(res.forall(_.success))
      assert(spark.table(s"$db.ovl_trg").count() == 100)
      assert(spark.table(s"$db.ovl_trg").agg(sum("v")).head.getLong(0) == 100L)
      val res2 = Promotor.moveFilesBetweenTables("ovl_trg", "ovl_trg2")
      assert(res2.forall(_.success))
      assert(spark.table(s"$db.ovl_trg2").count() == 100)
      assert(spark.table(s"$db.ovl_trg").count() == 0)
      val res3 = Promotor.copyFilesBetweenTables("ovl_trg2", "ovl_trg")
      assert(res3.nonEmpty && res3.forall(_.success))
      assert(spark.table(s"$db.ovl_trg").count() == 100)
    } finally spark.catalog.setCurrentDatabase(prev)
  }

  test("validator rejects mismatched schemas") {
    val _ = base
    intercept[IllegalArgumentException] {
      TableMetadataValidator.validate(db, "sales_fct", db, "sales_np_src")
    }
  }

  test("filterPaths matches on substring") {
    assert(Meta.filterPaths(Array("/a/p=1", "/a/p=2", "/a/q=1"), Seq("p=")).length == 2)
  }
}
