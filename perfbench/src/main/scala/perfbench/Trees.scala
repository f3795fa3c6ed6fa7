package perfbench

import java.nio.file.{Files, StandardCopyOption, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Seeded input trees. A tree is `root/tree/part=pNN/fNNNNN.parquet`,
  * one parquet file per slot; `root/pool` holds spare files of the same
  * schema that mutations draw from. The same seed gives byte-identical
  * files.
  */
object Trees {

  def sidecar(p: JPath): JPath = p.resolveSibling("." + p.getFileName + ".crc")

  def partName(folder: Int): String = f"p$folder%02d"

  /** Shape of the tree: `Folders * PerFolder` files in the tree and
    * `Pool` spare ones, cut from the `KeepPerMille` share of lineitem.
    */
  val Folders = 20
  val PerFolder = 4
  val Pool = 16
  val KeepPerMille = 150

  /** A partitioned cut of lineitem: rows go to slots by a seeded hash;
    * the first `Folders * PerFolder` slots fill the tree, the rest the
    * pool. Spark writes into a scratch folder; slot i's file then moves to
    * its place under `tree` or `pool` with a name that does not depend on
    * Spark's random file names.
    */
  def smallFiles(spark: SparkSession, lineitem: String, root: JPath, seed: Long): Unit = {
    val slots = Folders * PerFolder + Pool
    val key = Seq(col("l_orderkey"), col("l_linenumber"))
    val tmp = root.resolve("gen")
    spark.read.parquet(lineitem)
      .where(pmod(xxhash64(lit(seed) +: key: _*), lit(1000)) < KeepPerMille)
      .withColumn("slot", pmod(xxhash64(lit(seed + 1) +: key: _*), lit(slots)).cast("int"))
      .repartition(col("slot")).sortWithinPartitions(key: _*)
      .write.mode("overwrite").partitionBy("slot").parquet(tmp.toUri.toString)
    val bySlot: Seq[(Int, JPath)] = Using.resource(Files.list(tmp)) { s =>
      s.iterator.asScala.filter(Files.isDirectory(_)).toSeq.map { d =>
        val f = Using.resource(Files.list(d)) { fs =>
          fs.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        }
        require(f.size == 1, s"expected one file in $d, found ${f.size}")
        d.getFileName.toString.stripPrefix("slot=").toInt -> f.head
      }
    }
    require(bySlot.size == slots, s"generated ${bySlot.size} files, expected $slots")
    bySlot.foreach { case (slot, f) =>
      val dir =
        if (slot < Folders * PerFolder) root.resolve("tree").resolve(s"part=${partName(slot % Folders)}")
        else root.resolve("pool")
      Files.createDirectories(dir)
      val to = dir.resolve(f"f$slot%05d.parquet")
      Files.move(f, to)
      if (Files.exists(sidecar(f))) Files.move(sidecar(f), sidecar(to))
    }
    deleteTree(tmp)
  }

  def copyWithSidecar(from: JPath, to: JPath): Unit = {
    Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING)
    if (Files.exists(sidecar(from))) Files.copy(sidecar(from), sidecar(to), StandardCopyOption.REPLACE_EXISTING)
    else Files.deleteIfExists(sidecar(to))
  }

  def copyTree(from: JPath, to: JPath): Unit =
    Using.resource(Files.walk(from)) { s =>
      s.iterator.asScala.toSeq.foreach { p =>
        val t = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      }
    }

  def deleteTree(p: JPath): Unit =
    if (Files.exists(p)) Using.resource(Files.walk(p)) { s =>
      s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
    }

  /** Seeded in-place change of `root/tree`, as an upstream writer would
    * make it: `fraction` of the files are touched. A third are deleted, as
    * many new files are added, and the rest are replaced by a pool file of
    * another size. Each touched file changes size, so a size-based diff
    * sees all of them. Returns the number of files touched.
    */
  def mutate(root: JPath, seed: Long, cycle: Int, fraction: Double): Int = {
    val rnd = new scala.util.Random(seed * 1000003L + cycle)
    val tree = root.resolve("tree")
    val pool = root.resolve("pool")
    val files = TreeCheck.files(tree).toSeq.sortBy(_._1)
    val spares = TreeCheck.files(pool).toSeq.sortBy(_._1)
    val n = math.max(1, math.round(files.size * fraction).toInt)
    val chosen = rnd.shuffle(files).take(n)
    val third = n / 3
    val (deleted, rest) = chosen.splitAt(third)
    val (addedNextTo, replaced) = rest.splitAt(third)
    deleted.foreach { case (rel, _) =>
      Files.delete(tree.resolve(rel)); Files.deleteIfExists(sidecar(tree.resolve(rel)))
    }
    addedNextTo.zipWithIndex.foreach { case ((rel, _), k) =>
      val spare = spares(rnd.nextInt(spares.size))._1
      copyWithSidecar(pool.resolve(spare), tree.resolve(rel).resolveSibling(f"m$cycle%03d_$k%02d.parquet"))
    }
    replaced.foreach { case (rel, size) =>
      val spare = rnd.shuffle(spares).find(_._2 != size)
        .getOrElse(sys.error(s"no spare file differs in size from $rel"))._1
      copyWithSidecar(pool.resolve(spare), tree.resolve(rel))
    }
    n
  }
}
