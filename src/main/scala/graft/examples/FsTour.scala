package graft.examples

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.GraftSession
import graft.fs._

/** End-to-end tour of the fs toolkit through its public API: build a
  * tree, size it, distributed-copy it, diff + synchronize, move, delete.
  * Run: `sbt "runMain graft.examples.FsTour"` — prints one OK/FAIL line
  * per operator and exits nonzero on any FAIL.
  */
object FsTour {
  def main(args: Array[String]): Unit = {
    implicit val spark = GraftSession.local(8)
    implicit val conf = spark.sparkContext.hadoopConfiguration
    var failed = 0
    def check(name: String)(cond: => Boolean): Unit = {
      val ok = try cond catch { case e: Throwable => println(s"  ! $name: $e"); false }
      println(f"${if (ok) "OK  " else "FAIL"} $name")
      if (!ok) failed += 1
    }

    // plain absolute paths, as a user types them
    def newRoot(p: String) = Files.createTempDirectory(p).toFile.getAbsolutePath
    def mkTree(root: String): Unit = {
      val fs = Fs.getFileSystem(conf, root)
      for (i <- 0 until 3; j <- 0 until 3) {
        val f = fs.create(new Path(s"$root/d$i/f$j.txt"), true)
        f.write(s"data-$i-$j".getBytes(StandardCharsets.UTF_8)); f.close()
      }
    }

    val src = newRoot("tour_src"); mkTree(src)
    val trg = newRoot("tour_trg")

    check("list finds 9 files + 3 dirs") {
      val l = Fs.list(src); l.count(!_.isDirectory) == 9 && l.count(_.isDirectory) == 3
    }
    check("getSize totals bytes") { Fs.getSize(src).totalBytes == 9 * 8 }
    check("listDistributed == list") {
      val listing = Fs.listDistributed(spark, src)
      try listing.collect().toSet == Fs.list(src).toSet
      finally listing.unpersist()
    }
    check("copyFolder replicates files") {
      DistributedExecution.copyFolder(src, trg)
      Fs.getSize(trg).totalBytes == Fs.getSize(src).totalBytes
    }
    check("delta clean after copy") {
      val (m, e) = Delta.getDelta(src, trg); m.isEmpty && e.isEmpty
    }
    check("synchronize repairs a deleted file") {
      val fs = Fs.getFileSystem(conf, trg)
      fs.delete(new Path(s"$trg/d0/f0.txt"), false)
      Delta.synchronize(src, trg)
      val (m, e) = Delta.getDelta(src, trg); m.isEmpty && e.isEmpty
    }
    check("moveFolderContent moves the tree") {
      val dst = newRoot("tour_mv") + "/moved"
      LocalExecution.moveFolderContent(trg, dst)
      Fs.getSize(dst).totalBytes == 9 * 8
    }
    check("deleteFolder removes everything") {
      LocalExecution.deleteFolder(src)
      !Fs.getFileSystem(conf, src).exists(new Path(src))
    }

    spark.stop()
    if (failed > 0) { println(s"$failed FAILED"); sys.exit(1) }
    println("FsTour: all checks passed")
  }
}
