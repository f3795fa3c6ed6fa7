package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spark compiles each generated class once per JVM, as long as its
  * codegen cache holds graft's working set ([[GraftSession]] sizes it).
  * The cache is sized when `CodeGenerator` first loads. Every suite
  * reaches Spark through [[SparkTestSession]], and none generates code
  * before the shared session exists, so these counts see the size the
  * session sets; a suite that generated code first would size the
  * cache at Spark's default of 100.
  */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("the session sizes the codegen cache for graft's working set") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
  }

  test("a second run of g12_hits_converged and d31_leakage_split compiles no class") {
    def run(): Unit = Seq("g12_hits_converged", "d31_leakage_split").foreach { name =>
      SparkEntry.queries(name)(spark, SparkTestSession.sf)
        .write.format("noop").mode("overwrite").save()
      graft.ops.Blocks.sweep(spark)
    }
    val (_, first) = SparkTestSession.withCompileCount(run())
    val (_, second) = SparkTestSession.withCompileCount(run())
    assert(second == 0, s"the second run compiled $second classes (the first $first)")
  }
}
