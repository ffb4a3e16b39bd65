package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions.col

/** The session hook sizes Spark's JVM-wide generated-class cache: a
  * working set larger than Spark's default of 100 entries is served
  * from the cache on reuse instead of being recompiled. */
class CodegenCacheSpec extends SparkSpec {

  private val key = "spark.sql.codegen.cache.maxEntries"

  test("the session hook sizes the codegen cache") {
    assert(spark.conf.get(key) == GraftSqlBridge.CodegenCacheEntries.toString)
  }

  test("150 distinct projections recompile nothing on their second pass") {
    // integer literals are inlined into the generated code, so every
    // projection compiles to its own class (on the driver, and again
    // under the executor's class loader)
    def pass(): Unit = (1 to 150).foreach { i =>
      spark.range(10).select((col("id") + i).as("c")).collect()
    }
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val first = compiles
    pass()
    assert(compiles - first >= 150, "each projection compiles once")
    val second = compiles
    pass()
    assert(compiles - second == 0)
  }

  test("an explicitly set cache size wins over the hook's default") {
    val set = new SparkConf(false).set(key, "7")
    GraftSqlBridge.sizeCodegenCache(set)
    assert(set.get(key) == "7")
    val unset = new SparkConf(false)
    GraftSqlBridge.sizeCodegenCache(unset)
    assert(unset.get(key) == GraftSqlBridge.CodegenCacheEntries.toString)
  }
}
