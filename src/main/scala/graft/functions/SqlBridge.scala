package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkStrategy

/** Bridge into the `private[sql]` Column ⇄ Expression / Dataset ⇄
  * LogicalPlan converters — the standard mechanism for third-party
  * Catalyst extensions since the Spark 4 Column API became
  * backend-agnostic (no public `Column.expr` / `new Column(expr)` /
  * `Dataset.ofRows` anymore). Kept to these one-liners; everything
  * else in graft uses public API.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over a custom logical node (graft.plans). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** DataFrame over an already-materialized RDD[InternalRow] — for
    * lineage cuts that stay in the Tungsten representation
    * (Graph.cut): `df.rdd` + `createDataFrame` would decode every
    * InternalRow to Row and re-encode it on read, once per CC round. */
  def internalCreateDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Idempotent per-session planner-strategy registration (the
    * cluster-wide path is GraftExtensions via spark.sql.extensions). */
  def addStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(s))
      exp.extraStrategies = exp.extraStrategies :+ s
  }

  /** An uncorrelated scalar subquery over `df`'s single-row result —
    * the mechanism Spark's own InjectRuntimeFilter uses to hand a
    * build-side aggregate (e.g. Bloom filter bytes) to a probe-side
    * Filter: the subquery plans and executes as its own stage before
    * the outer filter evaluates, and the probe stays a plain Filter on
    * the outer scan instead of a join Catalyst could reorder above the
    * very Exchange the filter exists to shrink (Skew.bloomSemiJoin). */
  def scalarSubquery(df: DataFrame): Expression =
    catalyst.expressions.ScalarSubquery(df.queryExecution.analyzed)

  /** Idempotent per-session optimizer-rule registration (same dual path
    * as [[addStrategy]]). */
  def addOptimization(spark: SparkSession,
      r: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(r))
      exp.extraOptimizations = exp.extraOptimizations :+ r
  }

  /** Entries in Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100).
    * Sized from the engine's measured working set (4-core host, one
    * perfbench run each): `serve_mix` compiles 223 distinct classes,
    * about 340 cache entries once the copy compiled under the
    * executor's class loader is counted (the cache key includes the
    * loader); `corpus_curate` compiles 185. One delta batch alone needs
    * 134, so at 100 entries about 80% of a serving run's 1,084 Janino
    * compiles rebuilt byte-identical code. 1000 leaves about 3×
    * headroom over the largest working set. */
  val CodegenCacheEntries = 1000

  /** Default the codegen cache size on `conf`; a value the user set
    * explicitly (builder `.config`, `--conf`, `-Dspark.…`) wins. */
  def sizeCodegenCache(conf: org.apache.spark.SparkConf): Unit =
    conf.setIfMissing(
      org.apache.spark.sql.internal.StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
      CodegenCacheEntries.toString)

  /** [[sizeCodegenCache]] on the running SparkContext's conf. Effective
    * when called from a session extension: the session's SharedState
    * copies that conf after the extensions are applied, and
    * `CodeGenerator` reads the static size once, on first use. */
  def sizeCodegenCache(): Unit =
    org.apache.spark.SparkContext.getActive.foreach(sc => sizeCodegenCache(sc.conf))
}
