package graft

import org.apache.spark.sql.SparkSession

/** Plan auditor: print the formatted/codegen plan for one SparkEntry
  * query and time it — the `.explain`-driven iteration loop.
  * Usage: runMain graft.Plan <queryName> [sfDir] [codegen]
  */
object Plan {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val mode = if (args.length > 2) args(2) else "formatted"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.codegen.maxFields", sys.env.getOrElse("MAXF", "100"))
      .config("spark.sql.codegen.hugeMethodLimit", sys.env.getOrElse("HML", "8000"))
      .config("spark.sql.codegen.wholeStage", sys.env.getOrElse("WSCG", "true"))
      // Bench's rule set, so a dump shows the plan Bench times
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain(mode)
    val iters = sys.env.getOrElse("PLAN_ITERS", "1").toInt
    (1 to iters).foreach { i =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[plan] $name iter $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
