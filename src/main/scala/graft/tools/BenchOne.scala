// Ad-hoc single-query timing harness (dev tool, not part of the build):
//   sbt "runMain graft.tools.BenchOne <query> [sfDir] [runs]"
package graft.tools

object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = graft.GraftSession.local(Runtime.getRuntime.availableProcessors)
    spark.range(1000).selectExpr("sum(id)").collect()
    val fn = graft.SparkEntry.benchOverrides
      .getOrElse(name, graft.SparkEntry.queries(name))
    val times = (1 to runs).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"[bench_one] $name min=${times.min}%.3f all=${times.map(t => f"$t%.3f").mkString(",")}")
    spark.stop()
  }
}
