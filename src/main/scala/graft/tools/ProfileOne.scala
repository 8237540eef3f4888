// Ad-hoc per-job profiler (dev tool, not part of the build): times a
// single gate like BenchOne but also logs every Spark job's wall time,
// description, and the driver-side GAP since the previous job ended —
// the gap series is where streaming machinery (offset/commit logs,
// micro-batch planning, file-source listing) and staging writes hide.
//   tools/bench_java.sh is reused via GRAFT_MAIN=graft.tools.ProfileOne
//   args: <query> [sfDir] [runs]
package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

object ProfileOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = graft.GraftSession.local(Runtime.getRuntime.availableProcessors)
    spark.range(1000).selectExpr("sum(id)").collect()
    val t0 = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    val lastEnd = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        val desc = p.flatMap(x => Option(x.getProperty("spark.job.description")))
          .orElse(p.flatMap(x => Option(x.getProperty("callSite.short"))))
          .getOrElse("")
        starts.put(js.jobId, (System.nanoTime(), desc)); ()
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = (for { s <- si.submissionTime; e <- si.completionTime } yield e - s).getOrElse(-1L)
        println(f"[stage] id=${si.stageId}%4d dur=$dur%6dms tasks=${si.numTasks}%3d  ${si.name.take(110)}")
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val now = System.nanoTime()
        Option(starts.remove(je.jobId)).foreach { case (st, desc) =>
          val gapMs = (st - lastEnd.get()) / 1e6
          val durMs = (now - st) / 1e6
          val atMs = (st - t0.get()) / 1e6
          println(f"[job] id=${je.jobId}%4d at=$atMs%8.0fms gap=$gapMs%7.1fms dur=$durMs%8.1fms  ${desc.take(90)}")
        }
        lastEnd.set(now)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val fn = graft.SparkEntry.benchOverrides
      .getOrElse(name, graft.SparkEntry.queries(name))
    val times = (1 to runs).map { i =>
      println(s"=== run $i ===")
      t0.set(System.nanoTime()); lastEnd.set(System.nanoTime())
      val s0 = System.nanoTime()
      fn(spark, sfDir).count()
      val sec = (System.nanoTime() - s0) / 1e9
      graft.CacheScope.releaseAll(spark)
      println(f"=== run $i done: $sec%.3f s ===")
      sec
    }
    println(f"[profile_one] $name min=${times.min}%.3f all=${times.map(t => f"$t%.3f").mkString(",")}")
    spark.stop()
  }
}
