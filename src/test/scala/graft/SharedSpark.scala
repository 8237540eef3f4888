package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks a single test
  * JVM; re-creating sessions per-suite triples test wall time). */
object SharedSpark {
  lazy val spark: SparkSession = {
    // GraftSession wiring → the extensions (functions + optimizer rule)
    // are active in every suite
    val s = GraftSession.builder(appName = "graft-test", master = Some("local[4]"),
        shufflePartitions = 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Count the Spark JOBS `body` launches on this thread, RDD jobs
    * included: a job with no QueryExecution (parquet schema inference's
    * `parallelize → collect`) is invisible to [[countExecutions]].
    * `body` runs in a unique job group and the listener counts only
    * that group's jobs. A marker job in a second unique group closes
    * the window: the listener bus delivers in order, so once the
    * marker's start arrives every job of `body` has been delivered. */
  def countJobs[T](s: SparkSession)(body: => T): (T, Int) = {
    val sc = s.sparkContext
    val nonce = java.util.UUID.randomUUID.toString.replace("-", "")
    val group = s"graft_jobs_$nonce"
    val endGroup = s"graft_jobs_end_$nonce"
    val count = new java.util.concurrent.atomic.AtomicInteger
    @volatile var closed = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => count.incrementAndGet(); ()
          case Some(`endGroup`) => closed = true
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "countJobs")
      val r = try body finally sc.clearJobGroup()
      sc.setJobGroup(endGroup, "countJobs end marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      var waited = 0
      while (!closed && waited < 30000) { Thread.sleep(25); waited += 25 }
      assert(closed, "listener bus never delivered the end marker job")
      (r, count.get())
    } finally sc.removeSparkListener(listener)
  }

  /** Count successful query executions whose executed-plan string
    * satisfies `pred` while `body` runs — windowed by uniquely-tagged
    * marker queries so the ASYNC execution-listener bus cannot leak
    * events across the window (the r16 flake: a recompute twin's own
    * matching event was still in flight when the counting listener
    * registered, so "exactly one pass" counted 2). The bus delivers
    * in order, so (a) stale pre-window events arrive before the start
    * marker and are ignored un-armed, and (b) once the end marker is
    * observed, every in-window event has been delivered — no sleeps,
    * no tail race. */
  def countExecutions[T](s: SparkSession)(pred: String => Boolean)(
      body: => T): (T, Int) =
    countQueryExecutions(s)(qe => pred(qe.executedPlan.toString))(body)

  /** Full-QueryExecution variant for predicates that need more than
    * the executed-plan string (e.g. the logical-plan Command check). */
  def countQueryExecutions[T](s: SparkSession)(
      pred: org.apache.spark.sql.execution.QueryExecution => Boolean)(
      body: => T): (T, Int) = {
    val count = new java.util.concurrent.atomic.AtomicInteger
    @volatile var armed = false
    @volatile var closed = false
    val nonce = java.util.UUID.randomUUID.toString.replace("-", "")
    val startTag = s"graft_lstn_start_$nonce"
    val endTag = s"graft_lstn_end_$nonce"
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = {
        val p = qe.executedPlan.toString
        if (p.contains(startTag)) armed = true
        else if (p.contains(endTag)) closed = true
        else if (armed && !closed && pred(qe)) { count.incrementAndGet(); () }
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    def await(flag: => Boolean, what: String): Unit = {
      var waited = 0
      while (!flag && waited < 30000) { Thread.sleep(25); waited += 25 }
      assert(flag, s"execution-listener bus never delivered the $what marker")
    }
    s.listenerManager.register(listener)
    try {
      s.range(1).selectExpr(s"id AS $startTag").collect()
      await(armed, "start")
      val r = body
      s.range(1).selectExpr(s"id AS $endTag").collect()
      await(closed, "end")
      (r, count.get())
    } finally s.listenerManager.unregister(listener)
  }
}
