package graft

import org.apache.spark.sql.SparkSession

import graft.functions.{CosineFusionRule, GraftFunctions}
import graft.plans.GroupedTopKStrategy

/** User-facing session factory: one place that wires the graft
  * extensions (native expressions) and the confs the engine is
  * designed around. On a real cluster the same builder is used minus
  * `master`; AQE handles runtime re-planning (partition coalescing,
  * skew-join splitting) at 100 TB.
  */
object GraftSession {
  def builder(appName: String = "graft", master: Option[String] = None,
      shufflePartitions: Int = 32): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // multi-tenant transfers (Pipeline.runAll) share the cluster
      // FAIRLY across per-class pools instead of FIFO head-of-line
      // blocking; single-job workloads are unaffected (one pool). Pools
      // are created on demand by setLocalProperty — no allocation file.
      .config("spark.scheduler.mode", "FAIR")
      // hash-mixing expressions (minhash/simhash) use wrapping int64 math
      .config("spark.sql.ansi.enabled", "false")
      // list bounded partitioned artifacts DRIVER-side (r17, guide §6):
      // every partitioned artifact this engine reads bounds its
      // partition count BY CONSTRUCTION (≤256 IVF/IVFPQ inverted lists
      // via IvfMaxNlist, 64 BM25 term buckets, ≤32 LSH/phash bands),
      // but the default parallel-discovery threshold (32) pushes their
      // listings into a 2-stage Spark job — ~100-170 ms of scheduler
      // fixed cost PER LISTING for ≤256 directory stats, re-paid on
      // every serve/consult of every artifact. 1024 keeps those bounded
      // listings on the driver (itself multi-threaded via HadoopFSUtils)
      // while genuinely wide tables — a 100 TB fact table's thousands
      // of date partitions — still cross the threshold and fan out.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      // read TIMESTAMP(NANOS) parquet columns as longs, which
      // Tables.events normalizes; set for the session's whole life, so
      // no read flips how later reads see nanosecond timestamps
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // `file:` through java.nio instead of a forked chmod / ls /
      // readlink per local file written, listed or renamed; the
      // FileContext one carries streaming checkpoints and state stores
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.sources.NioLocalFs].getName)
    master.map(b.master).getOrElse(b)
  }

  /** Runs `body` with the given SQL confs pinned, restoring previous
    * values (including unset) after. A batch plan must be MATERIALIZED
    * inside the scope — the optimizer reads confs when the action
    * runs, not when the DataFrame is built; streaming queries capture
    * confs at `start()`, so the scope must cover query start. */
  def withSqlConfs[T](s: SparkSession, kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> s.conf.getOption(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  def local(cpus: Int = 4): SparkSession = {
    val s = builder(master = Some(s"local[$cpus]"), shufflePartitions = cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    withGraft(s)
  }

  /** The one check-before-inject guard at session entry. A session
    * that already existed when `getOrCreate` ran never applied the
    * builder's extensions conf; it gets the same functions, rule and
    * strategy `GraftExtensions` injects, once. A session that has them
    * is returned untouched, so operators never register per call. */
  private def withGraft(s: SparkSession): SparkSession = {
    if (!s.sessionState.planner.strategies.contains(GroupedTopKStrategy)) {
      GraftFunctions.register(s)
      s.experimental.extraOptimizations :+= CosineFusionRule
      s.experimental.extraStrategies :+= GroupedTopKStrategy
    }
    s
  }
}
