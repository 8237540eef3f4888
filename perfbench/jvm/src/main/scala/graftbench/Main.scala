package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{CacheScope, GraftSession}

/** Order-insensitive fingerprint of a whole result: the wrapping sum of
  * xxhash64 over every column of every row, with the row count. Every
  * output column is consumed, so column pruning cannot shrink the plan
  * the way a bare `count()` does. */
object Fingerprint {
  def apply(df: DataFrame): (Long, Long) = {
    // positional names: results may carry duplicate or dotted names
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val r = named.agg(coalesce(sum(xxhash64(named.columns.map(col).toSeq: _*)), lit(0L)),
      count(lit(1))).head()
    (r.getLong(0), r.getLong(1))
  }
}

/** One timed op's outcome. */
final case class OpResult(key: String, phase: String, pass: Int,
    buildS: Double, actionS: Double, releaseS: Double, rows: Long,
    fp: Option[Long], error: Option[String], transfer: Option[TransferStats]) {
  def latencyS: Double = buildS + actionS + releaseS
}

/** The benchmark's JVM side. One process runs, for one workload and
  * seed: the set-up (a session, the first, cold execution of every op,
  * which writes the op's result for the oracle, and `warm` untimed
  * passes), then a closed loop
  * of whole seeded-shuffled passes with one client for `seconds`; with
  * `trace=1` every other pass is traced and the native kernels are
  * timed directly. It writes everything to `<run>/result.json`; run.py
  * checks the written results against DuckDB and derives the metrics. */
object Main {
  private def now(): Long = System.currentTimeMillis()

  def main(args: Array[String]): Unit = {
    val o = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val tree = o("tree")
    val runDir = o("run")
    val seconds = o("seconds").toDouble
    val withTrace = o("trace") == "1"
    val cores = o("cores").toInt
    val warm = o("warm").toInt
    val tmp = System.getProperty("java.io.tmpdir")
    val pid = ProcessHandle.current().pid()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val ops = Workloads.mix(workload, tree, runDir)
    def order(salt: Int): Seq[Op] = new scala.util.Random(seed * 1000003L + salt).shuffle(ops)

    // ---- set-up: from JVM start to the first timed op. A session and
    // a cold first execution of every op, which builds its artifacts and
    // whose fingerprint every later execution must reproduce. An op
    // verified directly writes its result for the oracle and is
    // fingerprinted from the written copy; an op timed in its own shape
    // (`verify` is a different function) is checked through its twin,
    // written after the loop. Then `warm` passes that serve from the
    // artifacts while the JIT compiles ----
    val spark = GraftSession.local(cores)
    spark.range(1000).selectExpr("sum(id)").collect()
    mark(s"session ready at ${(now() - jvmStart) / 1000.0} s")
    val coldFp = mutable.Map.empty[String, (Long, Long)]
    val coldErr = mutable.Map.empty[String, String]
    val dumps = mutable.Map.empty[String, String]
    def dump(op: Op): (Long, Long) = {
      val path = s"$runDir/verify/${op.key}"
      try {
        op.verify(spark, tree).coalesce(1).write.mode("overwrite").parquet(path)
        val back = Fingerprint(spark.read.parquet(path))
        dumps(op.key) = Json.obj("path" -> path, "rows" -> back._2)
        back
      } catch { case e: Throwable =>
        dumps(op.key) = Json.obj("error" -> msg(e)); throw e
      }
    }
    order(-1).foreach { op =>
      try coldFp(op.key) = if (op.verifiedDirectly) dump(op) else Fingerprint(op.build(spark, tree))
      catch { case e: Throwable => coldErr(op.key) = msg(e) }
      CacheScope.releaseAll(spark)
      mark(s"cold ${op.key} done at ${(now() - jvmStart) / 1000.0} s")
    }

    // ---- closed loop, one client, whole passes ----
    val sc = spark.sparkContext
    def runOp(op: Op, phase: String, pass: Int, tracer: Option[Tracer]): OpResult = {
      val id = s"$phase:${op.key}:$pass"
      val tr = tracer.map(_.begin(id, op.key, pass))
      sc.setLocalProperty("graftbench.op", id)
      Transfers.last = None
      val t0 = System.nanoTime()
      tr.foreach(_.start = now())
      var t1, t2 = t0
      var fp: Option[(Long, Long)] = None
      var err: Option[String] = None
      try {
        val df = op.build(spark, tree)
        t1 = System.nanoTime(); tr.foreach(_.buildEnd = now())
        fp = Some(Fingerprint(df))
      } catch { case e: Throwable => err = Some(msg(e)) }
      if (t1 == t0) { t1 = System.nanoTime(); tr.foreach(_.buildEnd = now()) }
      t2 = System.nanoTime(); tr.foreach(_.actionEnd = now())
      CacheScope.releaseAll(spark)
      val t3 = System.nanoTime()
      tr.foreach(_.end = now())
      sc.setLocalProperty("graftbench.op", null)
      val xfer = if (op.transfer) Transfers.last else None
      tr.foreach { t =>
        xfer.foreach { x =>
          t.transferMs = math.round(x.ms); t.rowsWritten = x.rows; t.attempts = x.attempts
          t.sourceBytes = x.sourceBytes; t.outputBytes = x.outputBytes
        }
      }
      tracer.zip(tr).foreach { case (a, b) => a.finish(b) }
      OpResult(op.key, phase, pass, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
        fp.map(_._2).getOrElse(0L), fp.map(_._1), err, xfer)
    }
    (1 to warm).foreach(w => order(-1 - w).foreach(op => runOp(op, "warm", -w, None)))
    val setupS = (now() - jvmStart) / 1000.0
    mark(s"set-up done at $setupS s")

    // Whole passes, each a seeded shuffle of the mix, until `seconds`
    // have passed, and at least two, so no figure rests on a single
    // sample of a key. A traced run alternates traced and untraced passes,
    // starting and ending traced (at least two traced passes, so count
    // repeatability can be checked); the difference between the two
    // kinds is the tracing overhead.
    val tracer = if (withTrace) Some(new Tracer(spark)) else None
    val results = mutable.ArrayBuffer.empty[OpResult]
    val passWall = mutable.ArrayBuffer.empty[(String, Double)]
    val loopStart = System.nanoTime()
    var pass = 0
    def tracedPasses = (0 until pass).count(_ % 2 == 0)
    while (pass < 2 || (System.nanoTime() - loopStart) / 1e9 < seconds ||
        (withTrace && (tracedPasses < 2 || pass % 2 == 0))) {
      val on = tracer.filter(_ => pass % 2 == 0)
      val phase = if (on.isDefined) "traced" else "timed"
      on.foreach(_.install())
      val t0 = System.nanoTime()
      order(pass).foreach(op => results += runOp(op, phase, pass, on))
      passWall += phase -> (System.nanoTime() - t0) / 1e9
      on.foreach(_.uninstall())
      pass += 1
    }
    mark(s"loop done at ${(now() - jvmStart) / 1000.0} s")
    val kernels = if (withTrace) Kernels.time(spark, tree) else Map.empty[String, Double]
    // two consumer boundaries let the janitor reclaim every per-call
    // dir it tracks; what is left after them is what the run keeps
    CacheScope.releaseAll(spark)
    CacheScope.releaseAll(spark)

    val staged = listTmp(tmp).filter(n => n.startsWith("graft_") && n.contains(s"_${pid}_"))
    val stagedBytes = staged.toSeq.map(n => du(new File(tmp, n))).sum
    // what the run leaves: its tmp entries and the transfer targets, not
    // counting the block-manager and scratch dirs Spark deletes at stop
    val leftBytes = listTmp(tmp).toSeq
      .filterNot(n => n.startsWith("blockmgr-") || n.startsWith("spark-"))
      .map(n => du(new File(tmp, n))).sum + du(new File(s"$runDir/out"))
    ops.filterNot(_.verifiedDirectly).foreach(op => Try(dump(op)))
    spark.stop()
    mark(s"twins written at ${(now() - jvmStart) / 1000.0} s")

    val env = Json.obj(
      "cores" -> cores, "jvm" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> org.apache.spark.SPARK_VERSION, "seed" -> seed,
      "workload" -> workload)
    val keys = ops.map { op =>
      op.key -> Json.Raw(Json.obj(
        "fp" -> coldFp.get(op.key).map(_._1.toString),
        "rows" -> coldFp.get(op.key).map(_._2),
        "cold_error" -> coldErr.get(op.key),
        "verified_directly" -> op.verifiedDirectly,
        "oracle_sql" -> op.oracleSql,
        "dump" -> Json.Raw(dumps.getOrElse(op.key, Json.obj("error" -> "not run")))))
    }
    def opJson(r: OpResult): String = Json.obj(
      "key" -> r.key, "phase" -> r.phase, "pass" -> r.pass,
      "latency_s" -> r.latencyS, "build_s" -> r.buildS, "action_s" -> r.actionS,
      "release_s" -> r.releaseS, "rows" -> r.rows,
      "ok" -> (r.error.isEmpty && r.fp.isDefined &&
        coldFp.get(r.key).exists(c => r.fp.contains(c._1) && c._2 == r.rows)),
      "error" -> r.error,
      "transfer_ms" -> r.transfer.map(_.ms), "rows_written" -> r.transfer.map(_.rows))
    def passes(phase: String): Seq[Double] = passWall.collect { case (`phase`, s) => s }.toSeq
    val result = Json.obj(
      "env" -> Json.Raw(env),
      "setup_s" -> setupS,
      "keys" -> Json.Raw(Json.obj(keys: _*)),
      "ops" -> Json.Raw(results.map(opJson).mkString("[", ",", "]")),
      "timed_pass_s" -> passes("timed"),
      "traced_pass_s" -> passes("traced"),
      "peak_rss_mb" -> vmHwmMb(),
      "disk_bytes" -> leftBytes,
      "staged_builds" -> staged.size,
      "staged_bytes" -> stagedBytes,
      "kernels_ns_per_row" -> kernels,
      "traces" -> Json.Raw(tracer.map(_.traces.map(_.json).mkString("[", ",", "]")).getOrElse("[]")))
    Files.writeString(Paths.get(s"$runDir/result.json"), result)
  }

  private def mark(line: String): Unit = System.err.println(s"[graftbench] $line")

  private def msg(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(400)

  private def listTmp(tmp: String): Set[String] =
    Option(new File(tmp).list()).map(_.toSet).getOrElse(Set.empty)

  private def du(f: File): Long =
    if (Files.isSymbolicLink(f.toPath)) 0L
    else if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
    else f.length()

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong / 1024.0
  }
}
