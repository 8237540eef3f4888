package graft
import org.apache.spark.sql.SparkSession
object Bench {
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }

  /** The two artifact JSON lines (full per-query dict, compact
    * headline) from the per-query sample vectors — shared by the
    * end-of-run emit and the per-pass checkpoint (VERDICT r14 #1), so
    * the checkpointed file is byte-compatible with the final one. */
  private def artifactLines(
      timed: Seq[(String, Vector[Either[String, Double]])],
      sfDir: String, passesRun: Int, wallSec: Double, fullPath: String)
      : (String, String, Int) = {
    val results = timed.collect {
      case (n, rs) if rs.forall(_.isRight) =>
        n -> rs.collect { case Right(t) => t }.min
    }.toMap
    // warm/cold split (VERDICT r3 #6): "queries" stays the min-of-N
    // steady-state figure (the committed-artifact contract); "cold"
    // adds each query's FIRST run, so fixed machinery — streaming
    // state-store spin-up, JDBC/Derby boot, codegen compile — is
    // separable from steady-state cost instead of hiding in the min.
    val firstRun = timed.collect {
      case (n, rs) if rs.forall(_.isRight) =>
        n -> rs.head.toOption.get
    }.toMap
    val errors = timed.collect { case (n, rs) =>
      rs.collectFirst { case Left(e) => n -> e }
    }.flatten.toMap
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val cold = firstRun.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val es = errors.map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val coldTotal = if (firstRun.nonEmpty) firstRun.values.sum else 0.0
    // Truncation-proof artifact (VERDICT r4 #1, r6 #4) with the FULL
    // line LAST (VERDICT r16 #1): the driver parses the LAST JSON line
    // of stdout for its round-over-round per-query comparison, and r16
    // printed the compact headline last — PERF_r16 came back with
    // per_query {} / n_common 0 / null geomean because the headline
    // carries no "queries" map. Current layout:
    //  (a) the complete artifact is WRITTEN TO A FILE in the working
    //      directory (driver runs from the repo; the end-of-round
    //      snapshot commit picks it up) — per-query timings are always
    //      recoverable regardless of stdout capture;
    //  (b) the compact headline — total / cold_total / n_queries /
    //      n_errors / top-5 slowest / 80-char-truncated errors — prints
    //      FIRST (< ~1500 chars), a human-readable summary;
    //  (c) the full per-query line, tagged "metric":"per_query" (the
    //      tag tools/scaling_assemble.py and tools/sf1_assemble.py key
    //      on) and carrying the "queries" AND "cold" maps, prints LAST
    //      so the driver's last-JSON-line parse gets the per-query map
    //      directly. It satisfies the one-line driver contract
    //      ({"metric",...,"value",N,"unit","sec","queries",{...},"sf"})
    //      verbatim. The driver's ~2000-char stored TAIL may clip the
    //      line's front, but (a) keeps the complete artifact on disk.
    val slowest = results.toSeq.sortBy(-_._2).take(5)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val esShort = errors.map { case (k, v) =>
      "\"" + esc(k) + "\":\"" + esc(v.take(80)) + "\""
    }.mkString("{", ",", "}")
    // warm-semantics marker (VERDICT r9 #2 / next-round #5): since r9,
    // CacheScope.releaseAll runs after EVERY rep — a rep never serves a
    // previous rep's in-memory cache. Artifacts carry the semantics so
    // cross-round comparisons are apples-to-apples (BENCH_r09 is the
    // comparison floor for this semantics).
    val warmSem = """"warm_semantics":"per-rep cache release"""" +
      s""","runs_completed":$passesRun,"wall_budget_sec":$wallSec"""
    val fullLine = s"""{"metric":"per_query","value":$total,"unit":"sec",$warmSem,"queries":$qs,"cold":$cold,"errors":$es,"sf":"$sfDir","n_queries":${results.size},"cold_total":$coldTotal,"n_errors":${errors.size},"total":$total,"full_artifact":"$fullPath"}"""
    val headline = s"""{"metric":"total","value":$total,"unit":"sec",$warmSem,"slowest_top5":$slowest,"errors":$esShort,"cold_total":$coldTotal,"n_errors":${errors.size},"n_queries":${results.size},"sf":"$sfDir","full_artifact":"$fullPath"}"""
    (fullLine, headline, errors.size)
  }

  /** Where the full per-query artifact lands. `BENCH_full_local.json`
    * is RESERVED for the committed-artifact shape — the full-key-set
    * run over the default sf0.1 tree (ADVICE r15 #1: the r15 sf~1
    * probe ran after the sweep in the same cwd and clobbered the
    * committed sweep snapshot, shipping a 183-key probe under the
    * sweep's description). Any filtered run (SPARK_GRAFT_BENCH_ONLY)
    * or non-default SF dir now writes `BENCH_full_scratch.json`
    * instead, and SPARK_GRAFT_BENCH_FULL_OUT names an explicit path
    * for probe scripts that want per-run files. The headline line
    * discloses which file the run actually wrote. */
  private[graft] def fullArtifactPath(sfDir: String,
      filtered: Boolean): String =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL_OUT",
      if (filtered || sfDir != "/root/testdata/sf0.1") "BENCH_full_scratch.json"
      else "BENCH_full_local.json")

  private def writeArtifact(path: String, fullLine: String): Unit =
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path),
        (fullLine + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () } // stdout lines still carry the data

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the bench session IS the product session (GraftSession wires the
    // extensions + AQE/FAIR confs the engine is designed around) — the
    // r3 hand-rolled builder measured a subtly different config
    val spark = GraftSession.local(cpus.toInt)
    spark.range(1000).selectExpr("sum(id)").collect() // session warmup
    // min-of-N timed runs per query (VERDICT r2 #8): one loaded/
    // GC-noisy run can no longer distort the committed artifact; the
    // min is the steady-state figure (JIT/codegen-compile noise
    // otherwise dominates small SFs). A crashing query is NOT reported
    // as a fast success (VERDICT r1 item 4) — it lands in "errors" and
    // is excluded from the total.
    //
    // ADAPTIVE PASS COUNT under a WALL BUDGET (VERDICT r14 #1c): the
    // r14 driver bench timed out (rc=124 — zero independent numbers)
    // because 1 cold + 2 warm full passes outgrew the driver's fixed
    // wall in a slow host window. Passes 1–2 (the cold pass and one
    // warm pass) ALWAYS run — min-of-2 is the floor the artifact
    // never goes below; each FURTHER pass runs only if the elapsed
    // time plus the previous pass's duration fits the wall budget
    // (SPARK_GRAFT_BENCH_WALL seconds, default 900 — r13's full
    // min-of-3 run completed at 839 s wall, so a fast window fits a
    // third pass under this default while a slow one stops at the
    // floor). A fast window still produces min-of-3; a constrained
    // one degrades to min-of-2 and COMPLETES — a slightly noisier
    // artifact beats a killed one, and the per-pass checkpoint below
    // covers even a kill.
    // The artifact discloses `runs_completed` so cross-round compares
    // know which semantics they are reading. Committed sweeps raise
    // the wall (tools/sweep.sh) so the repo artifacts keep the
    // min-of-3 semantics.
    // SPARK_GRAFT_BENCH_RUNS=1 IS honored (ADVICE r15 #4): a dev loop
    // may want a single cold pass; runs_completed=1 in the artifact
    // discloses the weaker semantics, and the per-pass checkpoint
    // machinery simply never fires. Committed artifacts use the
    // default (3 under the wall budget, min-of-2 floor enforced by the
    // loop condition below, which only consults the wall from pass 3).
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val wallSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_WALL", "900").toDouble
    val benchT0 = System.nanoTime()
    // dev-loop filter: SPARK_GRAFT_BENCH_ONLY=q1_agg,mm_phash_dedup
    // times just those queries (the committed artifact never sets it)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.benchQueries.filter(names)
      case None => SparkEntry.benchQueries
    }
    val fullPath = fullArtifactPath(sfDir, filtered = only.nonEmpty)
    // audits/tolerance checks bench their production shape instead
    val fns = selected.map(name =>
      name -> SparkEntry.benchOverrides.getOrElse(name, SparkEntry.queries(name)))
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Either[String, Double] = {
      val t0 = System.nanoTime()
      val r =
        try { fn(spark, sfDir).count(); Right((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
        }
      // boundary release OUTSIDE the timed region (VERDICT r8 #3): a
      // rep must not serve a previous rep's in-memory cache (timings
      // stay honest) nor stack 209 queries' caches across the sweep;
      // staged parquet artifacts keep amortizing — that's the
      // production contract being measured
      CacheScope.releaseAll(spark)
      r
    }
    // repetitions interleave ROUND-ROBIN across the query list
    // (VERDICT r7 #6): back-to-back samples let one transient host
    // stall land all N samples of a single query, which min-of-N can't
    // absorb — spreading each query's samples ~a full sweep apart
    // makes the min robust to stalls shorter than a sweep. Pass 0
    // remains every query's cold run, exactly as before.
    val acc = collection.mutable.LinkedHashMap[String, Vector[Either[String, Double]]]()
    var passesRun = 0
    var lastPassSec = 0.0
    while (passesRun < runs && (passesRun < 2 || {
        val elapsed = (System.nanoTime() - benchT0) / 1e9
        elapsed + lastPassSec <= wallSec
      })) {
      val p0 = System.nanoTime()
      for ((name, fn) <- fns)
        acc(name) = acc.getOrElse(name, Vector.empty) :+ once(fn)
      lastPassSec = (System.nanoTime() - p0) / 1e9
      passesRun += 1
      // CHECKPOINT the artifact file after every completed pass with
      // ≥ 2 samples (VERDICT r14 #1): r14's driver run was killed at
      // its wall limit and the round had ZERO independent numbers
      // because the artifact wrote only at the very end. A kill
      // mid-pass now still leaves a complete, valid min-of-(N-1)
      // artifact on disk (the end-of-round snapshot commit picks it
      // up), runs_completed disclosing which semantics it holds.
      if (passesRun >= 2)
        writeArtifact(fullPath, artifactLines(
          fns.map { case (n, _) => n -> acc(n) }, sfDir, passesRun,
          wallSec, fullPath)._1)
    }
    val (fullLine, headline, nErrors) = artifactLines(
      fns.map { case (n, _) => n -> acc(n) }, sfDir, passesRun, wallSec,
      fullPath)
    writeArtifact(fullPath, fullLine)
    println(headline)
    println(fullLine) // LAST: the driver parses the final JSON line (VERDICT r16 #1)
    spark.stop()
    if (nErrors > 0) sys.exit(1)
  }
}
