#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The script
  1. builds graft from `src/main/scala` together with the harness in
     `perfbench/jvm` (sbt, offline; skipped while the sources are
     unchanged),
  2. generates the workload's input tree from the seed (perfbench/gen.py),
  3. runs the harness JVM (`graftbench.Main`) on a `GraftSession.local`
     session with one local core per CPU `nproc` reports,
  4. checks every op's result against DuckDB running the op's oracle
     SQL (perfbench/oracle.py), and
  5. prints the metrics; the last stdout line is the JSON result.

With `--trace 0` the metrics are the end-to-end ones: set-up time,
warm per-op latency, throughput, transfer row rate, peak RSS and disk
left behind. With
`--trace 1` the run adds a traced loop and prints the per-layer ones,
and the traced loop's spans go to `perfbench/.ledger/`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM = os.path.join(HERE, "jvm")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402
import oracle  # noqa: E402

# Input size per workload: `scale` and `doc_scale` as in gen.py (1 = the
# sf0.1 cardinalities); `drops` ndjson files of an events table of
# `drop_scale` are the sources of the benchmark's own transfer. `warm`
# untimed passes follow the cold one: serve's sub-second ops run
# 40-80% slower in the first pass after it, corpus's ops do not.
WORKLOADS = {
    "serve": {"scale": 0.1, "doc_scale": 0.1, "warm": 1},
    "corpus": {"scale": 0.5, "doc_scale": 1, "drops": 4, "drop_scale": 0.5, "warm": 0},
}
# Class-data archive of the harness JVM: the first run after a build
# writes it at exit, later runs map it, which takes seconds off JVM and
# session start.
ARCHIVE = os.path.join(JVM, "target", "graftbench.jsa")
HEAP_MIN, HEAP, YOUNG = "1g", "3g", "512m"
RUN_LIMIT_S = 170
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(JVM, "src/**/*.scala"), recursive=True)
                   + [os.path.join(JVM, "build.sbt"),
                      os.path.join(JVM, "project/build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Classpath of the built harness; builds when the sources changed."""
    if not glob.glob(os.path.join(ROOT, "src/main/scala/graft/*.scala")):
        sys.exit("graft sources not found under src/main/scala: run from a checkout root")
    stamp = os.path.join(JVM, "target", "bench-build.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("digest") == digest:
            return s["classpath"]
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)  # its classes are about to change
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=JVM, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=850)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and os.pathsep in ln]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:], p.stderr[-2000:])
        sys.exit("build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": lines[-1].strip()}, fh)
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1].strip()


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def rows_per_s(timed):
    """Rows written by a transfer per second spent inside it, the median
    over the timed transfers; in a mix without transfers (serve writes
    nothing), result rows per second spent in the timed actions."""
    xfers = [o for o in timed if o["rows_written"] is not None]
    if xfers:
        return statistics.median(o["rows_written"] / (o["transfer_ms"] / 1e3) for o in xfers)
    return sum(o["rows"] for o in timed) / sum(o["action_s"] for o in timed)


def end_to_end(res, timed, mix):
    lat = [o["latency_s"] for o in timed]
    return {
        "setup_s": (res["setup_s"], "s"),
        "op_p50_s": (quantile(lat, 0.5), "s"),
        "op_p90_s": (quantile(lat, 0.9), "s"),
        # every pass runs the whole mix once; the median pass keeps one
        # stalled pass from moving the figure
        "ops_per_s": (mix / statistics.median(res["timed_pass_s"]), "1/s"),
        "rows_per_s": (rows_per_s(timed), "1/s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "disk_mb": (res["disk_bytes"] / 1e6, "MB"),
    }


# The per-layer metrics a traced run reports on its last line, on every
# workload, whether or not the workload exercises the layer (the
# transfer and stream figures read 0 on serve).
PER_LAYER = [
    "operators.build_ms", "operators.action_ms", "operators.jobs_before_action",
    "plans.transfer_ms", "plans.rows_written", "plans.attempts",
    "plans.output_bytes_per_input_byte",
    "streaming.batches", "streaming.trigger_ms", "streaming.wal_commit_ms",
    "streaming.state_commit_ms", "streaming.state_rows",
    "sources.listing_jobs", "sources.input_mb", "sources.staged_builds",
    "sources.staged_mb",
    "functions.cosine_ns_per_row", "functions.minhash_ns_per_row",
    "functions.simhash64_ns_per_row", "functions.pq_codes_ns_per_row",
    "functions.lsh_sigs_ns_per_row",
    "cache.release_ms",
    "spark.plan.executions", "spark.plan.analysis_ms",
    "spark.plan.optimization_ms", "spark.plan.planning_ms",
    "spark.sched.jobs", "spark.sched.stages", "spark.sched.tasks",
    "spark.sched.failed_tasks", "spark.sched.driver_gap_ms",
    "spark.exec.run_ms", "spark.exec.cpu_ms", "spark.exec.gc_ms",
    "spark.exec.shuffle_read_mb", "spark.exec.shuffle_write_mb",
    "spark.exec.spill_mb", "spark.exec.busy_frac",
    "trace.overhead_frac",
]


def per_layer(res, traced, cores):
    """Per-op means over the traced passes, grouped by layer."""
    tr = res["traces"]
    n = max(1, len(tr))
    nt = max(1, len(traced))

    def mean(f):
        return sum(f(t) for t in tr) / n

    def total(f):
        return sum(f(t) for t in tr)

    xfers = [t for t in tr if t["counts"]["rows_written"] > 0]
    nx = max(1, len(xfers))
    batches = total(lambda t: t["counts"]["batches"])
    wall = total(lambda t: t["spans"][0]["end"] - t["spans"][0]["start"])
    mb = 1e6
    m = {
        "operators.build_ms": (1e3 * sum(o["build_s"] for o in traced) / nt, "ms"),
        "operators.action_ms": (1e3 * sum(o["action_s"] for o in traced) / nt, "ms"),
        "operators.jobs_before_action": (mean(lambda t: t["counts"]["jobs_before_action"]), "count"),
        "plans.transfer_ms": (sum(t["times_ms"]["transfer"] for t in xfers) / nx, "ms"),
        "plans.rows_written": (sum(t["counts"]["rows_written"] for t in xfers) / nx, "count"),
        "plans.attempts": (sum(t["counts"]["attempts"] for t in xfers) / nx, "count"),
        "plans.output_bytes_per_input_byte": (
            sum(t["bytes"]["transfer_output"] for t in xfers)
            / max(1, sum(t["bytes"]["transfer_source"] for t in xfers)), "ratio"),
        "streaming.batches": (mean(lambda t: t["counts"]["batches"]), "count"),
        "streaming.trigger_ms": (total(lambda t: t["times_ms"]["trigger"]) / max(1, batches), "ms"),
        "streaming.wal_commit_ms": (total(lambda t: t["times_ms"]["wal_commit"]) / max(1, batches), "ms"),
        "streaming.state_commit_ms": (total(lambda t: t["times_ms"]["state_commit"]) / max(1, batches), "ms"),
        "streaming.state_rows": (mean(lambda t: t["counts"]["state_rows"]), "count"),
        "sources.listing_jobs": (mean(lambda t: t["counts"]["listing_jobs"]), "count"),
        "sources.input_mb": (mean(lambda t: t["bytes"]["input"]) / mb, "MB"),
        "sources.staged_builds": (res["staged_builds"], "count"),
        "sources.staged_mb": (res["staged_bytes"] / mb, "MB"),
        "cache.release_ms": (1e3 * sum(o["release_s"] for o in traced) / nt, "ms"),
        "spark.plan.executions": (mean(lambda t: t["counts"]["executions"]), "count"),
        "spark.plan.analysis_ms": (mean(lambda t: t["times_ms"]["analysis"]), "ms"),
        "spark.plan.optimization_ms": (mean(lambda t: t["times_ms"]["optimization"]), "ms"),
        "spark.plan.planning_ms": (mean(lambda t: t["times_ms"]["planning"]), "ms"),
        "spark.sched.jobs": (mean(lambda t: t["counts"]["jobs"]), "count"),
        "spark.sched.stages": (mean(lambda t: t["counts"]["stages"]), "count"),
        "spark.sched.tasks": (mean(lambda t: t["counts"]["tasks"]), "count"),
        "spark.sched.failed_tasks": (mean(lambda t: t["counts"]["failed_tasks"]), "count"),
        "spark.sched.driver_gap_ms": (mean(lambda t: t["times_ms"]["driver_gap"]), "ms"),
        "spark.exec.run_ms": (mean(lambda t: t["times_ms"]["run"]), "ms"),
        "spark.exec.cpu_ms": (mean(lambda t: t["times_ms"]["cpu"]), "ms"),
        "spark.exec.gc_ms": (mean(lambda t: t["times_ms"]["gc"]), "ms"),
        "spark.exec.shuffle_read_mb": (mean(lambda t: t["bytes"]["shuffle_read"]) / mb, "MB"),
        "spark.exec.shuffle_write_mb": (mean(lambda t: t["bytes"]["shuffle_write"]) / mb, "MB"),
        "spark.exec.spill_mb": (mean(lambda t: t["bytes"]["spill"]) / mb, "MB"),
        "spark.exec.busy_frac": (total(lambda t: t["times_ms"]["run"]) / max(1, cores * wall), "ratio"),
        # traced over untraced median pass time, minus 1
        "trace.overhead_frac": (statistics.median(res["traced_pass_s"])
                                / statistics.median(res["timed_pass_s"]) - 1.0, "ratio"),
    }
    for k, v in res["kernels_ns_per_row"].items():
        m[f"functions.{k}_ns_per_row"] = (v, "ns")
    return m


def repeat_report(traces):
    """Keys whose job, stage and task counts repeated exactly across the
    traced passes."""
    seen = {}
    for t in traces:
        c = t["counts"]
        seen.setdefault(t["key"], set()).add((c["jobs"], c["stages"], c["tasks"]))
    return sorted(k for k, v in seen.items() if len(v) == 1), sorted(
        k for k, v in seen.items() if len(v) > 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()

    classpath = build()
    log(f"[{time.time() - t_start:6.1f}s] build checked")
    w = WORKLOADS[a.workload]
    tree, digest = gen.tree(os.path.join(HERE, ".data"), a.seed, w["scale"], w["doc_scale"],
                            w.get("drops", 0), w.get("drop_scale", 1))

    log(f"[{time.time() - t_start:6.1f}s] inputs ready")
    runs = os.path.join(HERE, ".runs")
    shutil.rmtree(runs, ignore_errors=True)  # leftovers of an interrupted run
    run = os.path.join(runs, f"{a.workload}-s{a.seed}-{os.getpid()}")
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           # a fixed young generation, reused in place, and an old one
           # that grows only when the data surviving a collection needs
           # it (no pause-time-driven sizing): peak RSS then follows the
           # program's memory use rather than GC timing
           + [f"-Xms{HEAP_MIN}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseParallelGC",
              "-XX:-UseAdaptiveSizePolicy",
              (f"-XX:SharedArchiveFile={ARCHIVE}" if os.path.exists(ARCHIVE)
               else f"-XX:ArchiveClassesAtExit={ARCHIVE}"),
              f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.sql.warehouse.dir={run}/warehouse",
              f"-Dderby.system.home={run}/derby",
              "-cp", classpath, "graftbench.Main",
              f"workload={a.workload}", f"seed={a.seed}", f"tree={tree}", f"run={run}",
              f"seconds={a.seconds}", f"trace={a.trace}", f"cores={cores}",
              f"warm={w['warm']}"])
    with open(os.path.join(run, "jvm.log"), "w") as jlog:
        try:
            p = subprocess.run(cmd, cwd=run, stdin=subprocess.DEVNULL, stdout=jlog,
                               stderr=subprocess.STDOUT,
                               timeout=max(30, RUN_LIMIT_S - (time.time() - t_start)))
            rc = p.returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    result = os.path.join(run, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(run, "jvm.log")) as fh:
            log(fh.read()[-4000:])
        shutil.rmtree(run, ignore_errors=True)
        sys.exit(f"harness failed ({rc})")
    with open(result) as fh:
        res = json.load(fh)

    log(f"[{time.time() - t_start:6.1f}s] harness done")
    with open(os.path.join(run, "jvm.log")) as fh:
        for line in fh:
            if line.startswith("[graftbench]"):
                log(line.rstrip())
    bad = oracle.check(tree, res["keys"], cores)
    log(f"[{time.time() - t_start:6.1f}s] oracle checked")
    if gen.digest_of(tree) != digest:
        bad = {k: "input tree modified by the run" for k in res["keys"]}
    timed = [o for o in res["ops"] if o["phase"] == "timed"]
    traced = [o for o in res["ops"] if o["phase"] == "traced"]
    measured = traced if a.trace else timed
    failed = sum(1 for o in measured if not o["ok"] or bad.get(o["key"]))
    # a key is sound when its oracle check passed and its cold run did
    # not throw
    correct = failed == 0 and not any(bad.values()) and not any(
        k["cold_error"] for k in res["keys"].values())

    env = dict(res["env"], heap=HEAP, tree_digest=digest, scale=w["scale"],
               doc_scale=w["doc_scale"], warm_passes=w["warm"])
    print("env " + json.dumps(env, sort_keys=True))
    print(f"setup_s {res['setup_s']}")
    print("pass_s " + json.dumps({"timed": [round(x, 3) for x in res["timed_pass_s"]],
                                  "traced": [round(x, 3) for x in res["traced_pass_s"]]}))
    for key, k in res["keys"].items():
        lat = [o["latency_s"] for o in measured if o["key"] == key]
        line = (f"key {key:32s} ops={len(lat):3d} p50={quantile(lat, 0.5):7.3f}s "
                f"rows={k['rows']} oracle={'ok' if not bad.get(key) else 'FAIL ' + bad[key]}")
        tr = [t for t in res["traces"] if t["key"] == key]
        if tr:
            wall = sum(t["spans"][0]["end"] - t["spans"][0]["start"] for t in tr)
            line += (f" busy_frac={sum(t['times_ms']['run'] for t in tr) / max(1, cores * wall):.3f}"
                     f" driver_gap_ms={statistics.median(t['times_ms']['driver_gap'] for t in tr):.0f}")
        print(line)
    if a.trace:
        metrics = per_layer(res, traced, cores)
        same, differ = repeat_report(res["traces"])
        print("counts_repeated " + json.dumps({"exact": same, "varied": differ}))
        print(f"trace_overhead untraced_pass_s={statistics.median(res['timed_pass_s']):.4f} "
              f"traced_pass_s={statistics.median(res['traced_pass_s']):.4f}")
        print("layers " + json.dumps({k: round(v, 6) for k, (v, _) in metrics.items()}))
        metrics = {k: metrics[k] for k in PER_LAYER}
        ledger = os.path.join(HERE, ".ledger")
        os.makedirs(ledger, exist_ok=True)
        with open(os.path.join(ledger, f"{a.workload}-s{a.seed}.json"), "w") as fh:
            json.dump({"env": env, "traces": res["traces"]}, fh)
    else:
        metrics = end_to_end(res, timed, len(res["keys"]))
    shutil.rmtree(run, ignore_errors=True)
    print(json.dumps({
        "correct": correct, "attempted": len(measured), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
