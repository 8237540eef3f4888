#!/usr/bin/env python3
"""Refactor parity between two checkouts of graft (a parent and a change
that claims no gain).

  python3 tools/parity.py counts <parent ledger> <change ledger>
      Per-key Spark job / stage / task counts of two traced perfbench runs
      (the `perfbench/.ledger/<workload>-s<seed>.json` each checkout's
      `perfbench/run.py --trace 1` leaves behind).
  python3 tools/parity.py dumps <parent dump dir> <change dump dir> [prefix ...]
      Row-set equality (duplicates counted) and column types of every
      `graft.Verify` output whose name starts with a prefix (default `sim_`).

Prints one line per key and exits 1 if any key differs.
"""
import json, os, sys


def counts(path):
    with open(path) as fh:
        traces = json.load(fh)["traces"]
    per_key = {}
    for t in traces:
        c = t["counts"]
        per_key.setdefault(t["key"], []).append((c["jobs"], c["stages"], c["tasks"]))
    # the number of passes depends on the run's speed; the counts do not
    return {k: sorted(set(v)) for k, v in per_key.items()}


def diff_counts(parent, change):
    p, c = counts(parent), counts(change)
    bad = 0
    for key in sorted(set(p) | set(c)):
        same = p.get(key) == c.get(key)
        bad += not same
        print(f"{'same' if same else 'DIFF'} {key}: distinct (jobs, stages, tasks) per pass "
              f"{p.get(key)} -> {c.get(key)}")
    return bad


def diff_dumps(parent, change, prefixes):
    import duckdb
    names = {n for d in (parent, change) for n in os.listdir(d)
             if n.startswith(tuple(prefixes)) and os.path.isdir(os.path.join(d, n))}
    bad = 0
    for name in sorted(names):
        p, c = (f"'{d}/{name}/*.parquet'" for d in (parent, change))
        con = duckdb.connect()  # a failed query aborts the connection's transaction
        try:
            types = [con.sql(f"DESCRIBE SELECT * FROM {x}").fetchall() for x in (p, c)]
            extra = [con.sql(f"SELECT COUNT(*) FROM (SELECT * FROM {a} EXCEPT ALL "
                             f"SELECT * FROM {b})").fetchone()[0] for a, b in ((p, c), (c, p))]
            rows = con.sql(f"SELECT COUNT(*) FROM {c}").fetchone()[0]
            same = types[0] == types[1] and extra == [0, 0]
            note = f"{rows} rows" if same else f"types equal={types[0] == types[1]}, " \
                f"parent-only={extra[0]}, change-only={extra[1]}"
        except Exception as e:  # a side failed to dump this key
            same, note = False, str(e).splitlines()[0]
        bad += not same
        print(f"{'same' if same else 'DIFF'} {name}: {note}")
    return bad


if __name__ == "__main__":
    if len(sys.argv) < 4 or sys.argv[1] not in ("counts", "dumps"):
        sys.exit(__doc__)
    if sys.argv[1] == "counts":
        bad = diff_counts(sys.argv[2], sys.argv[3])
    else:
        bad = diff_dumps(sys.argv[2], sys.argv[3], sys.argv[4:] or ["sim_"])
    print(f"\n{bad} differ")
    sys.exit(1 if bad else 0)
