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
  python3 tools/parity.py lines <parent checkout> <change checkout>
      Code lines of every `src/main/scala` file and in total: lines that are
      neither blank nor wholly inside comments.

`counts` and `dumps` print one line per key and exit 1 if any key differs.
"""
import json, os, re, sys

CHAR = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'")


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


def code_lines(path):
    """Lines holding a character outside comments. Scala block comments
    nest; a `//` or `/*` inside a string or char literal is code."""
    src = open(path, encoding="utf-8").read()
    code, depth, i, n = set(), 0, 0, len(src)
    line = 1
    while i < n:
        two = src[i:i + 2]
        if depth:
            if two == "/*":
                depth, i = depth + 1, i + 2
            elif two == "*/":
                depth, i = depth - 1, i + 2
            else:
                line += src[i] == "\n"
                i += 1
        elif two == "//":
            i = src.find("\n", i)
            i = n if i < 0 else i
        elif two == "/*":
            depth, i = 1, i + 2
        elif src[i] == '"':
            quote = '"""' if src.startswith('"""', i) else '"'
            j = i + len(quote)
            while j < n and not src.startswith(quote, j):
                j += 2 if quote == '"' and src[j] == "\\" else 1
            if quote == '"""':  # a closing run of quotes ends at its last three
                while src.startswith('"', j + 3):
                    j += 1
            j = min(n, j + len(quote))
            for k in range(src.count("\n", i, j) + 1):
                code.add(line + k)
            line += src.count("\n", i, j)
            i = j
        elif m := CHAR.match(src, i):  # '"' would otherwise open a string
            code.add(line)
            i = m.end()
        else:
            if src[i] == "\n":
                line += 1
            elif not src[i].isspace():
                code.add(line)
            i += 1
    return len(code)


def diff_lines(parent, change):
    def tree(root):
        base = os.path.join(root, "src", "main", "scala")
        return {os.path.relpath(os.path.join(d, f), base): code_lines(os.path.join(d, f))
                for d, _, fs in os.walk(base) for f in fs if f.endswith(".scala")}
    p, c = tree(parent), tree(change)
    for f in sorted(set(p) | set(c)):
        a, b = p.get(f, 0), c.get(f, 0)
        print(f"{a:6d} {b:6d} {b - a:+6d} {f}")
    a, b = sum(p.values()), sum(c.values())
    print(f"{a:6d} {b:6d} {b - a:+6d} total")


if __name__ == "__main__":
    if len(sys.argv) < 4 or sys.argv[1] not in ("counts", "dumps", "lines"):
        sys.exit(__doc__)
    if sys.argv[1] == "lines":
        diff_lines(sys.argv[2], sys.argv[3])
        sys.exit(0)
    if sys.argv[1] == "counts":
        bad = diff_counts(sys.argv[2], sys.argv[3])
    else:
        bad = diff_dumps(sys.argv[2], sys.argv[3], sys.argv[4:] or ["sim_"])
    print(f"\n{bad} differ")
    sys.exit(1 if bad else 0)
