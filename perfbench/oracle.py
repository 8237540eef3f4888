"""DuckDB oracle check of the harness's result dumps.

Each op's verified result, dumped to parquet by the JVM side, must
equal DuckDB running the op's oracle SQL over the same generated tree:
same column names, same row count, same dtypes and equal values after
sorting by every column (NaN equals NaN, NULL equals NULL). These are
the comparison rules graft's own oracle gate uses.
"""
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _first_diff(ev, gv):
    """Index of the first differing row of two aligned columns, or None."""
    if ev.dtype != object:
        eq = (ev.values == gv.values) | (ev.isna().values & gv.isna().values)
        return None if eq.all() else int((~eq).argmax())
    for i, (a, b) in enumerate(zip(ev, gv)):
        if a is None or (isinstance(a, float) and math.isnan(a)):
            if not (b is None or (isinstance(b, float) and math.isnan(b))):
                return i
        elif a != b:
            return i
    return None


def _compare(exp, got):
    exp = exp[sorted(exp.columns)]
    got = got[sorted(got.columns)]
    if list(exp.columns) != list(got.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(exp) != len(got):
        return f"rows {len(got)} != {len(exp)}"
    for c in exp.columns:
        if str(exp[c].dtype) != str(got[c].dtype):
            return f"dtype[{c}] {got[c].dtype} != {exp[c].dtype}"
    cols = list(exp.columns)
    exp = exp.sort_values(by=cols, ignore_index=True)
    got = got.sort_values(by=cols, ignore_index=True)
    for c in cols:
        i = _first_diff(exp[c], got[c])
        if i is not None:
            return f"value[{c}][{i}] got={got[c].iloc[i]!r} exp={exp[c].iloc[i]!r}"
    return None


def check(tree, keys, threads):
    """{key: None if the dump equals the oracle, else the reason}."""
    con = duckdb.connect()
    con.sql(f"SET threads TO {threads}")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tree}/{t}.parquet'")
    out = {}
    for key, k in keys.items():
        dump = k.get("dump", {})
        if "error" in dump:
            out[key] = "dump failed: " + dump["error"]
            continue
        try:
            exp = con.sql(k["oracle_sql"]).df()
            got = con.sql(f"SELECT * FROM '{dump['path']}/*.parquet'").df()
            out[key] = _compare(exp, got)
        except Exception as e:  # noqa: BLE001 - any oracle failure is a failed check
            out[key] = f"{type(e).__name__}: {e}"[:300]
    con.close()
    return out
