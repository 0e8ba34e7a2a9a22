"""Output check of the batch workloads: each query's result, written by
the JVM's untimed check pass, against its DuckDB oracle SQL from
`SparkEntry.oracleSql`, run on the same (permuted) tables.

The comparison is the canonicalisation of `scripts/check.py`: columns
sorted by name, rows sorted by every column, equal row counts, equal
dtype kinds, floats equal or both null, everything else equal as text.
"""
import glob

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(got, want):
    """None when the frames agree, else the reason they differ."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    kinds = [c for c in got.columns if got[c].dtype.kind != want[c].dtype.kind]
    if kinds:
        return f"dtype mismatch in {kinds}"
    bad = []
    for c in got.columns:
        g, w = got[c], want[c]
        try:
            if g.dtype.kind == "f" or w.dtype.kind == "f":
                ok = bool(((g.isna() & w.isna()) | (g == w)).all())
            else:
                ok = g.astype(str).equals(w.astype(str))
        except Exception:
            ok = g.astype(str).equals(w.astype(str))
        if not ok:
            bad.append(c)
    return f"value mismatch in {bad}" if bad else None


def check_all(data_dir, out_dir, checks):
    """`checks`: {query: {"ok": wrote its result, "oracle": sql or None}}.
    Returns {query: None if it passed, else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for q, c in sorted(checks.items()):
        if not c["ok"]:
            out[q] = "query failed in the check pass"
            continue
        if not c.get("oracle"):
            out[q] = "no oracle SQL"
            continue
        files = glob.glob(f"{out_dir}/{q}/*.parquet")
        try:
            got = pd.concat([pd.read_parquet(f) for f in files])
            out[q] = compare(got, con.execute(c["oracle"]).df())
        except Exception as e:  # a failed read or oracle is a failed check
            out[q] = f"{type(e).__name__}: {e}"
    con.close()
    return out
