"""Untimed output checks for one benchmark process.

Catalog rows are compared order-insensitively against DuckDB running the
program's own oracle SQL (`SparkEntry.oracleSql`) on the same fixture, in
the canonical form scripts/check_oracle.py uses: columns sorted by name,
rows sorted, every cell compared as a (type, text) pair. DuckDB's answers
are computed once per fixture and cached beside it, keyed by the SQL text.
Rows without an oracle must return at least one row.

Battery cells must give 500 feature rows and the generated fade slope, and
the collated table must hold cells x cycles rows.
"""
import glob
import hashlib
import json
import math
import os


def cell(v):
    import pandas as pd
    if v is None or v is pd.NaT:
        return ("null", "")
    if isinstance(v, float) and math.isnan(v):
        return ("float", "NaN")
    t = type(v).__name__
    if t in ("float", "float32", "float64"):
        return ("float:" + t, repr(float(v)))
    if t in ("int", "int8", "int16", "int32", "int64", "uint32", "uint64"):
        return ("int:" + t, str(int(v)))
    return (t, str(v))


def canon(df):
    cols = sorted(df.columns)
    rows = sorted(tuple(cell(v) for v in r)
                  for r in df[cols].itertuples(index=False, name=None))
    return [list(map(list, r)) for r in rows], cols


def oracle_answer(con, fixture, sql):
    """DuckDB's canonical answer for `sql`, cached with the fixture."""
    cache = os.path.join(fixture, "oracle_cache")
    os.makedirs(cache, exist_ok=True)
    path = os.path.join(cache, hashlib.sha256(sql.encode()).hexdigest()[:24]
                        + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    rows, cols = canon(con.sql(sql).df())
    ans = {"rows": rows, "cols": cols}
    with open(path + ".tmp", "w") as f:
        json.dump(ans, f)
    os.replace(path + ".tmp", path)
    return ans


def check_catalog(ops, check_dir, fixture, record):
    """-> {op: None if correct else a one-line reason}"""
    import duckdb
    import pyarrow.parquet as pq
    oracle = record["checks"].get("oracle_sql", {})
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for p in sorted(glob.glob(os.path.join(fixture, "*.parquet"))):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name in ops:
        if isinstance(record["checks"].get(name), str):
            out[name] = "check run failed: " + record["checks"][name]
            continue
        got = pq.read_table(os.path.join(check_dir, name)).to_pandas()
        if name not in oracle:
            out[name] = None if len(got) > 0 else "rows-only: 0 rows"
            continue
        try:
            want = oracle_answer(con, fixture, oracle[name])
        except Exception as e:  # noqa: BLE001 - any oracle failure is a check failure
            out[name] = f"oracle SQL failed: {e}"
            continue
        rows, cols = canon(got)
        if cols != want["cols"]:
            out[name] = f"columns differ: {cols} vs {want['cols']}"
        elif rows != want["rows"]:
            out[name] = (f"mismatch: spark {len(rows)} rows, "
                         f"duckdb {len(want['rows'])} rows")
        else:
            out[name] = None
    return out


def check_battery(manifest, record):
    import pandas as pd
    out_dir = record["checks"]["out_dir"]
    res = {}
    for c in manifest["cells"]:
        name = c["cell"]
        try:
            feats = pd.concat(pd.read_csv(p) for p in glob.glob(
                os.path.join(out_dir, f"{name}_features_full.csv", "*.csv")))
            summ = pd.concat(pd.read_csv(p) for p in glob.glob(
                os.path.join(out_dir, f"{name}_summary.csv", "*.csv")))
            slope = float(summ["fade_slope_pct_per_cycle"].iloc[0])
            want = -c["fade"] * 100.0
            if len(feats) != manifest["cycles"]:
                res[name] = f"{len(feats)} feature rows, want {manifest['cycles']}"
            elif not abs(slope - want) <= 1e-4:
                res[name] = f"fade slope {slope} %/cycle, want {want}"
            else:
                res[name] = None
        except Exception as e:  # noqa: BLE001 - missing or unreadable sink
            res[name] = f"sink unreadable: {e}"
    want_rows = len(manifest["cells"]) * manifest["cycles"]
    got_rows = record["checks"].get("collated_rows")
    res["collate"] = (None if got_rows == want_rows else
                      f"collated {got_rows} rows, want {want_rows}")
    return res
