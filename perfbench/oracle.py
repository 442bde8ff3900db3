"""DuckDB oracle compare for the benchmark's output checks.

An op's output, saved as parquet by the check pass, must equal the rows
its DuckDB SQL gives over the same generated tables: same column names,
same multiset of rows, floats equal within 1e-9 (relative).
"""
import decimal
import glob
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

TOL = 1e-9


def kernel_rows(data_dir):
    """Distinct (poly_doc, tile) pairs with a point strictly inside the
    doc's zone box: one polygon per order (the zone of its smallest
    l_partkey), points on the 0.25 grid of GeoTables, 8x8 tiles of 12.5.
    Counted with a 2-D prefix sum over the 400x400 grid occupancy."""
    li = pq.read_table(os.path.join(data_dir, "lineitem.parquet"),
                       columns=["l_orderkey", "l_partkey", "l_suppkey"]).to_pandas()
    ok, pk, sk = (li[c].to_numpy() for c in ("l_orderkey", "l_partkey", "l_suppkey"))
    occ = np.zeros((401, 401), dtype=np.int64)
    np.add.at(occ, (1 + (pk * 7 + ok * 11) % 400, 1 + (sk * 13 + ok * 17) % 400), 1)
    pre = occ.cumsum(0).cumsum(1)  # pre[i+1, j+1] = points with gi <= i, gj <= j

    def count(i0, i1, j0, j1):  # points with i0 <= gi <= i1, j0 <= gj <= j1
        i0, j0 = np.maximum(i0, 0), np.maximum(j0, 0)
        i1, j1 = np.minimum(i1, 399), np.minimum(j1, 399)
        n = pre[i1 + 1, j1 + 1] - pre[i0, j1 + 1] - pre[i1 + 1, j0] + pre[i0, j0]
        return np.where((i0 <= i1) & (j0 <= j1), n, 0)

    mpk = li.groupby("l_orderkey")["l_partkey"].min().to_numpy()
    x0, y0 = (mpk * 17) % 90, (mpk * 31) % 90
    x1, y1 = x0 + 4 + mpk % 7, y0 + 4 + (mpk * 11) % 7
    # strict interior on the grid: 4*x0 < gi < 4*x1
    pi0, pi1, pj0, pj1 = 4 * x0 + 1, 4 * x1 - 1, 4 * y0 + 1, 4 * y1 - 1
    total = 0
    for tc in range(8):  # x in [12.5 tc, 12.5 tc + 12.5), the last tile open-ended
        ti0, ti1 = 50 * tc, 399 if tc == 7 else 50 * tc + 49
        for tr in range(8):  # tr = min(7, floor((100 - y) / 12.5))
            tj0, tj1 = (0, 50) if tr == 7 else (351 - 50 * tr, 400 - 50 * tr)
            n = count(np.maximum(pi0, ti0), np.minimum(pi1, ti1),
                      np.maximum(pj0, tj0), np.minimum(pj1, tj1))
            total += int((n > 0).sum())
    return total


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _key(v):
    if v is None:
        return (0, 0)
    if isinstance(v, float):
        return (1, round(v, 6))
    if isinstance(v, (int, bool)):
        return (1, float(v))
    if isinstance(v, tuple):
        return (2, tuple(_key(x) for x in v))
    return (3, str(v))


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(a - b) <= TOL * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def _rows(con, sql):
    cur = con.execute(sql)
    names = [d[0].lower() for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in cur.fetchall()]
    rows.sort(key=lambda r: tuple(_key(v) for v in r))
    return [names[i] for i in order], rows


def compare(con, sql, out_dir):
    """Returns (ok, detail)."""
    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    if not files:
        return False, f"no output under {os.path.basename(out_dir)}"
    got_cols, got = _rows(con, f"SELECT * FROM read_parquet('{out_dir}/*.parquet')")
    want_cols, want = _rows(con, sql)
    if got_cols != want_cols:
        return False, f"columns {got_cols} != oracle {want_cols}"
    if len(got) != len(want):
        return False, f"{len(got)} rows != oracle {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if not all(_same(x, y) for x, y in zip(g, w)):
            return False, f"row {i} differs: {g} != oracle {w}"
    return True, f"{len(got)} rows match"
