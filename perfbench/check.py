"""Output checks, run after the timed body.

Lane outputs are compared with DuckDB running the lane's oracle SQL on
the same generated inputs, canonicalized as the repository's oracle
compare does (sorted column names, rows sorted by their string form,
values compared as strings).  The ETL zones are read back and compared
with the generator's ground truth.  Each check returns a list of
failure messages; an empty list means the output is correct.
"""
import glob
import os
import time

import duckdb
import pandas as pd


def _canon(df):
    cols = sorted(df.columns)
    df = df[cols].copy()
    for c in cols:
        if df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: str(list(v)) if hasattr(v, "__len__") and not isinstance(v, str) else v)
    return df.sort_values(by=cols, kind="mergesort",
                          key=lambda s: s.astype(str)).reset_index(drop=True)


def _connect(lake_dir):
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(lake_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def lanes(lake_dir, lanes_dir, oracle, took):
    """{lane/kind: [failures]} for every lane output directory; adds each
    lane's oracle seconds to `took`."""
    con = _connect(lake_dir)
    out, expected = {}, {}
    for d in sorted(glob.glob(os.path.join(lanes_dir, "*", "*"))):
        lane, kind = d.split(os.sep)[-2:]
        key = f"{lane}/{kind}"
        try:
            got = pd.read_parquet(d)
        except Exception as e:
            out[key] = [f"unreadable output: {e}"]
            continue
        if lane not in oracle:
            out[key] = [] if len(got) else ["empty output and no oracle"]
            continue
        try:
            if lane not in expected:
                t = time.time()
                expected[lane] = _canon(con.execute(oracle[lane]).df())
                took[lane] = time.time() - t
            g, e = _canon(got), expected[lane]
        except Exception as ex:
            out[key] = [f"oracle/canon error: {ex}"]
            continue
        if list(g.columns) != list(e.columns):
            out[key] = [f"columns {list(g.columns)} != oracle {list(e.columns)}"]
        elif len(g) != len(e):
            out[key] = [f"rows {len(g)} != oracle {len(e)}"]
        else:
            bad = [c for c in g.columns
                   if not (g[c].astype(str).values == e[c].astype(str).values).all()]
            out[key] = [f"values differ in {bad}"] if bad else []
    return out


def etl(zones, orders_dir, truth):
    """Failures of the ETL zones against the generator's ground truth:
    rows per partition, exact measure sums, malformed rows dropped,
    re-delivered days replaced, and the merged orders state."""
    con = duckdb.connect()
    fails = []
    exp = truth["partitions"]

    conf = con.execute(f"""
        SELECT year || '-' || month || '-' || day AS d, count(*) AS rows,
               CAST(sum(l_quantity) AS BIGINT) AS qty,
               CAST(sum(round(l_extendedprice * 100)) AS BIGINT) AS price_cents,
               CAST(sum(round(l_discount * 100)) AS BIGINT) AS disc_cents,
               CAST(sum(round(l_tax * 100)) AS BIGINT) AS tax_cents,
               CAST(sum(l_orderkey) AS BIGINT) AS orderkey_sum,
               count(*) FILTER (WHERE l_returnflag = 'A') AS a,
               count(*) FILTER (WHERE l_returnflag = 'N') AS n,
               count(*) FILTER (WHERE l_returnflag = 'R') AS r
        FROM read_parquet('{zones}/conformed/lineitem/*/*/*/*.parquet',
                          hive_partitioning = true, hive_types_autocast = false)
        GROUP BY 1 ORDER BY 1""").fetchall()
    got = {r[0]: r for r in conf}
    if sorted(got) != sorted(exp):
        fails.append(f"conformed partitions {sorted(got)} != {sorted(exp)}")
    for d, t in exp.items():
        r = got.get(d)
        if r is None:
            continue
        want = (d, t["rows"], t["qty"], t["price_cents"], t["disc_cents"], t["tax_cents"],
                t["orderkey_sum"], t["by_flag"]["A"], t["by_flag"]["N"], t["by_flag"]["R"])
        if tuple(r) != want:
            fails.append(f"conformed {d}: {tuple(r)} != {want}")
    ctype = con.execute(f"""SELECT typeof(l_comment) FROM read_parquet(
        '{zones}/conformed/lineitem/*/*/*/*.parquet', hive_partitioning = true) LIMIT 1""").fetchall()
    if ctype and ctype[0][0] != "VARCHAR":
        fails.append(f"all-empty column stored as {ctype[0][0]}, not string")

    pb = con.execute(f"""
        SELECT year || '-' || month || '-' || day AS d, CAST(sum(n_lines) AS BIGINT),
               CAST(sum(qty) AS BIGINT), CAST(sum(revenue * 100) AS BIGINT),
               CAST(sum(discount * 100) AS BIGINT), CAST(sum(tax * 100) AS BIGINT),
               CAST(sum(n_lines) FILTER (WHERE returnflag = 'A') AS BIGINT),
               CAST(sum(n_lines) FILTER (WHERE returnflag = 'N') AS BIGINT),
               CAST(sum(n_lines) FILTER (WHERE returnflag = 'R') AS BIGINT),
               CAST(sum(n_commented) AS BIGINT)
        FROM read_parquet('{zones}/purpose_built/lineitem_daily/*/*/*/*.parquet',
                          hive_partitioning = true, hive_types_autocast = false)
        GROUP BY 1 ORDER BY 1""").fetchall()
    got = {r[0]: r for r in pb}
    if sorted(got) != sorted(exp):
        fails.append(f"purpose-built partitions {sorted(got)} != {sorted(exp)}")
    for d, t in exp.items():
        r = got.get(d)
        if r is None:
            continue
        want = (d, t["rows"], t["qty"], t["price_cents"], t["disc_cents"], t["tax_cents"],
                t["by_flag"]["A"], t["by_flag"]["N"], t["by_flag"]["R"], 0)
        if tuple(r) != want:
            fails.append(f"purpose-built {d}: {tuple(r)} != {want}")

    o = con.execute(f"""SELECT count(*), CAST(sum(o_orderkey) AS BIGINT),
        CAST(sum(o_totalprice * 100) AS BIGINT), count(DISTINCT o_orderkey)
        FROM read_parquet('{orders_dir}/*.parquet')""").fetchone()
    t = truth["orders"]
    want = (t["rows"], t["key_sum"], t["price_cents"], t["rows"])
    if tuple(o) != want:
        fails.append(f"merged orders {tuple(o)} != {want}")
    return fails


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs
               if not f.startswith(".") and not f.startswith("_"))
