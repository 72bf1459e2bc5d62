"""Seeded input generators for the graft benchmark.

Every input the program sees is made here from the workload seed; the
same (workload, seed) always gives byte-identical files.  Three kinds:

* lake tables  -- every `Tables.names` table with its schema and key
  relationships (orders -> customer, lineitem -> orders/part/supplier,
  customer/supplier -> nation -> region), shaped like the sf0.1 drop at
  a smaller scale;
* a curation corpus -- the `documents` table (and `embeddings`, for the
  Gram kernel) with planted exact- and
  near-duplicate clusters, copied spans (substring dedup) and spans
  copied from the decontamination benchmark slice into training docs;
* raw-zone arrivals -- lineitem-shaped day files in CSV with malformed
  rows, an all-empty column, re-delivered days and orders changelogs.

Each generator also writes the ground truth its checks need
(`truth.json`).
"""
import datetime as dt
import decimal
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the word list of the sf drops' documents table
VOCAB = ("key agg row scan slow fast table value part hash a the line sort "
         "window batch merge spark order data column join small customer "
         "query big filter group stream vector").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PART_ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "big"]
PART_NOUN = ["ring", "plate", "gear", "rod", "widget", "bolt", "anvil", "pin"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
EPOCH = dt.datetime(1970, 1, 1)

# Workload sizes.  Row counts scale with `sf` like the sf drops
# (lineitem ~ 6M x sf); the corpus sizes are absolute.
LAKE_SF = 0.01
CURATE_DOCS = 600
LAKE_DOCS = 500
ARRIVAL_DAYS = 9
ARRIVAL_ROWS = 2000
MALFORMED_ROWS = 5
CHANGES = 200
# (position in the arrival order, day index) of each re-delivered day,
# and the arrivals that also bring an orders changelog
REDELIVERIES = ((6, 1), (9, 3))
CHANGELOG_AT = (3, 7, 10)
ORDERS_BASE = 4000


def _rng(seed, salt):
    h = hashlib.sha256(f"{salt}:{seed}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(h[:8], "little")))


def _ts_us(days):
    """timestamp[us] array from integer days since 1970-01-01."""
    return pa.array(np.asarray(days, dtype=np.int64) * 86_400_000_000,
                    type=pa.timestamp("us"))


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def _days(d):
    return (d - EPOCH).days


def _doc_text(rng, lo=20, hi=110):
    n = int(rng.integers(lo, hi))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def documents(rng, n):
    """The corpus: random-vocabulary background docs plus planted
    structure.  ~8% of docs are exact copies of an earlier doc, ~10%
    near-duplicates of a background doc of 40+ words (one word changed:
    word-2-shingle Jaccard >= 0.9), ~5% carry a 12-word span
    copied from another doc (substring dedup), and ~3% of training docs
    copy a 10-word span of a benchmark doc (doc_id % 97 == 0), the
    decontamination lane's target.  As in the sf drops, similar pairs
    sit either at Jaccard >= 0.8 or far below the dedup lanes' 0.5
    threshold (background pairs near 0.02, copied spans below 0.3):
    MinHash-LSH at 16 bands of 4 is approximate near 0.5, and the lanes
    are tuned for a corpus with that gap."""
    texts, background = [], []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.08:
            texts.append(texts[int(rng.integers(0, i))])
        elif len(background) > 10 and r < 0.18:
            # one near-duplicate per background doc, one word changed
            words = texts[background.pop(int(rng.integers(0, len(background))))].split()
            at = int(rng.integers(0, len(words)))
            words[at] = VOCAB[(VOCAB.index(words[at]) + 1 + int(rng.integers(0, len(VOCAB) - 1)))
                              % len(VOCAB)]
            texts.append(" ".join(words))
        elif i >= 10 and r < 0.23:
            src = texts[int(rng.integers(0, i))].split()
            at = int(rng.integers(0, max(1, len(src) - 12)))
            texts.append(_doc_text(rng, 10, 50) + " " + " ".join(src[at:at + 12])
                         + " " + _doc_text(rng, 10, 50))
        elif i >= 100 and r < 0.26:
            bench = [j for j in range(0, i, 97)]
            src = texts[bench[int(rng.integers(0, len(bench)))]].split()
            at = int(rng.integers(0, max(1, len(src) - 10)))
            texts.append(_doc_text(rng, 10, 40) + " " + " ".join(src[at:at + 10]))
        else:
            texts.append(_doc_text(rng))
            if len(texts[-1].split()) >= 40:
                background.append(i)
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
                         type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings(rng, n):
    """64-d float vectors around 10 labelled centres."""
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, 64))
    emb = (centers[labels] + rng.normal(0, 0.3, (n, 64))).astype(np.float32)
    return {"vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32))}


class _Tables:
    """Writes parquet tables into one directory, counting their rows."""

    def __init__(self, out):
        os.makedirs(out)
        self.out, self.rows = out, {}

    def __call__(self, name, cols):
        _write(os.path.join(self.out, f"{name}.parquet"), cols)
        self.rows[name] = len(next(iter(cols.values())))


def corpus(out, seed):
    """The curation corpus and the embeddings the Gram kernel reads.
    Returns {table: rows}."""
    rng = _rng(seed, "curate")
    put = _Tables(out)
    put("documents", documents(rng, CURATE_DOCS))
    put("embeddings", embeddings(rng, 500))
    return put.rows


def lake(out, seed, sf, n_docs, salt):
    """All ten `Tables.names` tables, key-consistent, into `out`.
    Returns {table: rows}."""
    rng = _rng(seed, salt)
    put = _Tables(out)

    put("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": pa.array(REGIONS)})
    put("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n_cust)])})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    put("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1
                                           + rng.integers(0, 100, n_part), 2))})
    d0, d1 = _days(dt.datetime(1995, 1, 1)), _days(dt.datetime(2001, 8, 1))
    o_date = rng.integers(d0, d1 + 1, n_ord)
    n_lines = rng.integers(1, 8, n_ord)
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n_ord), 2)),
        "o_orderdate": _ts_us(o_date),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, n_ord)])})
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), n_lines)
    n_li = len(l_order)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array((np.arange(n_li) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts_us(o_date[l_order] + rng.integers(1, 122, n_li))})
    n_ev = int(1_000_000 * sf)
    ts0 = _days(dt.datetime(2024, 1, 1)) * 86_400_000_000
    ts = np.sort(ts0 + rng.integers(0, 30 * 86_400_000_000, n_ev))
    put("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n_cust // 10), n_ev).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.uniform(0, 100, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    put("documents", documents(rng, n_docs))
    put("embeddings", embeddings(rng, max(500, int(20_000 * sf))))
    return put.rows


ARRIVAL_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                "l_returnflag", "l_linestatus", "l_shipdate", "l_comment"]
ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate"]


def _day_file(rng, day, n):
    """One delivery of one day: (csv text, good rows, malformed count).
    Amounts are whole cents so the checks can sum them exactly."""
    lines = [",".join(ARRIVAL_COLS)]
    good = []
    ds = day.strftime("%Y-%m-%d")
    for i in range(n):
        qty = int(rng.integers(1, 51))
        row = (int(rng.integers(0, 150_000)), int(rng.integers(0, 20_000)),
               int(rng.integers(0, 1_000)), i % 7 + 1, qty,
               int(rng.integers(90_000, 200_000)) * qty,
               int(rng.integers(0, 11)), int(rng.integers(0, 9)),
               ("A", "N", "R")[int(rng.integers(0, 3))],
               ("F", "O")[int(rng.integers(0, 2))])
        good.append(row)
        lines.append(f"{row[0]},{row[1]},{row[2]},{row[3]},{row[4]}.0,"
                     f"{row[5] // 100}.{row[5] % 100:02d},0.{row[6]:02d},"
                     f"0.{row[7]:02d},{row[8]},{row[9]},{ds},")
    # malformed: rows with extra fields, which DROPMALFORMED must drop
    n_bad = MALFORMED_ROWS
    for _ in range(n_bad):
        at = int(rng.integers(1, len(lines)))
        lines.insert(at, f"{int(rng.integers(0, 150_000))},1,2,3,4.0,5.00,"
                         f"0.01,0.02,A,F,{ds},,corrupt,extra")
    return "\n".join(lines) + "\n", good, n_bad


def arrivals(out, seed):
    """Raw-zone arrivals for the per-file ETL job, plus ground truth.

    ARRIVAL_DAYS consecutive ship days arrive in order; REDELIVERIES
    deliver earlier days again (new content that must replace the old
    partition), and the CHANGELOG_AT arrivals also carry an orders
    changelog merged into the orders snapshot."""
    rng = _rng(seed, "arrivals")
    raw = os.path.join(out, "raw")
    os.makedirs(raw)
    start = dt.datetime(1996, 1, 1) + dt.timedelta(days=int(rng.integers(0, 700)))
    days = [start + dt.timedelta(days=i) for i in range(ARRIVAL_DAYS)]
    # the arrival shape is the same for every seed (only the content is
    # seeded): which days come again, and which arrivals carry a changelog
    order = list(range(ARRIVAL_DAYS))
    for pos, day in REDELIVERIES:
        order.insert(pos, day)
    with_cdc = set(CHANGELOG_AT)

    # orders snapshot the changelogs merge into
    keys = np.arange(ORDERS_BASE, dtype=np.int64)
    o_cust = rng.integers(0, 15_000, ORDERS_BASE)
    o_stat = rng.integers(0, 3, ORDERS_BASE)
    o_cents = rng.integers(90_000, 50_000_000, ORDERS_BASE)
    o_day = rng.integers(_days(dt.datetime(1995, 1, 1)), _days(dt.datetime(1998, 1, 1)),
                         ORDERS_BASE)
    state = {int(k): (int(c), int(s), int(p), int(d))
             for k, c, s, p, d in zip(keys, o_cust, o_stat, o_cents, o_day)}
    _write(os.path.join(out, "orders_base.parquet"), {
        "o_orderkey": pa.array(keys),
        "o_custkey": pa.array(o_cust.astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in o_stat]),
        "o_totalprice": pa.array([decimal.Decimal(int(c)).scaleb(-2) for c in o_cents],
                                 type=pa.decimal128(18, 2)),
        "o_orderdate": pa.array(o_day.astype(np.int32), type=pa.date32())})

    plan, latest, raw_bytes, raw_rows, bad_rows = [], {}, 0, 0, 0
    next_key = ORDERS_BASE
    for a, di in enumerate(order):
        day = days[di]
        n = ARRIVAL_ROWS
        text, good, n_bad = _day_file(rng, day, n)
        name = f"lineitem_{day:%Y%m%d}_a{a:02d}.csv"
        with open(os.path.join(raw, name), "w") as f:
            f.write(text)
        raw_bytes += len(text.encode())
        raw_rows += n + n_bad
        bad_rows += n_bad
        latest[f"{day:%Y-%m-%d}"] = good
        entry = {"csv": f"raw/{name}", "day": f"{day:%Y-%m-%d}", "rows": n + n_bad}
        if a in with_cdc:
            clines = [",".join(ORDER_COLS + ["op", "version"])]
            for v in range(CHANGES):
                r = rng.random()
                if r < 0.2:
                    k, op = next_key, "I"
                    next_key += 1
                else:
                    k, op = int(rng.integers(0, next_key)), ("D" if r < 0.3 else "U")
                c, s = int(rng.integers(0, 15_000)), int(rng.integers(0, 3))
                p, d = int(rng.integers(90_000, 50_000_000)), int(o_day[k % ORDERS_BASE])
                dd = EPOCH + dt.timedelta(days=d)
                clines.append(f"{k},{c},{('F', 'O', 'P')[s]},{p // 100}.{p % 100:02d},"
                              f"{dd:%Y-%m-%d},{op},{v}")
                if op == "D":
                    state.pop(k, None)
                else:
                    state[k] = (c, s, p, d)
            cname = f"orders_changes_a{a:02d}.csv"
            ctext = "\n".join(clines) + "\n"
            with open(os.path.join(raw, cname), "w") as f:
                f.write(ctext)
            raw_bytes += len(ctext.encode())
            entry["changelog"] = f"raw/{cname}"
        plan.append(entry)

    with open(os.path.join(out, "arrivals.tsv"), "w") as f:
        for e in plan:
            f.write(f"{e['csv']}\t{e['day']}\t{e.get('changelog', '')}\n")

    def sums(rows):
        return {"rows": len(rows),
                "qty": sum(r[4] for r in rows),
                "price_cents": sum(r[5] for r in rows),
                "disc_cents": sum(r[6] for r in rows),
                "tax_cents": sum(r[7] for r in rows),
                "orderkey_sum": sum(r[0] for r in rows),
                "by_flag": {f: sum(1 for r in rows if r[8] == f) for f in "ANR"}}
    truth = {
        "arrivals": plan,
        "raw_bytes": raw_bytes, "raw_rows": raw_rows, "malformed_rows": bad_rows,
        "partitions": {d: sums(rows) for d, rows in sorted(latest.items())},
        "orders": {"rows": len(state),
                   "key_sum": sum(state),
                   "price_cents": sum(v[2] for v in state.values())},
    }
    return truth


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` into the empty dir
    `out` (truth.json included)."""
    os.makedirs(out, exist_ok=True)
    if workload == "etl_arrivals":
        truth = arrivals(out, seed)
    elif workload == "curate_corpus":
        truth = {"rows": corpus(os.path.join(out, "lake"), seed)}
    elif workload == "lake_queries":
        truth = {"rows": lake(os.path.join(out, "lake"), seed, LAKE_SF, LAKE_DOCS, "lake")}
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth
