#!/usr/bin/env python3
"""Deterministic inputs for the graft benchmark (numpy + pyarrow).

    gen.py tables DIR --sf 0.01 --seed 42 --names lineitem,orders,...
        one parquet file with one row group per table, as DIR/<table>.parquet,
        with the schemas and value domains of FIXTURES.md (the layout of the
        fixture corpora, so graft's scan-spread gate sees the same shape)
    gen.py events DIR --seed N --backlog 16x1500 --live 80x100
        event files for the stream workload: DIR/backlog/ (present at start,
        strictly increasing modification times, because the file source
        orders by them) and DIR/pending/ (published later, one at a time)

The same arguments always give the same files.
"""
import argparse
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("the a fast slow key order sort table scan merge hash join agg group filter row "
         "column value data query spark stream batch window vector line part customer "
         "small big").split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
US_PER_DAY = 86_400_000_000


def rows(sf):
    n = lambda per: max(1, round(per * sf))
    return {"region": 5, "nation": 25, "customer": n(150_000), "supplier": n(10_000),
            "part": n(200_000), "orders": n(1_500_000), "lineitem": n(6_000_000),
            "events": n(1_000_000), "documents": max(500, n(50_000)),
            "embeddings": max(500, n(20_000))}


def pick(rng, values, size):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), size)])


def days(rng, start, span, size):
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, span, size) * US_PER_DAY, pa.timestamp("us"))


def money(rng, lo, hi, size):
    return pa.array(np.round(lo + rng.random(size) * (hi - lo), 2))


def table(name, counts, rng):
    """Columns of table `name`; `counts` gives every table's row count."""
    n = counts[name]
    ids = np.arange(n, dtype=np.int64)
    if name == "region":
        return {"r_regionkey": pa.array(ids, pa.int32()),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}
    if name == "nation":
        return {"n_nationkey": pa.array(ids, pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in ids]),
                "n_regionkey": pa.array(ids % 5, pa.int32())}
    if name == "customer":
        return {"c_custkey": ids, "c_name": pa.array([f"Customer#{i:09d}" for i in ids]),
                "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                "c_acctbal": money(rng, -999.99, 9999.99, n),
                "c_mktsegment": pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                           "HOUSEHOLD", "MACHINERY"], n)}
    if name == "supplier":
        return {"s_suppkey": ids, "s_name": pa.array([f"Supplier#{i:09d}" for i in ids]),
                "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                "s_acctbal": money(rng, -999.99, 9999.99, n)}
    if name == "part":
        adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
        noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
        names = [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]
        return {"p_partkey": ids, "p_name": pa.array(names),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
                "p_type": pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
                "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
                "p_retailprice": pa.array(900 + (ids % 1000) / 10.0)}
    if name == "orders":
        return {"o_orderkey": ids, "o_custkey": rng.integers(0, counts["customer"], n),
                "o_orderstatus": pick(rng, ["F", "O", "P"], n),
                "o_totalprice": money(rng, 1000.0, 500000.0, n),
                "o_orderdate": days(rng, "1995-01-01", 2404, n),
                "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                              "4-NOT SPECIFIED", "5-LOW"], n)}
    if name == "lineitem":
        return {"l_orderkey": rng.integers(0, counts["orders"], n),
                "l_partkey": rng.integers(0, counts["part"], n),
                "l_suppkey": rng.integers(0, counts["supplier"], n),
                "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
                "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
                "l_extendedprice": money(rng, 900.0, 105000.0, n),
                "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
                "l_returnflag": pick(rng, ["A", "N", "R"], n),
                "l_linestatus": pick(rng, ["F", "O"], n),
                "l_shipdate": days(rng, "1995-01-02", 2499, n)}
    if name == "events":
        step = 30 * US_PER_DAY // n
        base = np.datetime64("2024-01-01", "us").astype(np.int64)
        return {"event_id": ids,
                "ts": pa.array(base + ids * step + rng.integers(0, step, n), pa.timestamp("us")),
                "user_id": rng.integers(0, max(15, n * 15 // 1000), n),
                "event_type": pick(rng, EVENT_TYPES, n),
                "value": pa.array(np.round(0.01 + rng.random(n) * 490, 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])}
    if name == "documents":
        words = [" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
                 for _ in ids]
        # one doc in twenty repeats its predecessor plus a marker word, so
        # the near-duplicate and containment queries have pairs to find
        texts = [words[i - 1] + " dup" if i % 20 == 7 else words[i] for i in ids]
        return {"doc_id": ids, "text": pa.array(texts),
                "lang": pick(rng, ["en", "en", "en", "de", "es", "fr", "zh"], n),
                "source": pa.array([f"src{i % 20}" for i in ids]),
                "n_chars": pa.array([len(t) for t in texts], pa.int64())}
    if name == "embeddings":
        v = rng.random((n, 64)) - 0.5
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        return {"vec_id": ids, "embedding": pa.array(list(v), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n), pa.int32())}
    raise SystemExit(f"gen.py: unknown table {name}")


def tables(out, sf, seed, names):
    counts = rows(sf)
    os.makedirs(out, exist_ok=True)
    for name in names:
        # one random stream per table, so a table's rows do not depend on
        # which other tables are generated with it
        rng = np.random.default_rng([seed, *name.encode()])
        pq.write_table(pa.table(table(name, counts, rng)),
                       os.path.join(out, f"{name}.parquet"), row_group_size=1 << 30)


def events(out, seed, backlog, live):
    """Event time advances two minutes per file; each row is up to five
    minutes late, inside the stream's ten-minute watermark."""
    (bf, br), (lf, lr) = backlog, live
    step_us, late_us = 120_000_000, 300_000_000
    base = np.datetime64("2024-01-01", "us").astype(np.int64)
    rng = np.random.default_rng(seed)
    schema = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
                        ("user_id", pa.int64()), ("event_type", pa.string()),
                        ("value", pa.float64()), ("props", pa.string())])
    for d in ("backlog", "pending", "live"):
        os.makedirs(os.path.join(out, d), exist_ok=True)
    first_id, now = 0, time.time()
    for k in range(bf + lf):
        n = br if k < bf else lr
        ts = base + k * step_us + rng.integers(0, step_us, n) - rng.integers(0, late_us, n)
        cols = [np.arange(first_id, first_id + n, dtype=np.int64), ts,
                rng.integers(0, 150, n), pick(rng, EVENT_TYPES, n),
                np.round(0.01 + rng.integers(0, 49000, n) / 100.0, 2),
                [f'{{"k": {j}}}' for j in rng.integers(0, 100, n)]]
        first_id += n
        path = os.path.join(out, "backlog" if k < bf else "pending", f"events-{k:05d}.parquet")
        pq.write_table(pa.Table.from_arrays(
            [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema), path)
        if k < bf:
            t = now - (bf - k)
            os.utime(path, (t, t))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("what", choices=["tables", "events"])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--names", default=",".join(rows(1)))
    ap.add_argument("--backlog", default="16x1500")
    ap.add_argument("--live", default="80x100")
    a = ap.parse_args()
    if a.what == "tables":
        tables(a.out, a.sf, a.seed, a.names.split(","))
    else:
        size = lambda s: tuple(int(x) for x in s.split("x"))
        events(a.out, a.seed, size(a.backlog), size(a.live))
    return 0


if __name__ == "__main__":
    sys.exit(main())
