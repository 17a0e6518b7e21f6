"""Seeded input generation for the benchmark.

Everything the program reads is written here, from the workload seed alone,
before any timing starts:

- ``tables(dir, seed, ...)``: a TPC-H-like star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables, one parquet file each, in the
  column layout ``proj_spark.querylib.TABLES`` expects;
- ``points(dir, seed, n)``: lon/lat/h points for the transform workload,
  split over several files so the scan has one task per core;
- ``pages(dir, tables_dir)``: the ``pages`` fixture, built by DuckDB from
  the seeded ``documents`` table with ``proj_spark.pagesgen``'s own SQL.

Only numpy, pyarrow and DuckDB run here, so no JVM starts before set-up is
timed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the key agg row scan slow fast table value part hash line sort "
         "window merge batch spark order data column join small customer "
         "query big filter stream group vector").split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
EMBED_DIM = 64
EPOCH_2024_US = 1704067200 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _documents(rng, n: int) -> dict:
    words = np.array(VOCAB)
    lens = rng.integers(8, 80, n)
    idx = rng.integers(0, len(words), int(lens.sum()))
    ends = np.cumsum(lens)
    texts = [" ".join(words[idx[e - k:e]]) for e, k in zip(ends, lens)]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def tables(out_dir: str, seed: int, n_orders: int = 15_000,
           n_docs: int = 500) -> dict:
    """Write the ten query tables; return their row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_part, n_supp, n_events, n_emb = 1500, 2000, 100, 10_000, 500

    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"])})
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": pa.array(np.arange(1, n_cust + 1, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i}" for i in range(1, n_cust + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust))})
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(1, n_supp + 1, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i}" for i in range(1, n_supp + 1)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2))})
    # part keys: a seeded sample, so the points derived from them move with
    # the seed
    pkeys = np.sort(rng.choice(50 * n_part, n_part, replace=False)) + 1
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(pkeys.astype(np.int64)),
        "p_name": pa.array([f"part {k}" for k in pkeys]),
        "p_brand": pa.array([f"Brand#{1 + k % 55}" for k in pkeys]),
        "p_type": pa.array(rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE",
                                       "ECONOMY", "PROMO"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2100, n_part), 2))})

    okeys = np.sort(rng.choice(20 * n_orders, n_orders, replace=False)) + 1
    odate = EPOCH_2024_US + rng.integers(0, 365 * 86400, n_orders) * 1_000_000
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(okeys.astype(np.int64)),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_orders)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n_orders), 2)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_orders))})

    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    l_okey = np.repeat(okeys, lines)
    l_num = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": pa.array(l_okey.astype(np.int64)),
        "l_partkey": pa.array(rng.choice(pkeys, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li)),
        "l_linenumber": pa.array(l_num.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100.0, 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts(np.repeat(odate, lines)
                          + rng.integers(1, 122, n_li) * 86_400_000_000)})

    ev_ts = EPOCH_2024_US + np.sort(rng.integers(0, 365 * 86400 * 10**6, n_events))
    _write(f"{out_dir}/events.parquet", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, 100, n_events)),
        "event_type": pa.array(rng.choice(["view", "click", "buy", "error"],
                                          n_events)),
        "value": pa.array(np.round(rng.uniform(0, 20, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_events)])})
    _write(f"{out_dir}/documents.parquet", _documents(rng, n_docs))
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, EMBED_DIM))
    emb = (centers[labels] + 0.3 * rng.normal(size=(n_emb, EMBED_DIM)))
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    return {"lineitem": n_li, "orders": n_orders, "part": n_part,
            "customer": n_cust, "nation": 25, "documents": n_docs,
            "embeddings": n_emb, "events": n_events}


def points(out_dir: str, seed: int, n: int, files: int = 4,
           poison_every: int = 997) -> dict:
    """lon/lat/h points, ``files`` parquet files; every ``poison_every``-th
    point has lat 95, outside the domain, so its transform must come out
    NULL. Returns the numpy columns for the correctness check."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    lon = rng.uniform(-180.0, 180.0, n)
    lat = rng.uniform(-85.0, 85.0, n)
    lat[::poison_every] = 95.0
    h = rng.uniform(0.0, 9000.0, n)
    pid = np.arange(n, dtype=np.int64)
    for i, part in enumerate(np.array_split(np.arange(n), files)):
        _write(f"{out_dir}/part-{i:03d}.parquet",
               {"pid": pid[part], "lon": lon[part], "lat": lat[part],
                "h": h[part]})
    return {"pid": pid, "lon": lon, "lat": lat, "h": h}


def pages(out_path: str, tables_dir: str) -> int:
    """The pages fixture over ``tables_dir``'s documents, written by DuckDB
    from ``pagesgen.PAGES_CTE`` (the same rows Spark's
    ``pagesgen.build_pages`` makes). Returns the page count."""
    import duckdb
    from proj_spark import pagesgen

    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/documents.parquet')")
        con.execute(f"COPY (WITH {pagesgen.PAGES_CTE} SELECT * FROM pages "
                    f"ORDER BY url) TO '{out_path}' (FORMAT PARQUET)")
        return con.execute(
            f"SELECT count(*) FROM read_parquet('{out_path}')").fetchone()[0]
    finally:
        con.close()
