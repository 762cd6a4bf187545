"""Seeded input generator for the benchmark.

Writes the ten source tables the engine reads (`graft.Tables.all`) as
parquet, with the column names and physical types of the engine's test
tables: a TPC-H-like star schema plus an `events` stream, a `documents`
corpus and an `embeddings` table. Keys are dense from 0 and every foreign
key resolves, so no query sees orphan ids the engine's tests never see.

The same (seed, sf) always gives byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the row key agg scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query order "
         "filter group big stream vector").split()
LANGS = (["en"] * 10) + ["de"] * 3 + ["es"] * 3 + ["fr"] * 2 + ["zh"] * 2


def _days(rng, n, lo, hi):
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return lo_d + rng.integers(0, int((hi_d - lo_d).astype("int64")) + 1, n).astype("timedelta64[D]")


def _ts(d):
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out: str, seed: int, sf: float) -> None:
    """Write every table under `out`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    colors = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
    nouns = ["ring", "bolt", "widget", "gear", "pipe", "valve", "nut", "plate"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _ts(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, n_line, 900.0, 100_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_days(rng, n_line, "1995-01-02", "2001-11-04"))})
    # events arrive in time order over 30 days, one user per tenth customer
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev).astype("int64")
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(WORDS, int(k)))
             for k in rng.integers(8, 90, n_doc)]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    emb = (rng.standard_normal((n_doc, 64)) * 0.1).astype("float32")
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_doc), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc), i32)})


# key columns shifted per replica, by table
REPLICA_KEYS = {"region": (), "nation": (), "customer": ("c_custkey",),
                "orders": ("o_orderkey", "o_custkey"), "events": ("event_id", "user_id")}


def etl_raw(base: str, out: str, seed: int, replicas: int) -> None:
    """Stage `etl_scale`'s raw zone under `out` (one parquet dir per table).

    Replica i shifts every key by i * 1e8 plus a seeded base below 5e7, so
    FK integrity holds per replica and key cardinality grows with the
    replica count; rows are written in a seeded order.
    """
    rng = np.random.default_rng(seed)
    shift = int(rng.integers(0, 50)) * 1_000_000
    for tb, keys in REPLICA_KEYS.items():
        t = pq.read_table(os.path.join(base, f"{tb}.parquet"))
        if tb == "events":
            t = t.select(["event_id", "user_id", "event_type"])
        if keys:
            parts = []
            for i in range(replicas):
                cols = {c: (pa.array(t[c].to_numpy() + (i * 100_000_000 + shift))
                            if c in keys else t[c]) for c in t.column_names}
                parts.append(pa.table(cols))
            t = pa.concat_tables(parts)
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        os.makedirs(os.path.join(out, tb))
        pq.write_table(t, os.path.join(out, tb, "part-00000.parquet"))
