"""Seeded generator for the benchmark's input tables.

Writes the ten tables graft reads (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as one parquet
file each. Sizes and the cardinalities that steer graft's code paths
follow the repository's sf0.001 test data (see TESTDATA.md): the same
row counts, ship and order dates spread uniformly over the same ranges
(about 2,300 distinct ship dates, one hive partition each when the
pipeline materializes fact_lineitem), 30 event days, one user per 66
events, the same text vocabulary and 64-dimensional embeddings in 10
clusters. `--profile` prints these figures for any data directory, so
the match can be checked. The seed chooses the values; every seed gives
a run of the same size.

    python3 perfbench/gen.py OUT_DIR --seed 7
    python3 perfbench/gen.py --profile DIR [DIR ...]
"""
import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table: the sf0.001 test data's, the same for every seed
ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}
# date ranges of the test data (equal at every scale factor)
ORDER_START = dt.date(1995, 1, 1)
ORDER_DAYS = 2405
SHIP_START = dt.date(1995, 1, 2)
SHIP_DAYS = 2499
EVENT_START = dt.datetime(2024, 1, 1)
EVENT_DAYS = 30
EVENTS_PER_USER = 66
EVENT_VALUE_MEAN = 50.0
WORDS = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table the "
         "value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
DIM = 64
CLUSTERS = 10


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start, offsets):
    base = np.datetime64(start.isoformat(), "us")
    return base + offsets.astype("timedelta64[D]").astype("timedelta64[us]")


def tables(seed: int, ship_days: int = SHIP_DAYS) -> dict:
    """The ten tables; `ship_days` narrows the ship-date range (the
    number of fact_lineitem partitions) from the test data's 2,499 days.
    """
    rng = np.random.default_rng(seed)
    n = ROWS
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(SEGMENTS, c)})

    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})

    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": rng.choice(PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.integers(0, 200, p) / 10.0, 1)})

    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": pa.array(_days(ORDER_START, rng.integers(0, ORDER_DAYS, o)),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, o)})

    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": np.round(rng.integers(0, 11, li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": pa.array(_days(SHIP_START, rng.integers(0, ship_days, li)),
                               pa.timestamp("us"))})

    e = n["events"]
    base = np.datetime64(EVENT_START.isoformat(), "us")
    ts = np.sort(rng.integers(0, EVENT_DAYS * 86_400_000_000, e))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(base + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(2, e // EVENTS_PER_USER), e), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.round(rng.exponential(EVENT_VALUE_MEAN, e), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})

    d = n["documents"]
    texts = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(10, 100, d)]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    m = n["embeddings"]
    labels = rng.integers(0, CLUSTERS, m)
    centers = rng.normal(0.0, 1.0, (CLUSTERS, DIM))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (m, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array([row.astype(np.float32) for row in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(out_dir: str, seed: int, ship_days: int = SHIP_DAYS) -> dict:
    """Write every table under out_dir; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in tables(seed, ship_days).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


PROFILE = [
    ("lineitem rows", "SELECT count(*) FROM lineitem"),
    ("orders rows", "SELECT count(*) FROM orders"),
    ("customer / part / supplier rows", "SELECT (SELECT count(*) FROM customer) || ' / ' || "
     "(SELECT count(*) FROM part) || ' / ' || (SELECT count(*) FROM supplier)"),
    ("distinct ship dates", "SELECT count(DISTINCT CAST(l_shipdate AS DATE)) FROM lineitem"),
    ("ship date range", "SELECT min(CAST(l_shipdate AS DATE)) || ' .. ' || "
     "max(CAST(l_shipdate AS DATE)) FROM lineitem"),
    ("distinct order dates", "SELECT count(DISTINCT CAST(o_orderdate AS DATE)) FROM orders"),
    ("orders with lineitems", "SELECT count(DISTINCT l_orderkey) FROM lineitem"),
    ("events rows / days / users", "SELECT count(*) || ' / ' || count(DISTINCT CAST(ts AS DATE)) "
     "|| ' / ' || count(DISTINCT user_id) FROM events"),
    ("event types / props values", "SELECT count(DISTINCT event_type) || ' / ' || "
     "count(DISTINCT props) FROM events"),
    ("event value p25 / p50 / p75", "SELECT list_transform(quantile_cont(value, [0.25, 0.5, 0.75]),"
     " x -> round(x)) FROM events"),
    ("documents rows / sources / langs", "SELECT count(*) || ' / ' || count(DISTINCT source) || "
     "' / ' || count(DISTINCT lang) FROM documents"),
    ("words per document min / max", "SELECT min(len(string_split(text, ' '))) || ' / ' || "
     "max(len(string_split(text, ' '))) FROM documents"),
    ("vocabulary", "SELECT count(DISTINCT w) FROM "
     "(SELECT unnest(string_split(text, ' ')) AS w FROM documents)"),
    ("embeddings rows / dim / labels", "SELECT count(*) || ' / ' || max(len(embedding)) || ' / ' "
     "|| count(DISTINCT label) FROM embeddings"),
]


def profile(data_dir: str) -> dict:
    """The figures above for one data directory."""
    import duckdb
    con = duckdb.connect()
    for t in ("orders", "lineitem", "customer", "part", "supplier", "events", "documents",
              "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {name: str(con.sql(q).fetchone()[0]) for name, q in PROFILE}
    con.close()
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir", nargs="?")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--profile", nargs="+", metavar="DIR")
    a = ap.parse_args()
    if a.profile:
        cols = [profile(d) for d in a.profile]
        print("| figure | " + " | ".join(a.profile) + " |")
        print("|---" * (len(cols) + 1) + "|")
        for name, _ in PROFILE:
            print(f"| {name} | " + " | ".join(c[name] for c in cols) + " |")
    elif a.out_dir:
        print(write(a.out_dir, a.seed))
    else:
        ap.error("give OUT_DIR or --profile")
