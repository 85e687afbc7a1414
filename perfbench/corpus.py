"""Generator of the parquet corpus the `SparkEntry` queries read.

It writes the ten tables of the engine's corpus (`Tables.all`) with the
physical types the engine and its DuckDB oracles expect: a TPC-H-style star
(region, nation, customer, supplier, part, orders, lineitem), an `events`
stream table, `documents` text and unit-norm `embeddings`. Row counts follow
the corpus at scale factor 0.001 (6,000 lineitems). At this size a query's
time is mostly planning, job scheduling and the streaming micro-batch
floor, which are the costs the engine's open optimisation items target.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 500,
        "embeddings": 500}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _days(rng, n, lo, hi):
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def tables(seed):
    """Return {table name: pyarrow.Table}; same seed, same tables."""
    rng = np.random.default_rng(seed)
    n = ROWS
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": pa.array(REGIONS, s)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32)}),
    }
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n["customer"])]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99,
                                                   n["customer"]), 2), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n["customer"]), s)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n["supplier"])]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99,
                                                   n["supplier"]), 2), f64)})
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n["part"]), rng.choice(PART_NOUN, n["part"]))]),
        "p_brand": pa.array([f"Brand#{k}" for k in
                             rng.integers(1, 26, n["part"])], s),
        "p_type": pa.array(rng.choice(PART_TYPES, n["part"]), s),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
        "p_retailprice": pa.array(
            [round(900 + k % 1000 * 0.1, 2) for k in range(n["part"])], f64)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n["orders"]), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000,
                                                      n["orders"]), 2), f64),
        "o_orderdate": pa.array(_days(rng, n["orders"], "1995-01-01",
                                      "2001-08-01"), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n["orders"]), s)})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, nl),
                                             2), f64),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl), s),
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-04"),
                               pa.timestamp("us"))})
    ne = n["events"]
    gaps = rng.exponential(30 * 86400e6 / ne, ne).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps)
    out["events"] = pa.table({
        "event_id": pa.array(range(ne), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, ne), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne), s),
        "value": pa.array(np.round(rng.exponential(60, ne) + 0.01, 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
                          s)})
    texts = []
    for k in range(n["documents"]):
        if k % 20 in (4, 12) and k >= 4:
            # Near-duplicates of an earlier document, as dedup specs expect.
            texts.append(texts[k - 4] + " dup" * (1 + k % 3))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n["documents"]), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n["documents"]), s),
        "source": pa.array([f"src{k % 20}" for k in range(n["documents"])], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    vecs = rng.standard_normal((n["embeddings"], 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n["embeddings"]), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]), i32)})
    return out


def write(directory, seed):
    """Write every table as `<directory>/<name>.parquet`, one row group."""
    for name, table in tables(seed).items():
        pq.write_table(table, f"{directory}/{name}.parquet")
