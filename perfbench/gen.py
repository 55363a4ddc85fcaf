"""Seeded input generators for the benchmark.

Two families, both a pure function of (seed, size):

* ``tables``: the star-schema + corpus tables the board queries read
  (region .. lineitem, events, documents, embeddings), one parquet file
  per table, with the same column names, types and value domains as the
  deterministic test tables the query board is oracle-checked against.
* ``telemetry``: the raw landing layer of the logistics pipeline, one
  JSON-array file per consumer batch, the way the Kafka consumer lands
  them (``json.dumps(messages)`` of one poll), anomalies included.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
STATUSES = ["in_transit", "delivered", "delayed"]

EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, n):
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(out_dir, seed, sf):
    """Write every board table at scale factor ``sf`` (0.1 = 600k lineitem)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array(_names("Customer", n_cust), s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)], s)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array(_names("Supplier", n_supp), s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp), f64)})
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(np.array(names)[rng.integers(0, len(names), n_part)], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)], s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 1), f64)})
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)], s),
        "o_totalprice": pa.array(_cents(rng, 1000, 500_000, n_ord), f64),
        "o_orderdate": pa.array(EPOCH_1995 + order_days * DAY_US, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)], s)})
    ship_days = rng.integers(1, 2499, n_li)  # 1995-01-02 .. 2001-11-04
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), f64),
        "l_extendedprice": pa.array(_cents(rng, 900, 105_000, n_li), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)], s),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)], s),
        "l_shipdate": pa.array(EPOCH_1995 + ship_days * DAY_US, pa.timestamp("us"))})
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(EPOCH_2024 + ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), i64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)], s),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    # 5% of documents are an earlier document plus a trailing " dup"
    # token (near-duplicates; two copies of one source are exact dups)
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)], s),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
            pa.list_(pa.field("element", pa.float32()))),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


def _batch_text(seed, b, batch_size):
    """Consumer batch ``b`` as one JSON array; 15% of messages carry one
    anomaly (null, "NaN" or out of range in fuel, temperature or
    location), as the producer's injector does."""
    u = np.random.default_rng([seed, 2, b]).random((batch_size, 10))
    ids = b * batch_size + np.arange(batch_size)
    ts = np.datetime_as_string(
        EPOCH_2024 + ids * 1_000_000 + (u[:, 1] * 999_999).astype(np.int64), unit="us")
    trucks = (u[:, 0] * 15).astype(int) + 1
    lat = np.round(17.38 + u[:, 2] * 0.01, 6).tolist()
    lon = np.round(78.48 + u[:, 3] * 0.01, 6).tolist()
    fuel = np.round(50 + u[:, 4] * 50, 2).tolist()
    temp = np.round(15 + u[:, 5] * 10, 1).tolist()
    status = (u[:, 6] * 3).astype(int).tolist()
    anom = (u[:, 7] < 0.15).tolist()
    target = (u[:, 8] * 3).astype(int).tolist()
    mode = (u[:, 9] * 3).astype(int).tolist()
    recs = []
    for j in range(batch_size):
        loc = f'{{"lat": {lat[j]}, "lon": {lon[j]}}}'
        fuel_s, temp_s = f"{fuel[j]}", f"{temp[j]}"
        if anom[j]:
            bad = ("null", '"NaN"', None)[mode[j]]
            if target[j] == 0:
                fuel_s = bad or "9999"
            elif target[j] == 1:
                temp_s = bad or "200"
            else:
                loc = ("null", '{"lat": "NaN", "lon": "NaN"}',
                       '{"lat": -999, "lon": 999}')[mode[j]]
        recs.append(
            f'{{"truck_id": "TRUCK_{trucks[j]:03d}", "timestamp": "{ts[j]}", '
            f'"location": {loc}, "fuel_level": {fuel_s}, "temperature": {temp_s}, '
            f'"delivery_status": "{STATUSES[status[j]]}"}}')
    return "[" + ", ".join(recs) + "]"


def telemetry(out_dir, seed, n_batches, batch_size, first=0):
    """Write ``n_batches`` raw files, one consumer batch each, numbered
    from ``first`` (disjoint ranges give disjoint records)."""
    os.makedirs(out_dir, exist_ok=True)
    for b in range(first, first + n_batches):
        with open(os.path.join(out_dir, f"kafka_batch_{b:06d}.json"), "w") as f:
            f.write(_batch_text(seed, b, batch_size))
