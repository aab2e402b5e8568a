"""Seeded input generation for the benchmark workloads.

Everything the program reads is made here from the workload seed: the
star-schema tables the query packs read, the tall rasters (granules) the
pipeline reads, and the posttroll-style messages that point at them.
The same seed always gives byte-identical inputs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
_NOUN = ["ring", "bolt", "plate", "gear", "widget", "anvil", "valve", "spring"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def lineitem(rng, n):
    """Columns of a TPC-H-shaped lineitem with ``n`` rows."""
    return {
        "l_orderkey": rng.integers(0, n // 4, n),
        "l_partkey": rng.integers(0, max(1, n // 30), n),
        "l_suppkey": rng.integers(0, max(1, n // 600), n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n) * _US_PER_DAY),
    }


def tables(out_dir, seed, sf):
    """Write the ten query-pack tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_emb = int(1000000 * sf), int(50000 * sf), int(20000 * sf)

    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS})
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)})
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    pk = np.arange(n_part, dtype=np.int64)
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pk,
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _US_PER_DAY),
        "o_orderpriority": rng.choice(_PRIOS, n_ord)})
    li = lineitem(rng, n_li)
    li["l_orderkey"] = rng.integers(0, n_ord, n_li)
    li["l_partkey"] = rng.integers(0, n_part, n_li)
    li["l_suppkey"] = rng.integers(0, n_supp, n_li)
    _write(f"{out_dir}/lineitem.parquet", li)
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, n_ev))
    _write(f"{out_dir}/events.parquet", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(1, n_ev // 66), n_ev),
        "event_type": rng.choice(_EVENTS, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i >= 8 and i % (n_doc // 8) == 0:
            texts.append(texts[i - 7])  # a few exact duplicates
            continue
        words = list(rng.choice(_WORDS, rng.integers(10, 101)))
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 0.08, (10, 64))
    vecs = rng.normal(0.0, 1.0, (n_emb, 64)) * 0.12 + centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels})


def granule(path, values, products, fills, height, width):
    """Write one tall raster ``(product, y, x, value)``.

    ``values`` supplies ``height * width`` cells per product, taken in
    order; rows ``y < fill * height`` of each product are null fill (the
    swath edge), so the valid fraction of a product is ``1 - fill`` at
    any block or grid scale.
    """
    n = height * width
    y = np.repeat(np.arange(height, dtype=np.int32), width)
    x = np.tile(np.arange(width, dtype=np.int32), height)
    prod, ys, xs, vals = [], [], [], []
    for i, (p, f) in enumerate(zip(products, fills)):
        v = values[i * n:(i + 1) * n]
        mask = y < int(round(f * height))
        prod += [p] * n
        ys.append(y)
        xs.append(x)
        vals.append(pa.array(v, mask=mask))
    _write(path, {"product": prod, "y": np.concatenate(ys),
                  "x": np.concatenate(xs),
                  "value": pa.concat_arrays(vals)})


def message(kind, uris, platform, orbit, start_time):
    """A posttroll-style message of type ``file``, ``dataset`` or
    ``collection`` naming ``uris``."""
    data = {"platform_name": platform, "orbit_number": orbit,
            "sensor": ["avhrr-3"], "start_time": start_time}
    if kind == "file":
        assert len(uris) == 1
        data["uri"] = uris[0]
        data["uid"] = os.path.basename(uris[0])
    elif kind == "dataset":
        data["dataset"] = [{"uri": u, "uid": os.path.basename(u)} for u in uris]
    else:
        data["collection"] = [{"dataset": [{"uri": u, "uid": os.path.basename(u)}]}
                              for u in uris]
    return json.dumps({"type": kind, "data": data})
