"""Seeded input generator for the benchmark.

Every input a workload reads is made here from the workload's seed, so the
same seed gives byte-identical files (numpy's PCG64 stream per table, parquet
written by pyarrow with fixed options). The shapes follow the engine's sf0.1
tables: the 31-word document vocabulary, 10..100-token documents over 20
sources, a 41% English language mix, uniform 64-dim float embeddings over 10
labels, a 30-day event stream with a WMO-style code in `props`, and
TPC-H-shaped dimension and fact tables. Row counts are smaller than sf0.1 so a
run fits its time budget; `SIZES` records them.
"""
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "es", "fr", "zh"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
# WMO codes the display knows, plus codes it must render as "Code N".
WMO_KNOWN = [0, 1, 2, 3, 45, 48, 51, 53, 55, 61, 63, 65, 71, 73, 75, 80, 81,
             82, 95]
WMO_UNKNOWN = [4, 10, 99]

# Row counts per input set. `tables` is the full table set at sf0.01 row
# counts; `docs` is the smaller set the LLM-data queries and the layer probes
# read; `weather` is the forecast payload stream; `ingest` is a standing
# corpus plus one arriving micro-batch for the ingest probe.
SIZES = {
    "tables": dict(customer=1500, supplier=100, part=2000, orders=15000,
                   lineitem=60000, events=10000, documents=500,
                   embeddings=500, users=150),
    "docs": dict(customer=150, supplier=10, part=200, orders=1500,
                 lineitem=6000, events=1000, documents=700,
                 embeddings=300, users=50),
    "weather": dict(payloads=1500, error_share=0.05),
    "ingest": dict(seed_docs=400, batch_docs=40, batches=1, dup_share=0.3),
}

T0 = dt.datetime(2024, 1, 1)


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def _texts(rng, n):
    lens = rng.integers(10, 101, size=n)
    toks = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    out, i = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[t] for t in toks[i:i + ln]))
        i += ln
    return out


def _langs(rng, n):
    u = rng.random(n)
    return ["en" if x < 0.41 else LANGS[min(3, int((x - 0.41) / 0.1475))]
            for x in u]


def documents(rng, n, first_id=0, n_sources=20):
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    text = _texts(rng, n)
    return {"doc_id": ids, "text": text, "lang": _langs(rng, n),
            "source": [f"src{i % n_sources}" for i in ids],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64)}


def _docs_table(d):
    return pa.table({
        "doc_id": pa.array(d["doc_id"], pa.int64()),
        "text": pa.array(d["text"], pa.string()),
        "lang": pa.array(d["lang"], pa.string()),
        "source": pa.array(d["source"], pa.string()),
        "n_chars": pa.array(d["n_chars"], pa.int64())})


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    d = rng.integers(0, span_days + 1, size=n)
    return pa.array([start + dt.timedelta(days=int(x)) for x in d],
                    pa.timestamp("us"))


def write_tables(seed, out, sz):
    """All ten engine tables, in the engine's column names and types."""
    r = _rng(seed, 1)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS, pa.string())}),
           f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())}),
           f"{out}/nation.parquet")
    n = sz["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in r.integers(0, 5, n)])}),
        f"{out}/customer.parquet")
    n = sz["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n))}),
        f"{out}/supplier.parquet")
    n = sz["part"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                            zip(r.integers(0, 8, n), r.integers(0, 8, n))]),
        "p_brand": pa.array([f"Brand#{i}" for i in r.integers(1, 26, n)]),
        "p_type": pa.array([P_TYPES[i] for i in r.integers(0, 6, n)]),
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2))}),
        f"{out}/part.parquet")
    n_orders = sz["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(r.integers(0, sz["customer"], n_orders),
                              pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[i]
                                   for i in r.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_orders)),
        "o_orderdate": _days(r, dt.datetime(1995, 1, 1), 2404, n_orders),
        "o_orderpriority": pa.array([PRIORITIES[i]
                                     for i in r.integers(0, 5, n_orders)])}),
        f"{out}/orders.parquet")
    n = sz["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(r.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, sz["part"], n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, sz["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n)),
        "l_discount": pa.array(np.round(r.integers(0, 11, n) * 0.01, 2)),
        "l_tax": pa.array(np.round(r.integers(0, 9, n) * 0.01, 2)),
        "l_returnflag": pa.array([("A", "N", "R")[i]
                                  for i in r.integers(0, 3, n)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in r.integers(0, 2, n)]),
        "l_shipdate": _days(r, dt.datetime(1995, 1, 2), 2498, n)}),
        f"{out}/lineitem.parquet")
    n = sz["events"]
    r = _rng(seed, 2)
    us = np.sort(r.integers(0, 30 * 86400 * 10**6, n))
    _write(pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array([T0 + dt.timedelta(microseconds=int(x)) for x in us],
                       pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, sz["users"], n), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in r.integers(0, 5, n)]),
        "value": pa.array(_money(r, 0.01, 500.0, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)])}),
        f"{out}/events.parquet")
    _write(_docs_table(documents(_rng(seed, 3), sz["documents"])),
           f"{out}/documents.parquet")
    n = sz["embeddings"]
    r = _rng(seed, 4)
    vecs = (r.random((n, 64), dtype=np.float32) - np.float32(0.5))
    _write(pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32())}),
        f"{out}/embeddings.parquet")


def forecast(r, i):
    """One Open-Meteo-shaped forecast payload, with the display's edge
    cases mixed in: half-way temperatures, unknown codes, a missing
    temperature, an empty rain list and a missing update time."""
    u = r.random(6)
    temp = round(float(r.uniform(-25, 40)), 1)
    if u[0] < 0.1:
        temp = float(int(temp)) + 0.5  # half-even rounding edge
    current = {"weather_code": int(WMO_UNKNOWN[int(u[1] * 3)] if u[2] < 0.1
                                   else WMO_KNOWN[int(u[1] * len(WMO_KNOWN))]),
               "time": f"2026-08-12T{(i // 6) % 24:02d}:{(i % 6) * 10:02d}"}
    if u[3] > 0.05:
        current["temperature_2m"] = temp
    if u[4] < 0.05:
        del current["time"]
    rain = [int(x) for x in r.integers(0, 101, int(r.integers(0, 8)))]
    return {"latitude": 51.50853, "longitude": -0.12574, "current": current,
            "daily": {"precipitation_probability_max": rain}}


def write_weather(seed, out, sz):
    r = _rng(seed, 5)
    geo = {"results": [
        {"name": "London", "country_code": "CA", "latitude": 42.98339,
         "longitude": -81.23304, "admin1": "Ontario"},
        {"name": "London", "country_code": "GB", "latitude": 51.50853,
         "longitude": -0.12574, "admin1": "Greater London"},
        {"name": "Paris", "country_code": "FR", "latitude": 48.85341,
         "longitude": 2.3488, "admin1": "Ile-de-France"}]}
    with open(f"{out}/geocode.json", "w") as f:
        json.dump(geo, f)
    os.makedirs(f"{out}/forecast", exist_ok=True)
    for i in range(sz["payloads"]):
        if r.random() < sz["error_share"]:
            p = {"error": True, "status": int(r.choice([429, 500, 503])),
                 "reason": "service unavailable"}
        else:
            p = forecast(r, i)
        with open(f"{out}/forecast/{i:05d}.json", "w") as f:
            json.dump(p, f)


def write_ingest(seed, out, sz):
    """Standing corpus plus arriving batches. A share of every batch are
    one-token edits of earlier docs, so batches add edges to standing
    clusters and sometimes bridge two of them."""
    r = _rng(seed, 6)
    seed_d = documents(r, sz["seed_docs"])
    _write(_docs_table(seed_d), f"{out}/seed.parquet")
    texts = list(seed_d["text"])
    n_b, b = sz["batches"], sz["batch_docs"]
    d = documents(r, n_b * b, first_id=1_000_000)
    for i in range(n_b * b):
        if r.random() < sz["dup_share"]:
            toks = texts[int(r.integers(0, len(texts)))].split(" ")
            toks[int(r.integers(0, len(toks)))] = VOCAB[int(r.integers(0, 31))]
            d["text"][i] = " ".join(toks)
            d["n_chars"][i] = len(d["text"][i])
        texts.append(d["text"][i])
    t = _docs_table(d).append_column(
        "batch", pa.array(np.arange(n_b * b) // b, pa.int32()))
    _write(t, f"{out}/batches.parquet")


KINDS = {
    "tables": lambda seed, out: write_tables(seed, out, SIZES["tables"]),
    "docs": lambda seed, out: write_tables(seed, out, SIZES["docs"]),
    "weather": lambda seed, out: write_weather(seed, out, SIZES["weather"]),
    "ingest": lambda seed, out: write_ingest(seed, out, SIZES["ingest"]),
}


def digest(out):
    """sha256 over every generated file, in path order."""
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(out)):
        dirs.sort()
        for name in sorted(files):
            if name == "DONE":
                continue
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, out).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def generate(kind, seed, out):
    """Make (or reuse) the input set `kind` for `seed` under `out`."""
    if os.path.exists(f"{out}/DONE"):
        return out
    os.makedirs(out, exist_ok=True)
    KINDS[kind](seed, out)
    with open(f"{out}/DONE", "w") as f:
        f.write(digest(out))
    return out
