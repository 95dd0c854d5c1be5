"""Seeded input generators for the benchmark.

`fixture(out_dir, sf, seed)` writes the ten fixture tables the query
registry reads (`graft.Tables.names`), with the shapes and value domains of
the engine's test fixtures: a TPC-H-like star schema, an `events` stream
table, a word-salad `documents` corpus with ~5% planted near-duplicates and
clustered 64-d `embeddings`.

`etl_feeds(out_dir, seed, first_day, days, ...)` writes the daily ETL
inputs: for each of ten countries and each of the two feed kinds (IRMQ
scene rows, IRSession session rows), one Parquet file per day whose mtime
is set to that day. A 15-day lookback window therefore re-reads 14 days it
has already loaded. Image names are comma-packed, status columns hold
"True"/"False"/empty strings, and the feeds drift in schema across
countries.

Everything is a pure function of the arguments: the same seed writes the
same rows.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
ADJ = "blue cold hot red small new old large".split()
NOUN = "ring plate gear rod bolt anvil widget gizmo".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 22)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _documents(rng, n):
    texts = []
    for _ in range(n):
        k = int(rng.integers(8, 90))
        texts.append(" ".join(_pick(rng, WORDS, k)))
    # ~5% near-duplicates: an earlier document with one word replaced (or
    # none), tagged with a trailing "dup" token.
    for i in np.nonzero(rng.random(n) < 0.05)[0]:
        if i == 0:
            continue
        words = texts[int(rng.integers(0, i))].split(" ")
        if rng.random() < 0.5:
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts[i] = " ".join(words + ["dup"])
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n, dim=64, clusters=10):
    centers = rng.normal(0, 1, (clusters, dim))
    label = rng.integers(0, clusters, n)
    v = centers[label] + rng.normal(0, 0.8, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def fixture(out_dir, sf, seed):
    """Write the ten fixture tables at scale factor `sf` into `out_dir`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_emb = int(1000000 * sf), int(50000 * sf), int(20000 * sf)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), pa.string())})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            _pick(rng, ADJ, n_part), _pick(rng, NOUN, n_part))], pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(_pick(rng, PTYPES, n_part), pa.string()),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord), pa.string())})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_line), pa.string()),
        "l_linestatus": pa.array(_pick(rng, ["O", "F"], n_line), pa.string()),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line)})
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev).astype(np.int64),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n_ev), pa.string()),
        "value": _money(rng, 0, 560, n_ev),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    for name, table in t.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


COUNTRIES = ["KE", "UG", "TZ", "RW", "NG", "GH", "ZA", "EG", "MA", "ET"]
SCENES = ["Shelf", "Cooler", "Display", "Promo"]
STATUSES = ["Completed", "Cancelled", "Pending"]


def _new_sessions(rng, country, day, n):
    """Fresh sessions of one country and day: (session rows, scene rows)."""
    base = f"{country}-{day:%Y%m%d}"
    sess = [f"{base}-s{i:05d}" for i in range(n)]
    start = (np.datetime64(day, "s")
             + rng.integers(0, 86400, n).astype("timedelta64[s]"))
    length = rng.integers(300, 7200, n).astype("timedelta64[s]")
    sessions = {
        "Sessionuid": sess,
        "sessionstartdatetime": start.astype("datetime64[us]"),
        "sessionenddatetime": (start + length).astype("datetime64[us]"),
        "client_code": [f"C{int(x)}" for x in rng.integers(0, 20, n)],
        "outlet_code": [f"{country}-O{int(x):04d}" for x in rng.integers(0, 500, n)],
        "outlet_name": [f"Outlet {int(x)}" for x in rng.integers(0, 500, n)],
        "user_id": [f"u{int(x)}" for x in rng.integers(0, 200, n)],
        "sessionstatus": list(_pick(rng, STATUSES, n, [0.8, 0.1, 0.1])),
        "latitude": np.round(rng.uniform(-35, 35, n), 5),
        "longitude": np.round(rng.uniform(-20, 50, n), 5),
    }
    scenes = {k: [] for k in ["Sessionuid", "Sceneuid", "SceneType",
                              "EvidenceImageURL", "EvidenceImageName",
                              "ReExportStatus", "ReProcessedStatus",
                              "CreatedOnTime"]}
    k_scenes = rng.integers(1, 4, n)
    for i, s in enumerate(sess):
        for j in range(int(k_scenes[i])):
            k_img = int(rng.integers(1, 4))
            scenes["Sessionuid"].append(s)
            scenes["Sceneuid"].append(f"{s}-c{j}")
            scenes["SceneType"].append(SCENES[int(rng.integers(0, 4))])
            scenes["EvidenceImageURL"].append(
                "" if rng.random() < 0.05 else f"https://img.example/{country}/")
            scenes["EvidenceImageName"].append(",".join(
                f"{s}-c{j}-i{m}.jpg" for m in range(k_img)))
            scenes["ReExportStatus"].append(["True", "False", ""][int(rng.integers(0, 3))])
            scenes["ReProcessedStatus"].append(["True", "False", ""][int(rng.integers(0, 3))])
            scenes["CreatedOnTime"].append(start[i].astype("datetime64[us]"))
    return sessions, scenes


def _drift(cols, country_idx, kind):
    """Cross-country schema drift: some feeds drop or lack columns."""
    cols = dict(cols)
    if kind == "IRSession" and country_idx % 3 == 1:
        cols.pop("outlet_name")
    if kind == "IRSession" and country_idx % 4 == 2:
        cols.pop("latitude")
        cols.pop("longitude")
    if kind == "IRMQ" and country_idx % 3 == 2:
        cols.pop("ReProcessedStatus")
    return cols


def etl_feeds(out_dir, seed, first_day, days, per_day=40, lookback=15):
    """Write one file per (feed kind, country, day) under
    `out_dir/<kind>_<country>/`, each holding the sessions of that day, with
    mtime = noon of the day (UTC). Days run from `first_day - lookback` to
    `first_day + days - 1`, so the first op already sees a full window and
    consecutive windows share 14 of 15 days.

    Returns {file name: row count}.
    """
    rng = np.random.default_rng(seed)
    counts = {}
    for ci, cc in enumerate(COUNTRIES):
        for k in range(-lookback, days):
            day = first_day + dt.timedelta(days=k)
            n = int(per_day * rng.uniform(0.75, 1.25))
            noon = dt.datetime.combine(day, dt.time(12), dt.timezone.utc).timestamp()
            for kind, cols in zip(("IRSession", "IRMQ"), _new_sessions(rng, cc, day, n)):
                d = os.path.join(out_dir, f"{kind}_{cc}")
                os.makedirs(d, exist_ok=True)
                name = f"{kind}_{cc}_{day:%Y%m%d}.parquet"
                table = pa.table(_drift(cols, ci, kind))
                _write(table, os.path.join(d, name))
                os.utime(os.path.join(d, name), (noon, noon))
                counts[name] = table.num_rows
    return counts
