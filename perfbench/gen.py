"""Seeded generators for the benchmark.

Two kinds of input come from here:

* the base tables (`write_tables`): a TPC-H-like star schema plus the
  `events`, `documents` and `embeddings` tables the engine's catalog
  reads, at a given scale factor. They follow the column types and
  value ranges of the engine's graded test data and are generated from
  a fixed seed, so every run of every workload sees the same tables.
* the workload inputs (`workload_inputs`): the feed payloads, the
  serving read mix and ingest schedule, and the order of the catalog
  slice. These are drawn from the run's `--seed`, so the same seed gives
  the same inputs and different seeds give different ones.
  `write_slices` writes the ingest schedule's event slices as files.
"""
import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
# bump when the table generator changes: cached tables are regenerated
TABLES_VERSION = "1"

EPOCH = dt.datetime(1970, 1, 1)
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86400
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
WORDS = ("spark window merge table column vector stream value data small join filter big "
         "group hash customer sort order slow line part fast the row agg key query a scan "
         "batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# row counts per unit of scale factor (sf0.1 = 100k events, 600k lineitems)
ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000, "orders": 1_500_000,
        "lineitem": 6_000_000, "events": 1_000_000}


def _ts(rng, lo, hi, n):
    """n uniform timestamps (microseconds) between two datetimes."""
    a = int((lo - EPOCH).total_seconds() * 1e6)
    b = int((hi - EPOCH).total_seconds() * 1e6)
    return rng.integers(a, b, n)


def _days(rng, lo, hi, n):
    """n uniform midnight timestamps (microseconds) between two dates."""
    a = (lo - EPOCH).days
    b = (hi - EPOCH).days
    return rng.integers(a, b + 1, n) * 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf):
    rng = np.random.default_rng([TABLE_SEED, int(round(sf * 1000))])
    n = {k: max(1, int(round(v * sf))) for k, v in ROWS.items()}
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart),
                                               rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": pa.array(_days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), no),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(_days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), nl),
                               pa.timestamp("us"))})
    ne = n["events"]
    users = max(1, int(round(15000 * sf)))
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(np.sort(_ts(rng, EVENTS_START,
                                   EVENTS_START + dt.timedelta(seconds=EVENTS_SPAN_S), ne)),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, users, ne),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = 5000 if sf >= 0.1 else 500
    texts = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    nv = 2000 if sf >= 0.1 else 500
    labels = rng.integers(0, 10, nv).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64)) * 0.07
    vecs = rng.normal(0.0, 1.0, (nv, 64)) / 8.0 + centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels})
    return t


def write_tables(out_dir, sf):
    """Write every base table at scale factor `sf` as `<name>.parquet`
    under `out_dir`, unless a complete copy of this generator version is
    already there. Returns `out_dir`."""
    marker = os.path.join(out_dir, "_GENERATED")
    stamp = f"{TABLES_VERSION}:{sf}"
    if os.path.exists(marker) and open(marker).read() == stamp:
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(sf).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(stamp)
    return out_dir


# ---- workload inputs ------------------------------------------------

DAY_S = 86400
FEED_TEMPLATES = ["hn", "regex", "wire", "liked"]
# each pattern keeps two of the five event types, so every regex
# request reads about the same share of the window
REGEXES = ["^(view|click)$", "purchase|signup", "^(error|view)$", "^(click|signup)$", "(?:ror|ase)$"]


def _feed_payload(template, r):
    if template == "hn":
        blocks = [
            {"type": "input", "inputType": "firehose", "firehoseSeconds": r.choice([5, 6, 7]) * DAY_S},
            {"type": "remove", "subject": "like_count", "operator": "<", "value": r.randint(10, 80)},
            {"type": "sort", "sortType": "hn", "gravity": str(r.choice([1.5, 1.8, 2.0])),
             "sortDirection": "desc"},
            {"type": "limit", "count": r.choice([50, 100, 150])}]
    elif template == "regex":
        blocks = [
            {"type": "input", "inputType": "firehose", "firehoseSeconds": r.choice([4, 5, 6]) * DAY_S},
            {"type": "regex", "value": r.choice(REGEXES), "target": "text"},
            {"type": "score", "scoreType": "add", "from": "hn", "normalize": True,
             "gravity": str(r.choice([1.5, 1.8]))},
            {"type": "limit", "limitType": "posts_per_user", "count": r.randint(2, 5)},
            {"type": "sort", "sortType": "score", "sortDirection": "desc"},
            {"type": "limit", "count": r.choice([50, 100])}]
    elif template == "wire":
        blocks = [
            {"type": "input", "inputType": "firehose", "firehoseSeconds": r.choice([5, 6, 7]) * DAY_S},
            {"type": "input", "inputType": "list", "listUri": "at://lists/building",
             "historySeconds": r.choice([10, 14]) * DAY_S},
            {"type": "input", "inputType": "post",
             "postUri": sorted(r.sample(range(0, 100000), 3))},
            {"type": "remove", "subject": "duplicates"},
            {"type": "remove", "subject": "like_count", "operator": "<", "value": r.randint(20, 60)},
            {"type": "replace", "with": "parent", "keepItemsWithMissingTarget": True},
            {"type": "remove", "subject": "duplicates"},
            {"type": "sort", "sortType": "hn", "gravity": "1.8", "sortDirection": "desc"},
            {"type": "limit", "count": r.choice([50, 100])}]
    else:
        blocks = [
            {"type": "input", "inputType": "custom_likedweighted", "listUri": "at://lists/building",
             "baseLikeCount": r.randint(1, 10), "historySeconds": r.choice([3 * DAY_S, 999999999])},
            {"type": "sort", "sortType": "score", "sortDirection": "desc"},
            {"type": "limit", "count": r.choice([50, 100])}]
    return {"template": template, "payload": json.dumps({"blocks": blocks})}


# the ingest schedule outlasts --seconds by this much, for the two
# passes over the read mix a run makes at least
SCHEDULE_HEADROOM_S = 60


def serve_inputs(r, n_events, seconds, slice_events=500, interval_ms=500):
    """The serving mix: a pass of reads (one feed request per payload
    template, a BM25 term query, an ANN query and two feed-state reads,
    in a seeded order), and an open-loop ingest schedule of consecutive
    event slices landing every `interval_ms` for `seconds` plus
    SCHEDULE_HEADROOM_S (as far as the events last). Slices follow event
    time, so the stream's watermark only moves forward."""
    slices = min((seconds + SCHEDULE_HEADROOM_S) * 1000 // interval_ms, n_events // slice_events - 1)
    ops = [dict(kind="feed", **_feed_payload(t, r)) for t in FEED_TEMPLATES]
    ops.append({"kind": "bm25", "terms": sorted(r.sample(WORDS, 2))})
    ops.append({"kind": "ann", "ids": sorted(r.sample(range(2000), 2))})
    ops += [{"kind": "state", "user": u} for u in r.sample(range(1500), 2)]
    r.shuffle(ops)
    start = r.randrange(0, n_events - slices * slice_events)
    bounds = [start + i * slice_events for i in range(slices + 1)]
    return {"reads": ops,
            "ingest": {"interval_ms": interval_ms,
                       "slices": [[bounds[i], bounds[i + 1]] for i in range(slices)]}}


def catalog_inputs(r, keys):
    """The catalog slice in a seeded order. The keys themselves are fixed:
    cold-JVM costs of keys of one cost band differ too much for a drawn
    slice to give steady timings."""
    keys = list(keys)
    r.shuffle(keys)
    return {"keys": keys}


def write_slices(events_path, slices, out_dir):
    """Write each ingest slice [lo, hi) of the events table at
    `events_path` as `out_dir/slice_<i>.parquet`, with the columns the
    stream reads."""
    table = pq.read_table(events_path, columns=["event_id", "ts", "user_id", "event_type", "value"])
    os.makedirs(out_dir, exist_ok=True)
    for i, (lo, hi) in enumerate(slices):
        part = table.slice(lo, hi - lo)  # event_id is the row number
        assert part["event_id"][0].as_py() == lo and part["event_id"][-1].as_py() == hi - 1
        pq.write_table(part, os.path.join(out_dir, f"slice_{i:05d}.parquet"))


def workload_inputs(workload, seed, seconds, catalog_keys=None):
    r = random.Random(f"{workload}:{seed}")
    if workload == "serve-ingest":
        return serve_inputs(r, n_events=ROWS["events"] // 10, seconds=seconds)
    if workload == "catalog-slice":
        return catalog_inputs(r, catalog_keys)
    raise ValueError(f"unknown workload {workload}")
