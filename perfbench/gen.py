"""Seeded input generators for the benchmark workloads.

Every table is drawn from numpy's PCG64 stream keyed by (workload, seed)
and written with pyarrow, so the same seed gives byte-identical files.
Schemas and value ranges follow the warehouse layout the registered
queries are written against (a TPC-H-like star schema plus `events`,
`documents` and `embeddings`), so graft sees nothing but plain parquet
and JSONL files.
"""
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOAD_IDS = {"interactive_panel": 1, "etl_backfill": 3}

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EPOCH_2024 = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
DAY_US = 86_400 * 1_000_000
EVENT_DAYS = 30


def rng_for(workload, seed):
    return np.random.Generator(np.random.PCG64(
        np.random.SeedSequence([WORKLOAD_IDS[workload], int(seed), 0])))


def _write(table, path):
    # One row group and fixed writer options keep the bytes a pure
    # function of the table.
    pq.write_table(table, path, row_group_size=1 << 30, compression="snappy",
                   use_dictionary=True, write_statistics=True)


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * DAY_US).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _docs_text(rng, n):
    lens = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, i = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[i:i + k]))
        i += k
    return out


def documents_table(rng, n, near_dup_share):
    """`n` docs; a `near_dup_share` of them copy an earlier doc with a
    few tokens substituted, so shingle-based dedup has real pairs."""
    text = _docs_text(rng, n)
    n_dup = int(n * near_dup_share)
    for j in rng.choice(np.arange(1, n), n_dup, replace=False) if n_dup else []:
        src = text[int(rng.integers(0, j))].split()
        for p in rng.integers(0, len(src), max(1, len(src) // 25)):
            src[p] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        text[j] = " ".join(src)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def embeddings_table(rng, n, dims=64):
    v = rng.standard_normal((n, dims))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def events_table(rng, n, users, days=EVENT_DAYS):
    ts = np.sort(rng.integers(EPOCH_2024, EPOCH_2024 + days * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist(), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def warehouse(out, rng, sf):
    """The ten tables at scale factor `sf` (sf=0.1: 600k lineitem)."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_li = 4 * n_ord
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -1000, 10000, n_cust),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_cust).tolist()}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -1000, 10000, n_supp)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(["small", "large", "red", "blue", "hot", "cold", "old", "new"], n_part),
                rng.choice(["widget", "gear", "bolt", "ring", "rod", "plate", "gizmo", "anvil"], n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                                  "PROMO"], n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n_ord).tolist()}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["O", "F"], n_li).tolist(),
            "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", "2001-11-04"), pa.timestamp("us"))}),
        "events": events_table(rng, n_ev, max(1, n_ev // 67)),
        "documents": documents_table(rng, max(500, int(50_000 * sf)), near_dup_share=0.01),
        "embeddings": embeddings_table(rng, max(500, int(20_000 * sf))),
    }
    for name, t in tables.items():
        _write(t, os.path.join(out, f"{name}.parquet"))


REPORT_METRIC_KINDS = ("microsValue", "decimalValue", "doubleValue", "value")


def report_rows(events):
    """AdMob-style report rows: each event as nested dimension values
    and a variant-typed metric payload whose kind varies per row, so
    the flatten step walks every branch of the fallback chains."""
    cols = events.to_pydict()
    micros = events.column("ts").cast(pa.int64()).to_pylist()
    rows = []
    for i, eid in enumerate(cols["event_id"]):
        v = cols["value"][i]
        kind = REPORT_METRIC_KINDS[eid % len(REPORT_METRIC_KINDS)]
        if kind == "microsValue":
            metric = {kind: str(int(round(v * 1_000_000)))}
        elif kind == "doubleValue":
            metric = {kind: v}
        else:
            metric = {kind: f"{v:.2f}"}
        day = (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=micros[i])).strftime("%Y%m%d")
        rows.append({
            "dimensionValues": {
                "DATE": {"value": day},
                "EVENT_ID": {"value": str(eid)},
                "TS_MICROS": {"value": str(micros[i])},
                "USER": {"value": str(cols["user_id"][i]), "displayLabel": f"user_{cols['user_id'][i]}"},
                "EVENT_TYPE": {"value": cols["event_type"][i]},
            },
            "metricValues": {"VALUE": metric},
            "props": cols["props"][i],
        })
    return rows


def etl(out, rng, events, n_days, redeliver_share=0.1, swap_share=0.2):
    """`n_days` days of events as per-day JSONL report deliveries.

    Writes `deliveries.json`: the seeded delivery order (mostly
    chronological, a share of adjacent days swapped) followed by a
    share of days delivered a second time."""
    os.makedirs(os.path.join(out, "landing"), exist_ok=True)
    t = events_table(rng, events, max(1, events // 67), n_days)
    _write(t, os.path.join(out, "events.parquet"))
    days = [(dt.date(2024, 1, 1) + dt.timedelta(d)).strftime("%Y%m%d") for d in range(n_days)]
    day_of = np.asarray((t.column("ts").to_numpy().astype(np.int64) - EPOCH_2024) // DAY_US)
    for d, name in enumerate(days):
        sub = t.filter(pa.array(day_of == d))
        os.makedirs(os.path.join(out, "landing", name), exist_ok=True)
        with open(os.path.join(out, "landing", name, "report.jsonl"), "w") as f:
            for row in report_rows(sub):
                f.write(json.dumps(row, sort_keys=True) + "\n")
    order = list(days)
    for i in range(len(order) - 1):
        if rng.random() < swap_share:
            order[i], order[i + 1] = order[i + 1], order[i]
    redo = sorted(rng.choice(days, int(len(days) * redeliver_share), replace=False).tolist())
    deliveries = [{"day": d, "redelivery": False} for d in order] + \
                 [{"day": d, "redelivery": True} for d in redo]
    with open(os.path.join(out, "deliveries.json"), "w") as f:
        json.dump(deliveries, f)


def digest(path):
    """sha256 over every file under `path`, in name order."""
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sizes(path):
    """(rows, bytes) over the parquet and JSONL inputs under `path`."""
    rows = size = 0
    for root, _, files in os.walk(path):
        for name in files:
            p = os.path.join(root, name)
            size += os.path.getsize(p)
            if name.endswith(".parquet"):
                rows += pq.ParquetFile(p).metadata.num_rows
            elif name.endswith(".jsonl"):
                with open(p, "rb") as f:
                    rows += sum(1 for _ in f)
    return rows, size
