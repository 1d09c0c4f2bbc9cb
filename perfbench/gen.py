"""Seeded input generator for the benchmark.

Every table is a pure function of (seed, workload parameters): the same seed
writes byte-identical parquet. Shapes and physical types follow FIXTURES.md
(the sf0.1 star schema, events, documents and embeddings), so the operators
and their DuckDB twins read generated inputs exactly like the fixture.

Layout written under `out`:
  analytics: region nation customer supplier part orders lineitem events
             documents embeddings (row counts from params.json), and the
             same at `warm_scale` of the rows under warm/ for warm-up
  feed:      feed_events.parquet (unique events, compressed event time) and
             feed_deliveries.parquet (file_idx, seq, event_id, corrupt): the
             delivery plan the JVM side wraps into Kinesis-shaped record files
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark table column window merge vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EPOCH = dt.datetime(1970, 1, 1)


def _us(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _ts(us):
    return pa.array(np.asarray(us, dtype="int64"), type=pa.timestamp("us"))


def _write(path, cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def _texts(rng, n):
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    out, i = [], 0
    for k in lens:
        out.append(" ".join(words[i:i + k]))
        i += k
    return out


def _unit_vectors(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _documents(path, texts, rng):
    n = len(texts)
    _write(path, {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


def _embeddings(path, vecs, rng):
    n = len(vecs)
    _write(path, {
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype("int32")),
    })


def _events(rng, n, start_us, span_us):
    step = span_us // n
    ts = start_us + np.arange(n, dtype="int64") * step + rng.integers(0, step, n)
    return {
        "event_id": np.arange(n, dtype="int64"),
        "ts": ts,
        "user_id": rng.integers(0, 1500, n).astype("int64"),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(0.01 + rng.random(n) * 490, 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _events_cols(ev):
    return {k: (_ts(v) if k == "ts" else pa.array(v)) for k, v in ev.items()}


def gen_analytics(out, seed, p):
    rng = np.random.default_rng([seed, 1])
    n_supp, n_cust, n_part, n_ord = p["suppliers"], p["customers"], p["parts"], p["orders"]
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32"))})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(np.round(rng.random(n_supp) * 10999 - 999, 2))})
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(np.round(rng.random(n_cust) * 10999 - 999, 2)),
        "c_mktsegment": pa.array(np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                           "HOUSEHOLD", "MACHINERY"])[rng.integers(0, 5, n_cust)])})
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": pa.array([f"part {i}" for i in range(n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY",
                                     "PROMO"])[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(np.round(900 + rng.random(n_part) * 1100, 2))})
    day = 86_400_000_000
    o_start = _us(dt.datetime(1995, 1, 1))
    lines = rng.integers(1, 8, n_ord)
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.random(n_ord) * 450000 + 850, 2)),
        "o_orderdate": _ts(o_start + rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                              "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)])})
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype("int64")),
        "l_linenumber": pa.array((np.arange(n_li) - first + 1).astype("int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * (900 + rng.random(n_li) * 1100), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(o_start + day + rng.integers(0, 2498, n_li) * day)})
    ev = _events(rng, p["events"], _us(dt.datetime(2024, 1, 1)), 29 * day)
    _write(f"{out}/events.parquet", _events_cols(ev))
    _documents(f"{out}/documents.parquet", _texts(rng, p["documents"]), rng)
    _embeddings(f"{out}/embeddings.parquet", _unit_vectors(rng, p["embeddings"]), rng)


def gen_feed(out, seed, p):
    """Unique events whose event time advances `event_seconds_per_trigger`
    per file, then a delivery plan: each file holds `records_per_trigger`
    records in arrival order, which trails event time by up to
    `disorder_seconds` (inside the watermark), plus redelivered duplicates of
    the two previous files' events, corrupt copies of this file's records,
    and fresh events an hour behind the watermark (late). One more file holds
    a sentinel five days ahead, so the final watermark closes every window."""
    rng = np.random.default_rng([seed, 3])
    n_files, per = p["triggers"], p["records_per_trigger"]
    n_dup = int(per * p["dup_share"])
    n_late = int(per * p["late_share"])
    n_bad = int(per * p["corrupt_share"])
    n_fresh = per - n_dup - n_late - n_bad
    sec = 1_000_000
    span = p["event_seconds_per_trigger"] * sec
    start = _us(dt.datetime(2024, 1, 1))
    ev = _events(rng, n_fresh * n_files, start, span * n_files)
    arrival = ev["ts"] + rng.integers(0, p["disorder_seconds"] * sec, len(ev["ts"]))
    by_arrival = np.argsort(arrival, kind="stable")
    late_ts, deliveries = [], []
    n_ev = len(ev["event_id"])
    for f in range(n_files):
        fresh = by_arrival[f * n_fresh:(f + 1) * n_fresh]
        recent = by_arrival[max(0, f - 2) * n_fresh:f * n_fresh] if f else fresh
        batch = [(i, False) for i in fresh]
        batch += [(i, False) for i in rng.choice(recent, n_dup)]
        batch += [(i, True) for i in rng.choice(fresh, n_bad)]
        if f >= 2:
            behind = ev["ts"][by_arrival[(f - 2) * n_fresh:(f - 1) * n_fresh]].min() \
                - p["watermark_seconds"] * sec - 3600 * sec
            for _ in range(n_late):
                batch.append((n_ev + len(late_ts), False))
                late_ts.append(behind - int(rng.integers(0, 600 * sec)))
        for j, pos in enumerate(rng.permutation(len(batch))):
            deliveries.append((f, j) + batch[pos])
    n_late_all = len(late_ts) + 1
    extra = _events(rng, n_late_all, 0, n_late_all)
    extra["event_id"] = n_ev + np.arange(n_late_all, dtype="int64")
    extra["ts"] = np.array(late_ts + [start + span * n_files + 5 * 86400 * sec], dtype="int64")
    extra["user_id"][-1] = -1
    extra["event_type"] = extra["event_type"].astype(object)
    extra["event_type"][-1] = "sentinel"
    deliveries.append((n_files, 0, n_ev + n_late_all - 1, False))
    events = {k: np.concatenate([ev[k].astype(v.dtype), v]) for k, v in extra.items()}
    _write(f"{out}/feed_events.parquet", _events_cols(events))
    f, j, i, bad = zip(*deliveries)
    _write(f"{out}/feed_deliveries.parquet", {
        "file_idx": pa.array(np.array(f, dtype="int32")),
        "seq": pa.array(np.array(j, dtype="int32")),
        "event_id": pa.array(np.array(i, dtype="int64")),
        "corrupt": pa.array(np.array(bad, dtype=bool))})


def generate(workload, out, seed, params):
    p = params[workload]
    if workload == "analytics":
        gen_analytics(out, seed, p)
        # warm-up tables: the same shapes at `warm_scale` of the rows
        small = {k: max(1, int(v * p["warm_scale"])) if isinstance(v, int) else v
                 for k, v in p.items()}
        gen_analytics(f"{out}/warm", seed + 1, small)
    elif workload == "feed":
        gen_feed(out, seed, p)
    else:
        raise ValueError(f"unknown workload {workload}")
