"""Seeded input generator for the benchmark.

Every input the program sees is written here, from `numpy`'s PCG64 seeded
with the run's `--seed`; the same seed always gives byte-identical files.

* `batch_tables`: the ten tables the query registry reads (TPC-H-like star
  schema, an `events` table, `documents` and `embeddings`), with the column
  types and value ranges of the project's parquet test data.
* `window_stream`: event files for the tumbling-window job, one file per
  micro-batch, with bounded disorder and a known set of late events.
* `changelog_stream`: two-sided +I/-U/+U/-D changelog files for the
  streaming changelog join, one file per side per micro-batch, with skewed
  per-key churn.

Each stream generator also writes `manifest.json`, which holds what the
output checks need and the program never reads (late counts, watermarks).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([int(seed), stream]))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _pick(rng, values, n, p=None):
    """Plain string column drawn from `values`, built in C++."""
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx), pa.array(values)).cast(pa.string())


def _money(rng, lo, hi, n):
    """Uniform 2-decimal values; the queries sum these as DECIMAL."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days_us(rng, first, last, n):
    """Midnight timestamps (µs since epoch) uniform in [first, last]."""
    d0 = np.datetime64(first, "D").astype(np.int64)
    d1 = np.datetime64(last, "D").astype(np.int64)
    return (rng.integers(d0, d1 + 1, n) * 86_400_000_000).astype("datetime64[us]")


WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]


def batch_tables(out, seed, sf):
    """The ten registry tables at scale factor `sf` (lineitem = 6e6 * sf)."""
    os.makedirs(out, exist_ok=True)
    rng = _rng(seed, 1)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")
    adj = ["blue", "old", "large", "hot", "cold", "red", "small", "new"]
    noun = ["ring", "gear", "widget", "gizmo", "bolt", "plate", "rod", "anvil"]
    names = [f"{a} {b}" for a in adj for b in noun]
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2)}),
        f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days_us(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days_us(rng, "1995-01-02", "2001-11-04", n_line)}),
        f"{out}/lineitem.parquet")
    span_us = 30 * 86_400_000_000
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (EPOCH_2024_US + np.sort(rng.integers(0, span_us, n_ev)))
        .astype("datetime64[us]"),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")

    # documents: word salad over a 30-word vocabulary; 5% are near copies
    # of an earlier document (one word replaced, "dup" appended)
    texts = []
    lens = rng.integers(10, 101, n_doc)
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split(" ")
            words = [w for w in words if w != "dup"]
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, 30))]
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, 30, lens[i])))
    _write(pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, ["de", "en", "es", "fr", "zh"], n_doc,
                      p=[0.15, 0.4, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out}/documents.parquet")

    # embeddings: unit vectors around ten cluster centres, labelled by centre
    centres = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centres[labels] + rng.normal(scale=1.5, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)}),
        f"{out}/embeddings.parquet")


def _staged_name(i):
    return f"part-{i:05d}.parquet"


def _stamp(path, i):
    """Ascending, distinct modification times: the file source takes the
    oldest unseen file first, so batch k always reads file k."""
    t = 1_700_000_000 + i
    os.utime(path, (t, t))


# ---- window stream -------------------------------------------------------

WINDOW_S = 10           # tumbling window size
DELAY_S = 5             # WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
STEP_MS = 2_000         # event time covered by one micro-batch
DISORDER_MS = 2_000     # on-time events are at most this far out of order
LATE_SHARE = 0.01       # share of late events in a batch once late ones start
LATE_FIRST_BATCH = 20   # late events need an established watermark


def window_stream(out, seed, n_files, events_per_file, n_keys):
    """Files of (event_id, user_id, ts, amount). Event time advances by
    STEP_MS per file. On-time events lag the file's time by at most
    DISORDER_MS, which is less than DELAY_S, so none is ever late. Late
    events sit 20-30 s behind the file's time, so their window closed at
    least one batch earlier under either watermark the stateful operator
    could apply (the previous batch's or the one before)."""
    os.makedirs(out, exist_ok=True)
    rng = _rng(seed, 2)
    window_ms, delay_ms = WINDOW_S * 1000, DELAY_S * 1000
    n_late = int(round(events_per_file * LATE_SHARE))
    max_ts = None        # max event time over the files before this one
    prev_wm = None       # watermark one batch earlier
    files = []
    for f in range(n_files):
        base = f * STEP_MS
        ts = base + rng.integers(0, STEP_MS, events_per_file) \
            - rng.integers(0, DISORDER_MS, events_per_file)
        late = np.zeros(events_per_file, dtype=bool)
        if f >= LATE_FIRST_BATCH:
            idx = rng.choice(events_per_file, n_late, replace=False)
            ts[idx] = base - rng.integers(20_000, 30_000, n_late)
            late[idx] = True
        ts = np.maximum(ts, 0)
        wm = None if max_ts is None else max_ts - delay_ms
        window_end = (ts // window_ms + 1) * window_ms
        dropped = np.zeros(events_per_file, dtype=bool) if wm is None \
            else window_end <= wm
        # the late set must not depend on which of the two watermarks
        # Spark applies to late rows
        dropped_prev = np.zeros(events_per_file, dtype=bool) \
            if prev_wm is None else window_end <= prev_wm
        assert (dropped == late).all() and (dropped_prev == late).all(), f
        ids = f * events_per_file + np.arange(events_per_file, dtype=np.int64)
        users = rng.integers(0, n_keys, events_per_file).astype(np.int64)
        # Spark counts late rows after its partial aggregation, so late
        # events of one batch that share a window and a key count once
        late_groups = len(set(zip(window_end[late].tolist(), users[late].tolist())))
        path = f"{out}/{_staged_name(f)}"
        _write(pa.table({
            "event_id": ids,
            "user_id": users,
            "ts": pa.array(EPOCH_2024_US // 1000 + ts, pa.timestamp("ms", tz="UTC")),
            "amount": rng.integers(1, 1000, events_per_file).astype(np.int64),
            "late": late}), path)
        _stamp(path, f)
        this_max = int(ts[~late].max())
        max_ts = this_max if max_ts is None else max(max_ts, this_max)
        prev_wm = wm
        files.append({"file": _staged_name(f), "late": late_groups,
                      "max_ts_ms": EPOCH_2024_US // 1000 + max_ts})
    _manifest(out, {"window_s": WINDOW_S, "delay_s": DELAY_S, "files": files})


# ---- changelog stream ----------------------------------------------------

def changelog_stream(out, seed, n_files, events_per_file, n_keys, hot_keys):
    """Two changelog sides, `left/` and `right/`, each a file per batch of
    exactly `events_per_file` rows (id, k, v, kind, seq). A side's rows
    are inserted (+I), updated in place (-U old, +U new, in one file),
    and deleted (-D). Updates pick a row on one of `hot_keys` keys half
    the time, so a few keys churn far more than the rest. `seq` orders
    all changes of both sides."""
    rng = _rng(seed, 3)
    seq = 0
    sides = {}
    for side in ("left", "right"):
        os.makedirs(f"{out}/{side}", exist_ok=True)
        sides[side] = {"live": {}, "ids": [], "hot": [], "next": 0}

    def insert(st, key, rows):
        rid = st["next"]
        st["next"] += 1
        st["live"][rid] = (key, int(rng.integers(0, 1_000_000)))
        st["ids"].append(rid)
        if key < hot_keys:
            st["hot"].append(rid)
        rows.append((rid, key, st["live"][rid][1], "+I"))

    def pick(st, pool):
        # swap-remove dead ids lazily so picks stay O(1)
        while pool:
            i = int(rng.integers(0, len(pool)))
            rid = pool[i]
            if rid in st["live"]:
                return rid
            pool[i] = pool[-1]
            pool.pop()
        return None

    for f in range(n_files):
        batch = {}
        for side in ("left", "right"):
            st, rows = sides[side], []
            if f == 0:  # every hot key starts with two rows on each side
                for key in range(hot_keys):
                    insert(st, key, rows)
                    insert(st, key, rows)
            while len(rows) < events_per_file:
                room = events_per_file - len(rows)
                r = rng.random()
                if r < 0.35 or not st["live"]:
                    insert(st, int(rng.integers(0, n_keys)), rows)
                elif r < 0.85 and room >= 2:
                    pool = st["hot"] if rng.random() < 0.5 else st["ids"]
                    rid = pick(st, pool)
                    if rid is None:
                        rid = pick(st, st["ids"])
                    key, old = st["live"][rid]
                    new = int(rng.integers(0, 1_000_000))
                    st["live"][rid] = (key, new)
                    rows += [(rid, key, old, "-U"), (rid, key, new, "+U")]
                else:
                    rid = pick(st, st["ids"])
                    if rid is None or st["live"][rid][0] < hot_keys:
                        insert(st, int(rng.integers(0, n_keys)), rows)
                        continue
                    key, old = st["live"].pop(rid)
                    rows.append((rid, key, old, "-D"))
            assert len(rows) == events_per_file
            batch[side] = rows
        # interleave the two sides' changes in one global sequence
        order = rng.permutation(2 * events_per_file)
        seqs = np.empty(2 * events_per_file, dtype=np.int64)
        seqs[order] = seq + np.arange(2 * events_per_file)
        seq += 2 * events_per_file
        for j, side in enumerate(("left", "right")):
            rows = batch[side]
            s = np.sort(seqs[j * events_per_file:(j + 1) * events_per_file])
            path = f"{out}/{side}/{_staged_name(f)}"
            _write(pa.table({
                "id": pa.array([r[0] for r in rows], pa.int64()),
                "k": pa.array([r[1] for r in rows], pa.int64()),
                "v": pa.array([r[2] for r in rows], pa.int64()),
                "kind": pa.array([r[3] for r in rows], pa.string()),
                "seq": s}), path)
            _stamp(path, f)
    _manifest(out, {"files": [_staged_name(f) for f in range(n_files)],
                    "hot_keys": hot_keys, "keys": n_keys})


def _manifest(out, body):
    with open(f"{out}/manifest.json", "w") as fh:
        json.dump(body, fh)
