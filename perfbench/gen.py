"""Seeded input generators for the benchmark's three chains.

Everything the engine reads is made here from the seed alone, so a change
to the engine cannot change its own inputs. Each generator writes plain
parquet files, plus the facts the output checks need.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EVENT_DAYS = 30  # the skew-join fixtures pin bursts at 2024-01-15 12:00

# Where each traffic property comes from (also recorded in BENCHMARK.json).
# Taken from the sf0.1 fixture: 30 days of events, uniform event types,
# uniform users at about 67 events each, exponential values (mean 50); a
# corpus over a 31-word vocabulary with 10-100 words a document and about
# one near-duplicate pair per 20 documents. The fixture has no redelivered,
# invalid or late events, so those shares are chosen, not measured: each
# gives its path (bronze dedup, quarantine, MERGE into older days, the
# streaming dedup state) a few hundred rows to handle, and at these sizes
# the timings are mostly fixed cost, so the exact share barely moves them.
EVENTS_PER_USER = 67
VALUE_MEAN = 50.0
DUP_SHARE = 0.05
INVALID_SHARE = 0.02
LATE_SHARE = 0.10
STREAM_DUP_SHARE = 0.05
# Near-duplicates: four times the fixture's share, so a 2,000-document
# corpus holds 400 pairs and recall reads steadily across seeds (DuckDB's
# replay of the chain for the l29 check grows too slow past about 2,000
# documents). A quarter keep the fixture's one-word edits (exact Jaccard
# about 0.8-1.0, which any working LSH finds); the rest replace 2-40% of
# their words, so their Jaccard straddles the chain's 0.5 threshold and
# recall falls when LSH gets worse. A fifth of the documents open with one
# of three shared headers, so the band join also yields pairs that are not
# duplicates.
NEAR_DUP_SHARE = 0.20
LIGHT_EDIT_SHARE = 0.25
EDIT_RATES = (0.02, 0.40)
HEADER_SHARE = 0.20
HEADER_WORDS = 6
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
         "the", "value", "vector", "window"]


def _ts(arr_us):
    return pa.array(arr_us, type=pa.timestamp("us"))


def _event_columns(rng, ids, ts_us, users):
    n = len(ids)
    return {
        "event_id": pa.array(ids, type=pa.int64()),
        "ts": _ts(ts_us),
        "user_id": pa.array(rng.integers(0, users, n), type=pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)], pa.string()),
        "value": pa.array(np.round(rng.exponential(VALUE_MEAN, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    }


def medallion(seed, out, events, customers):
    """Events with redelivered duplicates and invalid rows, plus a small
    TPC-H-like star schema (customer, orders, lineitem, part, nation,
    region) for the BI views."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    users = max(50, events // EVENTS_PER_USER)
    ids = np.arange(events, dtype=np.int64)
    ts = EPOCH_2024_US + rng.integers(0, EVENT_DAYS * DAY_US, events)
    cols = _event_columns(rng, ids, ts, users)
    user = cols["user_id"].to_numpy().astype(object)
    value = cols["value"].to_numpy().copy()
    invalid = rng.random(events) < INVALID_SHARE
    null_user = invalid & (rng.random(events) < 0.5)
    user[null_user] = None
    value[invalid & ~null_user] = -value[invalid & ~null_user] - 1.0
    cols["user_id"] = pa.array(user.tolist(), type=pa.int64())
    cols["value"] = pa.array(value)
    table = pa.table(cols)
    valid_idx = np.flatnonzero(~invalid)
    dups = rng.choice(valid_idx, int(events * DUP_SHARE), replace=False)
    table = pa.concat_tables([table, table.take(dups)])
    table = table.take(rng.permutation(table.num_rows))
    pq.write_table(table, f"{out}/events_in.parquet")
    _star(rng, out, customers)
    facts = {"raw": table.num_rows, "quarantined": int(invalid.sum()),
             "bronze": int((~invalid).sum()), "dedup_dropped": len(dups)}
    with open(f"{out}/expect.json", "w") as f:
        json.dump(facts, f)


def _star(rng, out, customers):
    orders = customers * 10
    parts = max(100, customers * 4 // 3)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    pq.write_table(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                             "r_name": regions}), f"{out}/region.parquet")
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    pq.write_table(pa.table({
        "c_custkey": pa.array(range(customers), pa.int64()),
        "c_name": [f"Customer#{i}" for i in range(customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, customers), 2),
        "c_mktsegment": segments[rng.integers(0, 5, customers)]}),
        f"{out}/customer.parquet")
    words = np.array(["large", "hot", "ring", "bolt", "steel", "brass", "tin", "nut"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    pq.write_table(pa.table({
        "p_partkey": pa.array(range(parts), pa.int64()),
        "p_name": [f"{words[a]} {words[b]}" for a, b in rng.integers(0, 8, (parts, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, parts)],
        "p_type": types[rng.integers(0, 6, parts)],
        "p_size": pa.array(rng.integers(1, 51, parts), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(parts) % 1000 / 10.0, 2)}),
        f"{out}/part.parquet")
    # two of three customers order, so the churn view has a never-ordered class
    buyers = np.flatnonzero(np.arange(customers) % 3 != 0)
    day0 = 9131  # 1995-01-01 in days since the epoch
    odays = rng.integers(0, 2404, orders)  # through 2001-08-01
    pq.write_table(pa.table({
        "o_orderkey": pa.array(range(orders), pa.int64()),
        "o_custkey": pa.array(buyers[rng.integers(0, len(buyers), orders)], pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, orders), 2),
        "o_orderdate": _ts((day0 + odays) * DAY_US),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, orders)]}),
        f"{out}/orders.parquet")
    lines = rng.integers(1, 8, orders)
    okey = np.repeat(np.arange(orders), lines)
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    pkey = rng.integers(0, parts, n)
    pq.write_table(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + pkey % 1000 / 10.0), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts((day0 + odays[okey] + rng.integers(1, 122, n)) * DAY_US)}),
        f"{out}/lineitem.parquet")


def corpus(seed, out, docs):
    """Documents over the fixture's vocabulary, some behind a shared header,
    plus injected near-duplicates. Writes documents.parquet and the
    injected (orig, dup) pairs with their exact word-3-gram Jaccard."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    vocab = np.array(VOCAB)
    headers = [list(vocab[np.random.default_rng([0, h]).integers(0, len(vocab), HEADER_WORDS)])
               for h in range(3)]
    n_dup = int(docs * NEAR_DUP_SHARE)
    n_orig = docs - n_dup
    texts = []
    for _ in range(n_orig):
        t = list(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        if rng.random() < HEADER_SHARE:
            t = headers[rng.integers(0, 3)] + t
        texts.append(t)
    origs = rng.choice(n_orig, n_dup, replace=False)
    # stratified edit rates: one-word edits, then an even ladder over EDIT_RATES
    n_light = int(n_dup * LIGHT_EDIT_SHARE)
    lo, hi = EDIT_RATES
    ladder = lo + (hi - lo) * (np.arange(n_dup - n_light) + rng.random(n_dup - n_light)) \
        / (n_dup - n_light)
    rates = np.concatenate([np.zeros(n_light), ladder])
    for o, r in zip(origs, rates):
        t = list(texts[o])
        for pos in rng.choice(len(t), max(1, int(round(r * len(t)))), replace=False):
            t[pos] = vocab[rng.integers(0, len(vocab))]
        texts.append(t)
    ids = rng.permutation(np.arange(docs, dtype=np.int64) * 7 + 3)
    text = [" ".join(t) for t in texts]
    langs = np.array(["de", "en", "en", "en", "es", "fr", "zh"])
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": text,
        "lang": langs[rng.integers(0, len(langs), docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, docs)],
        "n_chars": pa.array([len(t) for t in text], pa.int64())}),
        f"{out}/documents.parquet")
    jac = [_jaccard(texts[o], texts[n_orig + i]) for i, o in enumerate(origs)]
    pq.write_table(pa.table({"orig": pa.array(ids[origs], pa.int64()),
                             "dup": pa.array(ids[n_orig:], pa.int64()),
                             "jaccard": pa.array(jac, pa.float64())}),
                   f"{out}/near_dups.parquet")


def _jaccard(a, b):
    """Exact Jaccard of two word lists' distinct word 3-grams, the
    shingles the chain hashes."""
    sa = {tuple(a[i:i + 3]) for i in range(len(a) - 2)}
    sb = {tuple(b[i:i + 3]) for i in range(len(b) - 2)}
    return len(sa & sb) / len(sa | sb)


def stream(seed, out, backfill_rows, files, rows_per_file, days=6):
    """`files` event files in landing order. The first is a backfill of
    `days` older days; in the rest, most events are new in the newest day,
    LATE_SHARE are updates (later ts, new value) to backfilled keys, and
    STREAM_DUP_SHARE are exact redeliveries of rows landed earlier."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(f"{out}/files", exist_ok=True)
    users = max(50, backfill_rows // EVENTS_PER_USER)
    # backfill rows sit in the first half of their day, so an update (at
    # most ten minutes later each) never crosses into the next day
    b_day = rng.integers(0, days, backfill_rows)
    b_ts = EPOCH_2024_US + b_day * DAY_US + rng.integers(0, DAY_US // 2, backfill_rows)
    backfill = _with_day(pa.table(_event_columns(
        rng, np.arange(backfill_rows, dtype=np.int64), b_ts, users)))
    pq.write_table(backfill, f"{out}/files/f_00000.parquet")
    latest = dict(zip(range(backfill_rows), b_ts.tolist()))
    history = [backfill]  # rows already landed, for redeliveries
    next_id = backfill_rows
    today = EPOCH_2024_US + days * DAY_US
    for f in range(1, files):
        n_late = int(rows_per_file * LATE_SHARE)
        n_dup = int(rows_per_file * STREAM_DUP_SHARE)
        n_new = rows_per_file - n_late - n_dup
        new_ids = np.arange(next_id, next_id + n_new, dtype=np.int64)
        next_id += n_new
        new_ts = today + (f * DAY_US // (2 * files)) + rng.integers(0, 1_000_000, n_new)
        parts = [pa.table(_event_columns(rng, new_ids, new_ts, users))]
        keys = rng.choice(backfill_rows, n_late, replace=False)
        late_ts = (np.array([latest[int(k)] for k in keys], dtype=np.int64)
                   + rng.integers(1, 600_000_000, n_late))
        parts.append(pa.table(_event_columns(rng, keys.astype(np.int64), late_ts, users)))
        latest.update(zip(keys.tolist(), late_ts.tolist()))
        pool = pa.concat_tables(history)
        parts.append(pool.take(rng.integers(0, pool.num_rows, n_dup)).drop(["day"]))
        t = _with_day(pa.concat_tables(parts))
        t = t.take(rng.permutation(t.num_rows))
        history.append(t)
        pq.write_table(t, f"{out}/files/f_{f:05d}.parquet")


def _with_day(t):
    days = (t["ts"].cast(pa.int64()).to_numpy() // DAY_US).astype("int32")
    return t.append_column("day", pa.array(days, pa.int32()).cast(pa.date32()))
