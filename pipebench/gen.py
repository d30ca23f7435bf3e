"""Seeded input generator for the pipeline benchmark.

Every input the product sees is made here from the seed alone: the same
seed gives byte-identical files and a different seed gives different ones
(tests/test_gen.py checks both). Files are written only under the output
directory the caller names.

The tables follow the shapes of the TPC-H-like test tables the product's
oracle suite uses (orders, lineitem, customer, documents, events), with a
seed-dependent key shift in the manner of the product's 10x soak
replication, so two seeds never share keys.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Row counts per workload. etl_batch is sized so that one pipeline run is
# dominated by scan, shuffle, persist and file write yet a run still yields
# enough operations for a median; service_small uses the oracle suite's
# sf0.01 row counts; delta_upsert starts from sf0.1 orders.
SIZES = {
    "etl_batch": {"orders": 30_000, "customer": 3_000, "documents": 1_500},
    "service_small": {"orders": 15_000, "customer": 1_500, "events": 10_000,
                      "documents": 500},
    "delta_upsert": {"orders": 150_000, "customer": 15_000, "batches": 400,
                     "batch_rows": 300, "new_share": 0.2},
    "stream_ingest": {"slice_rows": 2_000, "dup_share": 0.05,
                      "interval_s": 0.25, "warm_slices": 32},
}

PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
LANGS = np.array(["en", "de", "fr", "es", "zh"])
WORDS = np.array(
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query key window row table stream merge data join big "
    "vector customer the and of to in is that for with der die und das le la "
    "et des el los de en".split())
EPOCH_1992 = 8035  # 1992-01-01 as days since 1970-01-01
DAYS_SPAN = 2405   # through 1998-08-02, the TPC-H order-date range


def rng_for(seed, stream):
    """Independent generator per table, so adding a table never shifts the
    values of another."""
    return np.random.default_rng([seed, stream])


def key_shift(seed):
    return (seed % 97) * 10_000_000


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def orders_table(seed, n, n_customers):
    r = rng_for(seed, 1)
    keys = key_shift(seed) + 1 + np.arange(n, dtype=np.int64) * 4 + r.integers(0, 4, n)
    return pa.table({
        "o_orderkey": keys,
        "o_custkey": key_shift(seed) + r.integers(1, n_customers + 1, n),
        "o_orderstatus": np.array(["F", "O", "P"])[r.choice(3, n, p=[0.49, 0.49, 0.02])],
        "o_totalprice": money(r, 900.0, 500_000.0, n),
        "o_orderdate": pa.array(EPOCH_1992 + r.integers(0, DAYS_SPAN, n), pa.int32()).cast(pa.date32()),
        "o_orderpriority": PRIORITIES[r.integers(0, 5, n)],
    })


def lineitem_table(seed, orders):
    r = rng_for(seed, 2)
    okeys = orders.column("o_orderkey").to_numpy()
    odays = orders.column("o_orderdate").cast(pa.int32()).to_numpy()
    per = r.integers(1, 8, len(okeys))
    n = int(per.sum())
    idx = np.repeat(np.arange(len(okeys)), per)
    line = np.arange(n) - np.repeat(np.cumsum(per) - per, per) + 1
    qty = r.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": okeys[idx],
        "l_partkey": r.integers(1, 20_001, n),
        "l_suppkey": r.integers(1, 1_001, n),
        "l_linenumber": line.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2_000.0, n), 2),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n)],
        "l_shipdate": pa.array(odays[idx] + r.integers(1, 122, n), pa.int32()).cast(pa.date32()),
    })


def customer_table(seed, n):
    r = rng_for(seed, 3)
    keys = key_shift(seed) + np.arange(1, n + 1, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": ["Customer#%09d" % k for k in keys],
        "c_nationkey": r.integers(0, 25, n).astype(np.int32),
        "c_acctbal": money(r, -999.99, 9_999.99, n),
        "c_mktsegment": SEGMENTS[r.integers(0, 5, n)],
    })


def documents_table(seed, n):
    r = rng_for(seed, 4)
    lengths = r.integers(8, 80, n)
    words = WORDS[r.integers(0, len(WORDS), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lengths)]
    return pa.table({
        "doc_id": key_shift(seed) + np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": LANGS[r.integers(0, 5, n)],
        "source": np.array(["src%d" % i for i in range(5)])[r.integers(0, 5, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def events_columns(r, ids, t0_us, span_us):
    n = len(ids)
    ts = np.sort(t0_us + r.integers(0, span_us, n))
    return {
        "event_id": ids,
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": r.integers(1, 2_001, n),
        "event_type": EVENT_TYPES[r.integers(0, 5, n)],
        "value": money(r, 0.0, 200.0, n),
        "props": ['{"k": %d}' % k for k in r.integers(0, 100, n)],
    }


T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def events_table(seed, n):
    r = rng_for(seed, 5)
    ids = key_shift(seed) + np.arange(n, dtype=np.int64)
    return pa.table(events_columns(r, ids, T0_US, 86_400_000_000))


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def write_model_csv(table, path, columns):
    """Plain CSV copy of the columns a benchmark-side model needs, so the
    checks never read the product's inputs back through the product."""
    pacsv.write_csv(table.select(columns), path)


def gen_etl(seed, out, s):
    orders = orders_table(seed, s["orders"], s["customer"])
    write(orders, f"{out}/orders.parquet")
    write(lineitem_table(seed, orders), f"{out}/lineitem.parquet")
    write(customer_table(seed, s["customer"]), f"{out}/customer.parquet")
    write(documents_table(seed, s["documents"]), f"{out}/documents.parquet")


def gen_service(seed, out, s):
    orders = orders_table(seed, s["orders"], s["customer"])
    write(orders, f"{out}/orders.parquet")
    write(lineitem_table(seed, orders), f"{out}/lineitem.parquet")
    write(customer_table(seed, s["customer"]), f"{out}/customer.parquet")
    write(events_table(seed, s["events"]), f"{out}/events.parquet")
    write(documents_table(seed, s["documents"]), f"{out}/documents.parquet")
    os.makedirs(f"{out}/orders_csv", exist_ok=True)
    pacsv.write_csv(
        orders.select(["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]),
        f"{out}/orders_csv/orders.csv")


ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"]


def gen_delta(seed, out, s):
    orders = orders_table(seed, s["orders"], s["customer"])
    write(orders, f"{out}/orders.parquet")
    os.makedirs(f"{out}/model", exist_ok=True)
    write_model_csv(orders, f"{out}/model/orders.csv", ORDER_COLS)
    r = rng_for(seed, 6)
    keys = list(orders.column("o_orderkey").to_numpy())
    next_key = int(keys[-1]) + 1
    n_new = int(s["batch_rows"] * s["new_share"])
    n_upd = s["batch_rows"] - n_new
    batches = []
    for b in range(s["batches"]):
        # updates favour recent keys: an exponential distance back from the
        # newest key, so the merge keeps touching the newest files
        chosen = set()
        while len(chosen) < n_upd:
            back = int(r.exponential(len(keys) * 0.02))
            chosen.add(keys[max(0, len(keys) - 1 - back)])
        upd = np.array(sorted(chosen), dtype=np.int64)
        new = np.arange(next_key, next_key + n_new * 3, 3, dtype=np.int64)
        next_key = int(new[-1]) + 1
        keys.extend(new.tolist())
        k = np.concatenate([upd, new])
        m = len(k)
        batch = pa.table({
            "o_orderkey": k,
            "o_custkey": key_shift(seed) + r.integers(1, s["customer"] + 1, m),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, m)],
            "o_totalprice": money(r, 900.0, 500_000.0, m),
            "o_orderdate": pa.array(EPOCH_1992 + r.integers(0, DAYS_SPAN, m), pa.int32()).cast(pa.date32()),
            "o_orderpriority": PRIORITIES[r.integers(0, 5, m)],
        })
        write(batch, f"{out}/batches/batch_{b:04d}.parquet")
        batches.append(batch.append_column("batch", pa.array(np.full(m, b, dtype=np.int32))))
    write_model_csv(pa.concat_tables(batches), f"{out}/model/batches.csv",
                    ["batch"] + ORDER_COLS)


def stream_slices(s, seconds):
    return int((seconds + 2) / s["interval_s"]) + s["warm_slices"]


def gen_stream(seed, out, s, seconds):
    """Slices for the open-loop generator. Slice k holds events stamped in
    minute k; a share of each slice re-sends exact copies of events from the
    slice before it, which the watermarked dedup must drop. No event is ever
    older than the watermark, so the streaming result must equal a batch
    run of the same function over all slices."""
    r = rng_for(seed, 7)
    n = s["slice_rows"]
    n_dup = int(n * s["dup_share"])
    base = key_shift(seed)
    prev = None
    counts = []
    for k in range(stream_slices(s, seconds)):
        fresh = n - (n_dup if prev is not None else 0)
        ids = base + np.arange(fresh, dtype=np.int64)
        base += fresh
        t = pa.table(events_columns(r, ids, T0_US + k * 60_000_000, 60_000_000))
        if prev is not None:
            t = pa.concat_tables([t, prev.take(r.choice(prev.num_rows, n_dup, replace=False))])
        write(t, f"{out}/slices/slice_{k:05d}.parquet")
        counts.append({"slice": k, "rows": t.num_rows, "first_id": int(ids[0]),
                       "last_id": int(ids[-1])})
        prev = t.slice(0, fresh)
    with open(f"{out}/slices.json", "w") as f:
        json.dump({"interval_s": s["interval_s"], "warm_slices": s["warm_slices"],
                   "slices": counts}, f)


def generate(workload, seed, out, seconds):
    s = SIZES[workload]
    os.makedirs(out, exist_ok=True)
    if workload == "etl_batch":
        gen_etl(seed, out, s)
    elif workload == "service_small":
        gen_service(seed, out, s)
    elif workload == "delta_upsert":
        gen_delta(seed, out, s)
    elif workload == "stream_ingest":
        gen_stream(seed, out, s, seconds)
    else:
        raise ValueError(f"unknown workload {workload}")
