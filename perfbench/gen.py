"""Seeded input generator for the benchmark.

Writes, under one output directory:

  corpus/<table>.parquet    TPC-H-shaped star schema plus events,
                            documents and embeddings, with the column
                            names and physical types the query registry
                            reads (see TESTDATA.md for the shape).
  datasets/<vendor>/{train,test}.parquet
                            the vendor fixture: 722 columns laid out
                            like the reference taxi datasets, with a
                            real distance -> duration signal and a
                            known number of injected defects.
  landing/{append,merge}_NNNN.parquet
                            seeded order batches that land for the
                            table_writes commits: appends carry fresh
                            keys, merges mostly keys of `orders`; each
                            batch has a known number of rows with a
                            null priority or a negative price.
  inputs.json               row/byte/file counts and the defect counts
                            the output checks compare against.

The same seed always gives byte-identical inputs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small big customer query "
         "order group stream filter vector").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

# Vendor fixture column families (reference layout: 722 columns).
N_PICKUP, N_DROPOFF, N_WEEKDAY, N_Q = 384, 324, 7, 2

DAY_US = 86_400_000_000


def _days(rng, lo, hi, n):
    """Random midnight timestamps (µs since epoch) in [lo, hi] (ISO dates)."""
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(a, b + 1, n) * DAY_US


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def corpus(out, sf, seed):
    """TPC-H-shaped tables; row counts scale like the sf0.001..sf0.1 corpus."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(10, int(15_000 * sf))
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    per_order = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    lnum = (np.arange(len(okey)) - starts + 1).astype(np.int32)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n_li))})
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ev_ts = np.sort(t0 + rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(490.0, 0.01 + rng.exponential(20.0, n_ev)), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    lens = rng.integers(8, 100, n_doc)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))]
    texts, at = [], 0
    for n in lens:
        texts.append(" ".join(words[at:at + n]))
        at += n
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[labels] + rng.normal(0, 0.8, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    for name, tab in t.items():
        _write(tab, f"{out}/corpus/{name}.parquet")
    return {name: tab.num_rows for name, tab in t.items()}


def vendor_split(rng, n, id0, slope, defects):
    """One split of one vendor: reference column layout, defects injected
    on disjoint rows. Returns (table, {defect: count})."""
    pc = rng.integers(1, 7, n).astype(np.int64)
    hour = rng.integers(0, 24, n).astype(np.float64)
    dist = np.round(rng.lognormal(1.2, 0.7, n), 3)
    dur = 60.0 + slope * dist + 4.0 * hour + 10.0 * pc + rng.normal(0, 60, n)
    fams = {}
    for prefix, k in (("pickup", N_PICKUP), ("dropoff", N_DROPOFF),
                      ("weekday", N_WEEKDAY), ("Q", N_Q)):
        hot = np.zeros((n, k), dtype=np.uint8)
        hot[np.arange(n), rng.integers(0, k, n)] = 1
        fams[prefix] = hot
    bad = rng.permutation(n)
    n_null, n_neg, n_hot = defects
    null_rows = bad[:n_null]
    neg_rows = bad[n_null:n_null + n_neg]
    hot_rows = bad[n_null + n_neg:n_null + n_neg + n_hot]
    dist[neg_rows] = -dist[neg_rows] - 0.5
    ph = fams["pickup"]
    ph[hot_rows, :] = 0
    ph[hot_rows, 0] = 1
    ph[hot_rows, 1] = 1  # two pickup zones: breaks the one-hot encoding
    mask = np.zeros(n, dtype=bool)
    mask[null_rows] = True
    arrays = {"trip_duration": pa.array(dur, mask=mask),
              "passenger_count": pc, "hour": hour, "distance": dist}
    for prefix, hot in fams.items():
        base = 1 if prefix == "Q" else 0  # the reference names Q_1, Q_2
        for j in range(hot.shape[1]):
            arrays[f"{prefix}_{j + base}"] = hot[:, j]
    arrays["__index_level_0__"] = np.arange(id0, id0 + n, dtype=np.int64)
    counts = {"null_label": n_null, "neg_distance": n_neg, "bad_onehot": n_hot}
    return pa.table(arrays), counts


def vendors(out, sizes, seed):
    """Vendor fixture: sizes maps vendor -> total rows (train 80 %, test 20 %)."""
    info = {}
    for i, (name, n) in enumerate(sorted(sizes.items())):
        rng = np.random.default_rng([seed, 2, i])
        slope = 120.0 + 40.0 * i
        n_test = n // 5
        info[name] = {"slope": slope}
        id0 = 0
        for split, m in (("train", n - n_test), ("test", n_test)):
            d = max(1, m // 200)
            tab, counts = vendor_split(rng, m, id0, slope, (d, d + 1, d + 2))
            _write(tab, f"{out}/datasets/{name}/{split}.parquet")
            info[name][split] = {"rows": m, "defects": counts}
            id0 += m
    return info


def landing(out, n_orders, seed, files=100, rows=200):
    """Order batches in the TxTable's column layout (priority as `pr`,
    price in integer `cents`). Each batch has 1-3 rows with a null
    priority and 1-3 others with a negative price, which the landing
    gate must quarantine. Returns {file: {defect: count}}."""
    rng = np.random.default_rng([seed, 3])
    defects = {}

    def batch(keys, name):
        n = len(keys)
        n_null, n_neg = (int(x) for x in rng.integers(1, 4, 2))
        bad = rng.permutation(n)
        null_pr = np.zeros(n, dtype=bool)
        null_pr[bad[:n_null]] = True
        cents = rng.integers(100_000, 50_000_000, n).astype(np.int64)
        cents[bad[n_null:n_null + n_neg]] *= -1
        defects[name] = {"null_priority": n_null, "neg_cents": n_neg}
        _write(pa.table({
            "o_orderkey": np.asarray(keys, dtype=np.int64),
            "o_custkey": rng.integers(0, 15_000, n).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "pr": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)], mask=null_pr),
            "cents": cents,
            "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n))}),
            f"{out}/landing/{name}")
    fresh = rows // 4
    for i in range(files):
        batch(10_000_000 + i * rows + np.arange(rows), f"append_{i:04d}.parquet")
        old = rng.choice(n_orders, rows - fresh, replace=False)
        batch(np.concatenate([old, 20_000_000 + i * fresh + np.arange(fresh)]),
              f"merge_{i:04d}.parquet")
    return defects


def dir_size(path):
    files = [os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs]
    return len(files), sum(os.path.getsize(f) for f in files)


def generate(out, sf, vendor_sizes, seed, batches=False):
    """All inputs of one workload; sf=None writes no corpus."""
    os.makedirs(out, exist_ok=True)
    rows = corpus(out, sf, seed) if sf else {}
    batch_defects = landing(out, rows["orders"], seed) if batches else {}
    fixture = vendors(out, vendor_sizes, seed)
    n_files, n_bytes = dir_size(out)
    info = {"seed": seed, "sf": sf, "corpus_rows": rows, "vendors": fixture,
            "landing": batch_defects, "files": n_files, "bytes": n_bytes}
    with open(f"{out}/inputs.json", "w") as f:
        json.dump(info, f, indent=1, sort_keys=True)
    return info

