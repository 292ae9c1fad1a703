"""Seeded input generation for the benchmark workloads.

Every input a workload feeds the program is made here from the workload
seed alone: the TPC-H-shaped `lineitem`/`orders` tables and the query mix
for `bdt_query`, and the document corpora (with planted near-duplicate
copies) for `fold_stream` and `dedup_batch`. The same seed gives
byte-identical parquet files and the same query parameters. The tables and
the base documents do not depend on the seed at all (see `BASE_SEED`).
"""

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes

LINEITEM_ROWS = 60_000
ORDERS_ROWS = 15_000
LINEITEM_FILES = 8
ORDERS_FILES = 4

# fold_stream: base docs, the share of them that get one perturbed copy,
# the number of micro-batches one pass is split into, and the one replayed.
# Four micro-batches make each run's latency the mean of the middle two,
# which drops the slowest and the fastest, and make a pass outlast the
# timed window, so every run times one pass; the replayed one is fixed
# because replaying the first costs more than replaying a later one, which
# would tie the run's wall time to the seed
FOLD_BASE_DOCS = 400
FOLD_COPY_SHARE = 0.3
FOLD_DELTAS = 4
FOLD_REPLAY = 1

# dedup_batch: every base doc gets one perturbed copy (copy factor 2)
BATCH_BASE_DOCS = 1_500

VOCAB = 4_000
DOC_WORDS = (60, 120)

# dedup parameters shared by the harness and the oracles
MINHASH = {"threshold": 0.5, "num_hashes": 32, "bands": 16, "shingle": 3}
SIMHASH_H = 3

# harness settings: Spark task slots per workload (the harness uses at most
# nproc), session shuffle partitions, buckets of the fold indexes, set-ups
# per run (setup_s is their median) and untimed warm-up rounds per workload.
# The folds' small jobs are no faster on 4 slots than on 2, and 2 leave
# cores to the JIT compiler and the driver, which steadies their timing
SLOTS = {"bdt_query": 4, "fold_stream": 2, "dedup_batch": 4}
SHUFFLE_PARTITIONS = 4
FOLD_BUCKETS = 4
SETUPS = 5
WARMUP_ROUNDS = {"bdt_query": 3, "fold_stream": 1, "dedup_batch": 2}

EPOCH = dt.date(1970, 1, 1)
DATE_LO = (dt.date(1992, 1, 1) - EPOCH).days
DATE_HI = (dt.date(1998, 8, 2) - EPOCH).days


# The tables and the base documents are the same for every seed; the seed
# chooses the query parameters, which docs get a perturbed copy, the
# perturbations and the delta split order. A run's cost then hardly
# depends on its seed, while its results do
BASE_SEED = 0


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write(table, path, files):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:03d}.parquet"))


# ---------------------------------------------------------------- tables

def gen_tables(out):
    r = _rng(BASE_SEED, 1)
    o_key = np.arange(1, ORDERS_ROWS + 1, dtype=np.int64)
    o_date = r.integers(DATE_LO, DATE_HI - 151, ORDERS_ROWS).astype(np.int32)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pa.table({
        "o_orderkey": o_key,
        "o_custkey": r.integers(1, 1_501, ORDERS_ROWS).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, ORDERS_ROWS)],
        "o_totalprice": np.round(r.uniform(850.0, 550_000.0, ORDERS_ROWS), 2),
        "o_orderdate": pa.array(o_date, pa.date32()),
        "o_orderpriority": prio[r.integers(0, 5, ORDERS_ROWS)],
    })
    _write(orders, os.path.join(out, "orders"), ORDERS_FILES)

    l_order = np.sort(r.integers(1, ORDERS_ROWS + 1, LINEITEM_ROWS)).astype(np.int64)
    # line numbers restart at 1 within each order
    first = np.r_[True, l_order[1:] != l_order[:-1]]
    idx = np.arange(LINEITEM_ROWS)
    start = np.maximum.accumulate(np.where(first, idx, 0))
    qty = r.integers(1, 51, LINEITEM_ROWS).astype(np.float64)
    price = np.round(qty * r.uniform(900.0, 2_000.0, LINEITEM_ROWS), 2)
    ship = o_date[l_order - 1] + r.integers(1, 122, LINEITEM_ROWS).astype(np.int32)
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": r.integers(1, 20_001, LINEITEM_ROWS).astype(np.int64),
        "l_suppkey": r.integers(1, 1_001, LINEITEM_ROWS).astype(np.int64),
        "l_linenumber": (idx - start + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": r.integers(0, 11, LINEITEM_ROWS) / 100.0,
        "l_tax": r.integers(0, 9, LINEITEM_ROWS) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, LINEITEM_ROWS)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, LINEITEM_ROWS)],
        "l_shipdate": pa.array(ship, pa.date32()),
    })
    _write(lineitem, os.path.join(out, "lineitem"), LINEITEM_FILES)


def _date(days):
    return (EPOCH + dt.timedelta(days=int(days))).isoformat()


def query_mix(seed):
    """The seeded parameters of one round of the bdt_query mix. Each entry
    is one op; a round issues them in this order."""
    r = _rng(seed, 2)
    year = int(r.integers(1993, 1998))
    disc = float(r.integers(2, 10)) / 100.0
    cust = int(r.integers(1, 1_480))
    okey = int(r.integers(1, ORDERS_ROWS - 100))
    mid = (DATE_LO + DATE_HI) // 2
    return [
        {"kind": "q1_by", "ship_le": _date(DATE_HI - int(r.integers(60, 120)))},
        {"kind": "keyby_query", "date_lo": _date(r.integers(DATE_LO, DATE_HI - 400)),
         "days": 90},
        {"kind": "pernode_q6", "date_lo": f"{year}-01-01", "date_hi": f"{year + 1}-01-01",
         "disc_lo": round(disc - 0.01, 2), "disc_hi": round(disc + 0.01, 2),
         "qty_lt": float(r.integers(20, 30))},
        {"kind": "fn_outer", "qty_ge": float(r.integers(20, 30))},
        {"kind": "copartition_join", "date": _date(r.integers(mid - 90, mid + 90))},
        {"kind": "pp_scalar"},
        {"kind": "dims"},
        {"kind": "newvar", "ship_ge": _date(r.integers(mid - 90, mid + 90)),
         "rev_gt": float(r.integers(100, 120)) * 10_000.0},
        {"kind": "update_query"},
        {"kind": "distinct_by", "price_gt": float(r.integers(250_000, 300_000))},
        {"kind": "keyby_table", "cust_lo": cust, "cust_hi": cust + 20},
        {"kind": "select_filter", "key_lo": okey, "key_hi": okey + 50},
    ]


# ------------------------------------------------------------- documents

def _vocab(r):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < VOCAB:
        n = int(r.integers(3, 10))
        words.add("".join(letters[r.integers(0, 26, n)]))
    return sorted(words)


def _docs(r, vocab, n):
    # Zipf-like word frequencies, so common words recur across docs
    w = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    w /= w.sum()
    lens = r.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n)
    return [[vocab[i] for i in r.choice(len(vocab), size=k, p=w)] for k in lens]


def _perturb(r, vocab, words):
    """One word dropped or replaced by a different word."""
    words = list(words)
    pos = int(r.integers(0, len(words)))
    if r.random() < 0.5:
        del words[pos]
    else:
        old = words[pos]
        while words[pos] == old:
            words[pos] = vocab[int(r.integers(0, len(vocab)))]
    return words


def _corpus(fixed, r, base, copy_ids):
    """`base` docs drawn from `fixed`, then one copy of each doc in
    `copy_ids`, perturbed by `r`."""
    vocab = _vocab(fixed)
    texts = _docs(fixed, vocab, base)
    ids = list(range(base))
    for c, src in enumerate(copy_ids):
        ids.append(base + c)
        texts.append(_perturb(r, vocab, texts[src]))
    return np.array(ids, dtype=np.int64), [" ".join(t) for t in texts]


def gen_fold(seed, out):
    r = _rng(seed, 3)
    n_copy = int(FOLD_BASE_DOCS * FOLD_COPY_SHARE)
    src = r.choice(FOLD_BASE_DOCS, size=n_copy, replace=False)
    ids, texts = _corpus(_rng(BASE_SEED, 3), r, FOLD_BASE_DOCS, src)
    order = r.permutation(len(ids))
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.table({"doc_id": ids, "text": texts}),
                   os.path.join(out, "corpus.parquet"))
    for k, part in enumerate(np.array_split(order, FOLD_DELTAS)):
        pq.write_table(pa.table({"doc_id": ids[part], "text": [texts[i] for i in part]}),
                       os.path.join(out, f"delta_{k:03d}.parquet"))
    return {"deltas": FOLD_DELTAS, "replay": FOLD_REPLAY, "docs": int(len(ids))}


def gen_batch(seed, out):
    r = _rng(seed, 4)
    ids, texts = _corpus(_rng(BASE_SEED, 4), r, BATCH_BASE_DOCS, np.arange(BATCH_BASE_DOCS))
    order = r.permutation(len(ids))
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.table({"doc_id": ids[order], "text": [texts[i] for i in order]}),
                   os.path.join(out, "corpus.parquet"))
    return {"docs": int(len(ids))}


def generate(workload, seed, out):
    """Write the workload's inputs under `out` and return the harness
    configuration that describes them."""
    cfg = {"workload": workload, "seed": seed, "inputs": out,
           "minhash": MINHASH, "simhash_h": SIMHASH_H,
           "slots": SLOTS[workload], "shuffle_partitions": SHUFFLE_PARTITIONS,
           "buckets": FOLD_BUCKETS, "setups": SETUPS,
           "warmup_rounds": WARMUP_ROUNDS[workload]}
    if workload == "bdt_query":
        gen_tables(out)
        cfg["mix"] = query_mix(seed)
    elif workload == "fold_stream":
        cfg.update(gen_fold(seed, out))
    elif workload == "dedup_batch":
        cfg.update(gen_batch(seed, out))
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(os.path.join(out, "config.json"), "w") as f:
        json.dump(cfg, f, indent=1)
    return cfg
