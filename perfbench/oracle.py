"""Output checks made apart from the program.

* bdt_query: every query result against DuckDB SQL over the same parquet
  files (row multisets; doubles within `REL_TOL`). `PerNode` partials and
  per-partition scalars are summed and compared with the global aggregate.
* MinHash pairs: against the pairs whose exact word-shingle Jaccard is at
  least the threshold, found with an inverted index over shingles in
  Python.
* SimHash pairs: against brute-force all-pairs Hamming distance, in numpy,
  over the fingerprints the program's `Dedup.simHash` gave.
* fold_stream: each pair is emitted exactly once per pass, the replayed
  delta emits nothing and changes no index row count, and compaction
  changes no index row count.

Each check returns a list of failure messages; an empty list means the
output is correct. Nothing here reads the program's output to build an
expected value, apart from the SimHash fingerprints named above.
"""

import math
import os
from collections import defaultdict
from itertools import combinations

import duckdb
import numpy as np
import pyarrow.parquet as pq

REL_TOL = 1e-9
ABS_TOL = 1e-6


# ------------------------------------------------------------ comparing

def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def _sort_key(row):
    return tuple((1, round(v, 4)) if isinstance(v, float) else (0, str(v)) for v in row)


def rows_equal(got, want, ordered=False):
    """Row lists equal as multisets (or in order), doubles within tolerance."""
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
    return all(len(g) == len(w) and all(_close(a, b) for a, b in zip(g, w))
               for g, w in zip(got, want))


# ------------------------------------------------------------ bdt_query

def _duck(inputs):
    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}/*.parquet')")
    return con


def _q(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, [list(r) for r in cur.fetchall()]


def oracle_sql(p):
    """DuckDB SQL for each step of one mix entry: step -> (sql, ordered)."""
    k = p["kind"]
    if k == "q1_by":
        return {"query": (f"""SELECT l_returnflag, l_linestatus, sum(l_quantity) sum_qty,
            sum(l_extendedprice) sum_price, avg(l_discount) avg_disc, count(*) n
            FROM lineitem WHERE l_shipdate <= DATE '{p['ship_le']}' GROUP BY ALL""", False)}
    if k == "keyby_query":
        return {"query": (f"""SELECT o_orderpriority, count(*) n, sum(o_totalprice) total
            FROM orders WHERE o_orderdate >= DATE '{p['date_lo']}'
              AND o_orderdate < DATE '{p['date_lo']}' + INTERVAL {int(p['days'])} DAY
            GROUP BY ALL ORDER BY o_orderpriority""", True)}
    if k == "pernode_q6":
        return {"query": (f"""SELECT sum(l_extendedprice * l_discount) revenue, count(*) n
            FROM lineitem WHERE l_shipdate >= DATE '{p['date_lo']}' AND l_shipdate < DATE '{p['date_hi']}'
              AND l_discount BETWEEN {p['disc_lo']} AND {p['disc_hi']} AND l_quantity < {p['qty_lt']}""",
                          False)}
    if k == "fn_outer":
        return {"query": (f"""SELECT l_returnflag, sum(l_quantity) s, count(*) n FROM lineitem
            WHERE l_quantity >= {p['qty_ge']} GROUP BY ALL""", False)}
    if k == "copartition_join":
        return {"query": (f"""SELECT o_orderpriority, sum(l_extendedprice * (1 - l_discount)) revenue,
            count(*) n FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderdate < DATE '{p['date']}' AND l_shipdate > DATE '{p['date']}'
            GROUP BY ALL""", False)}
    if k == "pp_scalar":
        return {"perPartitionScalar": ("SELECT sum(l_quantity) FROM lineitem", False)}
    if k == "dims":
        return {"dims": ("""SELECT (SELECT count(*) FROM lineitem),
            (SELECT count(*) FROM (DESCRIBE lineitem))""", False)}
    if k == "newvar":
        d = f"""(SELECT l_suppkey, sum(l_extendedprice) rev, count(*) n FROM lineitem
            WHERE l_shipdate >= DATE '{p['ship_ge']}' GROUP BY ALL)"""
        return {"count": (f"SELECT count(*) n_supp, sum(n) n FROM {d} WHERE rev > {p['rev_gt']}", False),
                "top": (f"SELECT max(rev) max_rev, sum(rev) sum_rev FROM {d}", False)}
    if k == "update_query":
        return {"query": ("""SELECT l_linestatus, sum(l_extendedprice * (1 - l_discount)) net,
            count(*) n FROM lineitem GROUP BY ALL""", False)}
    if k == "distinct_by":
        return {"query": (f"""SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
            WHERE o_totalprice > {p['price_gt']}""", False)}
    if k == "keyby_table":
        return {"query": (f"""SELECT o_custkey, count(*) n, max(o_totalprice) mx FROM orders
            WHERE o_custkey BETWEEN {p['cust_lo']} AND {p['cust_hi']} GROUP BY ALL""", False)}
    if k == "select_filter":
        return {"query": (f"""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
            WHERE l_orderkey BETWEEN {p['key_lo']} AND {p['key_hi']}""", False)}
    raise ValueError(k)


def check_step(kind, step, got, want_cols, want_rows, ordered):
    """Failures of one step's result against its oracle rows."""
    where = f"{kind}.{step}"
    if kind == "pernode_q6":
        cols, rows = got["columns"], got["rows"]
        if cols != ["_node"] + want_cols:
            return [f"{where}: columns {cols}"]
        nodes = [r[0] for r in rows]
        if len(set(nodes)) != len(nodes):
            return [f"{where}: a node reported twice"]
        summed = [sum(r[i] for r in rows) for i in range(1, len(cols))]
        return [] if rows_equal([summed], want_rows) else [f"{where}: partials sum to {summed}, want {want_rows}"]
    if kind == "pp_scalar":
        nodes = [r[0] for r in got]
        if len(set(nodes)) != len(nodes):
            return [f"{where}: a node reported twice"]
        total = sum(r[1] for r in got)
        return [] if rows_equal([[total]], want_rows) else [f"{where}: scalars sum to {total}, want {want_rows}"]
    if kind == "dims":
        return [] if rows_equal(got, want_rows) else [f"{where}: {got}, want {want_rows}"]
    if got["columns"] != want_cols:
        return [f"{where}: columns {got['columns']}, want {want_cols}"]
    if not rows_equal(got["rows"], want_rows, ordered):
        return [f"{where}: {len(got['rows'])} rows differ from the {len(want_rows)} oracle rows"]
    return []


def check_bdt(cfg, res):
    con = _duck(cfg["inputs"])
    fails = []
    results = res["outputs"]["results"]
    if len(results) != len(cfg["mix"]):
        return [f"results for {len(results)} of {len(cfg['mix'])} mix entries"]
    # an entry whose ops threw has no result; the failures are counted apart
    failed = {o["kind"] for o in res.get("ops", []) if o["failed"]}
    for p, seen in zip(cfg["mix"], results):
        if not seen and p["kind"] not in failed:
            fails.append(f"{p['kind']}: no result recorded")
        for step, (sql, ordered) in oracle_sql(p).items():
            cols, rows = _q(con, sql)
            for got in seen:
                if step not in got:
                    fails.append(f"{p['kind']}.{step}: missing")
                    continue
                fails += check_step(p["kind"], step, got[step], cols, rows, ordered)
    return fails


# ------------------------------------------------------------ documents

def shingles(text, k):
    """Distinct word k-shingles, as the program defines them: tokens split
    on single spaces; a doc of at most k tokens is one shingle."""
    toks = text.split(" ")
    return {" ".join(toks[i:i + k]) for i in range(max(len(toks) - k, 0) + 1)}


def jaccard_pairs(ids, texts, k, threshold):
    """{(a, b): J} for every pair a < b with exact shingle Jaccard >= threshold,
    counting shared shingles through an inverted index."""
    sets = [shingles(t, k) for t in texts]
    postings = defaultdict(list)
    for i, s in enumerate(sets):
        for sh in s:
            postings[sh].append(i)
    inter = defaultdict(int)
    for docs in postings.values():
        for a, b in combinations(docs, 2):
            inter[(a, b)] += 1
    out = {}
    for (a, b), n in inter.items():
        j = n / (len(sets[a]) + len(sets[b]) - n)
        if j >= threshold:
            out[tuple(sorted((int(ids[a]), int(ids[b]))))] = j
    return out


def popcount64(x):
    x = x.astype(np.uint64)
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + ((x >> np.uint64(2)) & np.uint64(0x3333333333333333))
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)


def hamming_pairs(fingerprints, h):
    """{(a, b): d} for every pair a < b whose fingerprints differ in at most
    h bits, by brute force over all pairs."""
    ids = np.array([f[0] for f in fingerprints], dtype=np.int64)
    fp = np.array([f[1] for f in fingerprints], dtype=np.int64).view(np.uint64)
    out = {}
    n = len(ids)
    for s in range(0, n, 512):
        blk = fp[s:s + 512]
        d = popcount64(blk[:, None] ^ fp[None, :])
        ii, jj = np.nonzero(d <= h)
        for i, j in zip(ii, jj):
            a, b = s + int(i), int(j)
            if a < b:
                out[tuple(sorted((int(ids[a]), int(ids[b]))))] = int(d[i, j])
    return out


def _corpus(path):
    t = pq.read_table(path, columns=["doc_id", "text"])
    return t.column("doc_id").to_pylist(), t.column("text").to_pylist()


def check_pairs(name, emitted, want, exact_values):
    """Emitted (id_a, id_b, value) rows against the oracle's {pair: value}:
    every pair exactly once, no pair missing or extra, values equal."""
    got = {}
    for a, b, v in emitted:
        key = (min(a, b), max(a, b))
        if key in got:
            return [f"{name}: pair {key} emitted twice"]
        got[key] = v
    fails = []
    missing, extra = want.keys() - got.keys(), got.keys() - want.keys()
    if missing:
        fails.append(f"{name}: {len(missing)} of {len(want)} pairs missing, e.g. {sorted(missing)[0]}")
    if extra:
        fails.append(f"{name}: {len(extra)} pairs beyond the oracle's, e.g. {sorted(extra)[0]}")
    bad = [k for k in got.keys() & want.keys() if not exact_values(got[k], want[k])]
    if bad:
        fails.append(f"{name}: {len(bad)} pairs with a wrong value, e.g. {bad[0]}")
    return fails


def _jaccard_eq(a, b):
    return math.isclose(a, b, rel_tol=1e-12)


def oracles_docs(cfg, res):
    ids, texts = _corpus(os.path.join(cfg["inputs"], "corpus.parquet"))
    mh = cfg["minhash"]
    fps = res["outputs"]["fingerprints"]
    fails = []
    if sorted(f[0] for f in fps) != sorted(ids):
        fails.append("fingerprints do not cover the corpus")
    return (jaccard_pairs(ids, texts, mh["shingle"], mh["threshold"]),
            hamming_pairs(fps, cfg["simhash_h"]), fails)


def check_fold(cfg, res):
    want_m, want_s, fails = oracles_docs(cfg, res)
    passes = res["outputs"]["passes"]
    if not passes:
        return ["no pass recorded"]
    for i, p in enumerate(passes):
        fails += check_pairs(f"pass {i} minhash", p["minhash"], want_m, _jaccard_eq)
        fails += check_pairs(f"pass {i} simhash", p["simhash"], want_s, lambda a, b: a == b)
        if p["replay_minhash"] or p["replay_simhash"]:
            fails.append(f"pass {i}: the replayed delta emitted "
                         f"{len(p['replay_minhash']) + len(p['replay_simhash'])} pairs")
        before, after = p["replay_counts"]
        if before != after:
            fails.append(f"pass {i}: replay changed index row counts {before} -> {after}")
        before, after = p["compact_counts"]
        if before != after:
            fails.append(f"pass {i}: compaction changed index row counts {before} -> {after}")
    return fails


def check_batch(cfg, res):
    want_m, want_s, fails = oracles_docs(cfg, res)
    out = res["outputs"]
    if not out["minhash"] or not out["simhash"]:
        return ["no pass recorded"]
    for i, m in enumerate(out["minhash"]):
        fails += check_pairs(f"minhash set {i}", m, want_m, _jaccard_eq)
    for i, s in enumerate(out["simhash"]):
        fails += check_pairs(f"simhash set {i}", s, want_s, lambda a, b: a == b)
    return fails


def check(cfg, res):
    return {"bdt_query": check_bdt, "fold_stream": check_fold,
            "dedup_batch": check_batch}[cfg["workload"]](cfg, res)
