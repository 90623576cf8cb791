"""Input generators for the benchmark.

Two inputs, both pure functions of their seed:

* ``fixture(dir, sf)`` writes the ten parquet tables the registered
  queries read (TPC-H-ish star schema, ``events``, ``documents``,
  ``embeddings``) at scale factor ``sf``, with the schemas, value
  domains and physical layout (one row group, SNAPPY, microsecond
  timestamps without a zone) the program's queries are written
  against. Its seed is fixed, so every run of every workload reads the
  same tables.
* ``tree(root, seed)`` creates the directory tree the Search client
  scans and picks its needles; this part varies with ``--seed``.
"""
import datetime
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 20240101


def fixture_version(sf):
    return f"fixture-sf{sf}-v1"

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark "
         "a group part big sort query fast the").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJS = "blue hot small old red new cold large".split()
NOUNS = "bolt gear anvil ring widget rod plate gizmo".split()
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]


def _write(dir_, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dir_, name + ".parquet"),
                   compression="snappy")


def _days(rng, n, start, end):
    span = (end - start).days
    d = np.datetime64(start) + rng.integers(0, span + 1, n).astype(
        "timedelta64[D]")
    return d.astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture(dir_, sf):
    """Write the tables at scale factor ``sf`` into ``dir_`` (which must
    exist). ``documents`` and ``embeddings`` keep 500 rows at every
    scale, as in the program's own fixtures."""
    rng = np.random.default_rng(FIXTURE_SEED)
    i32, i64 = pa.int32(), pa.int64()
    _write(dir_, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS})
    _write(dir_, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    n_cust, n_supp, n_part, n_ord, n_line = (
        int(n * sf) for n in (150000, 10000, 200000, 1500000, 6000000))
    _write(dir_, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(dir_, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    _write(dir_, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{ADJS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": [round(900 + (k % 1000) / 10, 1)
                          for k in range(n_part)]})
    _write(dir_, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": [("F", "O", "P")[s] for s in
                          rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": pa.array(_days(rng, n_ord, datetime.date(1995, 1, 1),
                                      datetime.date(2001, 8, 1)),
                                pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)]})
    _write(dir_, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(rng, n_line, datetime.date(1995, 1, 2),
                                     datetime.date(2001, 11, 4)),
                               pa.timestamp("us"))})
    n_ev = int(1000000 * sf)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(dir_, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), i64),
        "event_type": [EVENT_TYPES[t] for t in rng.integers(0, 5, n_ev)],
        "value": _money(rng, n_ev, 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # Documents: space-separated tokens over a 30-word vocabulary; about
    # one in twenty repeats an earlier document with " dup" appended, so
    # the near-duplicate operators have pairs to find.
    n_doc = 500
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup")
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, 30, n)))
    langs = [LANGS[0] if rng.random() < 0.44 else LANGS[int(rng.integers(1, 5))]
             for _ in range(n_doc)]
    _write(dir_, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    # Embeddings: unit vectors, 64 dims, with a weak per-label centroid.
    n_vec, dim = 500, 64
    labels = rng.integers(0, 10, n_vec)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    x = rng.normal(0.0, 1.0, (n_vec, dim)) + 0.15 * centroids[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    _write(dir_, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array([row.tolist() for row in x],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


# --- the Search client's directory tree ------------------------------------

TREE_DIRS = 40
TREE_FILES = 50
STEM = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"


def tree(root, seed):
    """Create the seeded Search tree under ``root``.

    Returns ``(dirs, names_by_dir, needles)``: the directory paths in
    listing order, the entry names each holds, and three needles of low,
    medium and nil selectivity. Names are 3-12 characters over
    ``[A-Za-z0-9]`` plus an extension, about one in ten reuses a name
    from another directory (Search keeps duplicates), and each directory
    has one subdirectory, whose name is listed like a file's.
    """
    rnd = random.Random(seed)
    pool = []
    dirs, names_by_dir = [], []
    for d in range(TREE_DIRS):
        path = os.path.join(root, f"d{d:03d}")
        os.makedirs(path)
        names = set()
        while len(names) < TREE_FILES:
            if pool and rnd.random() < 0.1:
                names.add(rnd.choice(pool))
            else:
                n = rnd.randint(3, 12)
                ext = rnd.choice((".txt", ".log", ".csv", ".bin", ".md"))
                names.add("".join(rnd.choice(STEM) for _ in range(n)) + ext)
        names = sorted(names)
        sub = names.pop()  # one entry per directory is a subdirectory
        os.mkdir(os.path.join(path, sub))
        for n in names:
            open(os.path.join(path, n), "w").close()
        names.append(sub)
        pool.extend(names)
        dirs.append(path)
        names_by_dir.append(names)
    every = [n for ns in names_by_dir for n in ns]

    def hits(s):
        return sum(s in n for n in every)

    # Low: a two-character substring with 0.2-1 % of entries matching.
    # Medium: a common extension fragment with 15-30 % matching.
    # Nil: a lower-case string whose upper-case form occurs; it matches
    # nothing because the filter is case-sensitive.
    low = med = nil = None
    while low is None:
        s = rnd.choice(STEM[:26]) + rnd.choice(STEM[26:52])
        if 0.002 * len(every) <= hits(s) <= 0.01 * len(every):
            low = s
    for s in rnd.sample([".txt", ".log", ".csv", ".bin", ".md"], 5):
        if 0.15 * len(every) <= hits(s) <= 0.3 * len(every):
            med = s
            break
    while nil is None:
        s = "".join(rnd.choice(STEM[26:52]) for _ in range(2))
        if hits(s) > 0 and hits(s.lower()) == 0:
            nil = s.lower()
    if med is None:
        raise RuntimeError("no medium-selectivity needle in the tree")
    return dirs, names_by_dir, {"low": low, "medium": med, "nil": nil}
