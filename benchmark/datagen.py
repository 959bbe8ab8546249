"""Seeded generators for the benchmark's tables.

``star_schema`` writes the tables the registry's relational, window and
grouping queries read (region, nation, customer, supplier, part, orders,
lineitem, events); ``corpus`` writes the curation workload's documents
and embeddings. One parquet file per table, in the layout graft.Tables
reads. The same (seed, scale) gives the same files. The shapes (row
counts per scale, key ranges, category sets, value ranges, the corpus's
vocabulary, lengths, language shares and copy rates) are those measured
on the library's synthetic test tables; see README.md, "Inputs".
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def star_schema(out, seed, scale):
    """TPC-H-like tables plus the events stream at ``scale`` (1.0 = 6M lineitems)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord, n_li = int(200_000 * scale), int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_users = int(1_000_000 * scale), max(int(15_000 * scale), 10)

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": REGIONS})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(np.array(ADJ)[rng.integers(0, 8, n_part)], " "),
                              np.array(NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * US_PER_DAY),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, 2499, n_li)) * US_PER_DAY),
    })
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })


# The documents table's 30-word vocabulary, token counts of 10 to 100,
# language tags and the 20 sources, as in the test tables' documents.
VOCAB = ("a agg batch big column customer data fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector window").split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.147, 0.41, 0.147, 0.148, 0.148]
NEAR_DUP_SHARE = 0.05      # copies of another document with " dup" appended
EXACT_COPY_SHARE = 0.0016  # verbatim copies of another document


def corpus(out, seed, n_docs=5000, n_emb=2000, dim=64):
    """Documents with planted near-duplicate and exact copies, and unit
    embeddings (independent Gaussian directions) for the first ``n_emb``."""
    rng = np.random.default_rng([seed, 2])
    texts = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
             for _ in range(n_docs)]
    kind = rng.random(n_docs)
    originals = [i for i in range(n_docs) if kind[i] >= NEAR_DUP_SHARE + EXACT_COPY_SHARE]
    for i in range(n_docs):
        if kind[i] < NEAR_DUP_SHARE + EXACT_COPY_SHARE:
            src = texts[originals[rng.integers(0, len(originals))]]
            texts[i] = src + " dup" if kind[i] < NEAR_DUP_SHARE else src
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    v = rng.standard_normal((n_emb, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
