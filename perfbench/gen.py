"""Seeded input generators for the three workloads.

Everything here is a pure function of the seed (numpy ``default_rng``),
so the same seed writes byte-identical inputs. Each generator writes its
files under a directory it is given and returns the facts the output
checks need (expected row counts, planted duplicate sets, exact top-k).
"""

from __future__ import annotations

import os
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------ etl_ingest

# Headers as a careless upstream exports them: mixed case, padding,
# punctuation. normalize_column_names turns them into snake_case.
ETL_HEADERS = [
    " Order ID",
    "Customer Name ",
    "REGION",
    "order-date",
    "Amount ($)",
    "Qty",
    "Status",
]
ETL_ROWS = 20_000
ETL_DUP_SHARE = 0.10
ETL_NULL_SHARE = 0.03  # share of rows with one empty field
ETL_WEEK_DAYS = 7

_REGIONS = np.array(["north", "south", "east", "west", "central"])
_STATUS = np.array(["open", "shipped", "returned", "cancelled"])


def etl_csv(path: str, rng: np.random.Generator, batch: int) -> dict:
    """Bronze drop number ``batch``: ``ETL_ROWS`` lines of orders dated
    in the ``ETL_WEEK_DAYS`` days from day ``batch`` of 2024 (so the
    date-partitioned Silver write touches that many partitions), with distinct
    base rows, about 10% exact duplicate rows and a few rows with an
    empty field.

    The transform drops rows with any null and then exact duplicates,
    so the Silver row count is the number of distinct base rows without
    an empty field; it is returned as ``rows_out``."""
    n_base = int(round(ETL_ROWS / (1 + ETL_DUP_SHARE)))
    ids = batch * 1_000_000 + np.arange(n_base)
    cust = rng.integers(0, 5000, n_base)
    region = _REGIONS[rng.integers(0, len(_REGIONS), n_base)]
    day = batch + rng.integers(0, ETL_WEEK_DAYS, n_base)
    dates = (np.datetime64("2024-01-01") + day).astype(str)
    cents = rng.integers(100, 10_000_000, n_base)
    qty = rng.integers(1, 50, n_base)
    status = _STATUS[rng.integers(0, len(_STATUS), n_base)]
    cols = [
        ids.astype(str),
        np.char.add("customer_", cust.astype(str)),
        region,
        dates,
        np.char.add(np.char.add((cents // 100).astype(str), "."),
                    np.char.zfill((cents % 100).astype(str), 2)),
        qty.astype(str),
        status,
    ]
    table = np.stack(cols, axis=1).astype(object)
    null_rows = rng.choice(n_base, int(n_base * ETL_NULL_SHARE), replace=False)
    # never blank the id: a blank key column would still be a valid
    # test of na.drop, but keeping ids makes failures easy to read
    null_cols = rng.integers(1, len(ETL_HEADERS), len(null_rows))
    table[null_rows, null_cols] = ""
    dups = rng.choice(n_base, ETL_ROWS - n_base, replace=True)
    order = rng.permutation(np.concatenate([np.arange(n_base), dups]))
    lines = [",".join(ETL_HEADERS)]
    lines.extend(",".join(row) for row in table[order])
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return {"path": path, "rows_in": len(order), "rows_out": n_base - len(null_rows)}


# ------------------------------------------------------------ gold_query

GOLD_SF = 0.1
GOLD_TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem", "events")

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "view", "purchase", "error", "signup"])


def _money(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Prices with exactly two decimals (cents drawn as integers)."""
    return rng.integers(lo * 100, hi * 100, n) / 100.0


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def gold_tables(out_dir: str, rng: np.random.Generator) -> None:
    """A TPC-H-shaped star schema plus an ``events`` table, one parquet
    file per table, with the column names and types the Gold catalog
    reads. Row counts follow TPC-H ratios at scale factor ``GOLD_SF``."""
    sf = GOLD_SF
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999, 9999, n_cust),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999, 9999, n_supp),
    })
    epoch = np.datetime64("1992-01-01", "us")
    day_us = np.int64(86_400_000_000)
    o_days = rng.integers(0, 7 * 365, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 900, 500_000, n_ord),
        "o_orderdate": pa.array(epoch + o_days * day_us, pa.timestamp("us")),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_ord)],
    })
    l_order = rng.integers(0, n_ord, n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * sf), n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 100_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            epoch + (o_days[l_order] + rng.integers(1, 122, n_li)) * day_us,
            pa.timestamp("us"),
        ),
    })
    ev_start = np.datetime64("2024-01-01", "us")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(
            ev_start + np.sort(rng.integers(0, 14 * day_us, n_ev)), pa.timestamp("us")
        ),
        "user_id": pa.array(rng.integers(0, 5000, n_ev), pa.int64()),
        "event_type": _EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0, 500, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })


# ------------------------------------------------------------- llm_dedup

DOCS_PER_SHARD = 5_000
FAMILIES_PER_SHARD = 250  # each: one base document + two near copies
VOCAB = 4_000
SHINGLE = 5  # dedup_api's default word n-gram length
DEDUP_THRESHOLD = 0.8  # dedup_api's default Jaccard threshold
VECS_PER_SHARD, VEC_DIM, VEC_QUERIES, TOPK = 2_000, 64, 64, 10


def shingles(text: str, n: int = SHINGLE) -> set:
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def doc_shard(path: str, rng: np.random.Generator, id_base: int) -> dict:
    """``DOCS_PER_SHARD`` documents of 40–80 random words. Planted
    families are a base document, a copy with its last word replaced
    and a copy with one word appended; every pair inside a family has
    an exact shingle Jaccard above the threshold, and documents from
    different families share no shingle in practice. Returns the ids a
    correct min-id-per-cluster dedup must remove."""
    words = np.array([f"w{i}" for i in range(VOCAB)])
    n_base = DOCS_PER_SHARD - 2 * FAMILIES_PER_SHARD
    texts = [
        " ".join(words[rng.integers(0, VOCAB, rng.integers(40, 81))])
        for _ in range(n_base)
    ]
    families = []
    for b in rng.choice(n_base, FAMILIES_PER_SHARD, replace=False):
        toks = texts[b].split()
        replaced = " ".join(toks[:-1] + [f"x{rng.integers(VOCAB)}"])
        appended = texts[b] + f" y{rng.integers(VOCAB)}"
        families.append((int(b), len(texts), len(texts) + 1))
        texts.extend([replaced, appended])
    ids = id_base + rng.permutation(len(texts))  # position → doc_id
    expected_removed = []
    for fam in families:
        for a in fam:
            for b in fam:
                if a < b and jaccard(texts[a], texts[b]) < DEDUP_THRESHOLD:
                    raise AssertionError("planted family below threshold")
        fam_ids = sorted(int(ids[i]) for i in fam)
        expected_removed.extend(fam_ids[1:])
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}), path
    )
    return {"path": path, "id_base": id_base, "removed": sorted(expected_removed)}


def vec_shard(path: str, query_path: str, rng: np.random.Generator, id_base: int) -> dict:
    """``VECS_PER_SHARD`` × ``VEC_DIM`` float32 candidates and
    ``VEC_QUERIES`` queries, with the exact cosine top-k ids per query
    computed here in float64 numpy (the operator's own precision)."""
    cand = rng.standard_normal((VECS_PER_SHARD, VEC_DIM)).astype(np.float32)
    qs = rng.standard_normal((VEC_QUERIES, VEC_DIM)).astype(np.float32)
    c_ids = id_base + np.arange(VECS_PER_SHARD)
    # query ids never equal a candidate id: the operator skips self-matches
    q_ids = id_base + VECS_PER_SHARD + np.arange(VEC_QUERIES)
    emb = pa.list_(pa.float32())
    pq.write_table(pa.table({
        "vec_id": pa.array(c_ids, pa.int64()),
        "embedding": pa.array(list(cand), emb),
    }), path)
    pq.write_table(pa.table({
        "vec_id": pa.array(q_ids, pa.int64()),
        "embedding": pa.array(list(qs), emb),
    }), query_path)
    c64, q64 = cand.astype(np.float64), qs.astype(np.float64)
    sims = (c64 @ q64.T) / np.linalg.norm(c64, axis=1)[:, None] / np.linalg.norm(q64, axis=1)
    top = {}
    for j, qid in enumerate(q_ids):
        order = np.lexsort((c_ids, -sims[:, j]))[:TOPK]
        top[int(qid)] = [int(c_ids[i]) for i in order]
    return {"path": path, "query_path": query_path, "topk": top}
