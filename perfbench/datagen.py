"""Seeded input generators for the benchmark.

``tables`` writes the engine's table layout (one parquet file per
table, the TPC-H-like star schema plus the events, documents and
embeddings tables) with the column types and value domains of the
engine's test fixtures.  ``mixed`` writes the reference-shaped row
dataset: string, int, float, struct and list columns, 10k rows per
file.  Both depend only on the seed, so one seed always gives the
same bytes.

Run as a script so the generator's memory never counts against the
benchmark process's peak RSS:

    python3 perfbench/datagen.py tables OUT_DIR --seed 7
    python3 perfbench/datagen.py mixed OUT_DIR --seed 7 [--rows 30000]
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10
ROWS_PER_FILE = 10_000


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist()


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform prices with two decimals, each the double nearest its
    decimal literal (integer cents divided by 100)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    d = lo + rng.integers(0, (hi - lo).astype(np.int64) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _ints(values, typ=pa.int64()) -> pa.Array:
    return pa.array(np.asarray(values), typ)


DUP_BASES = (3, 5, 7, 11, 13)  # near-duplicate family roots


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random bag-of-words texts plus a fixed near-duplicate structure:
    every 20th document copies one of five family roots with one or two
    ``dup`` tokens appended.  The seed sets the words, not the graph
    shape, so dedup and graph ops do the same amount of work on every
    seed."""
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 19:
            j = i // 20
            texts.append(texts[DUP_BASES[j % 5]] + " dup" * (1 + (j // 5) % 2))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_pick(rng, WORDS, k)))
    return pa.table(
        {
            "doc_id": _ints(np.arange(n)),
            "text": texts,
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": _ints([len(t) for t in texts]),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = centers[labels] + 1.5 * rng.normal(size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMBED_DIM)
    return pa.table(
        {
            "vec_id": _ints(np.arange(n)),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": _ints(labels, pa.int32()),
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    span_us = 30 * 86_400 * 1_000_000
    steps = rng.exponential(1.0, n)
    offs = (np.cumsum(steps) / steps.sum() * (span_us - 60_000_000)).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")
    value = np.maximum(1, np.round(rng.exponential(50.0, n) * 100)).astype(np.int64) / 100
    return pa.table(
        {
            "event_id": _ints(np.arange(n)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": _ints(rng.integers(0, n_users, n)),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": value,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def tables(seed: int, sf: float = 0.01) -> dict[str, pa.Table]:
    """Every engine table at scale factor ``sf`` (lineitem = 6M x sf)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_doc = int(50_000 * sf)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    part_keys = np.arange(n_part)
    return {
        "region": pa.table({"r_regionkey": _ints(range(5), pa.int32()), "r_name": REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": _ints(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": _ints([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": _ints(np.arange(n_cust)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": _ints(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": _ints(np.arange(n_supp)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": _ints(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": _ints(part_keys),
                "p_name": _pick(rng, names, n_part),
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": _ints(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": (90_000 + (part_keys % 1000) * 10) / 100,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": _ints(np.arange(n_ord)),
                "o_custkey": _ints(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": _ints(rng.integers(0, n_ord, n_li)),
                "l_partkey": _ints(rng.integers(0, n_part, n_li)),
                "l_suppkey": _ints(rng.integers(0, n_supp, n_li)),
                "l_linenumber": _ints(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _cents(rng, 900.0, 105_000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100,
                "l_tax": rng.integers(0, 9, n_li) / 100,
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
                "l_linestatus": _pick(rng, ["F", "O"], n_li),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
            }
        ),
        "events": _events(rng, int(1_000_000 * sf), int(15_000 * sf)),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_doc),
    }


def write_tables(out_dir: str, seed: int, sf: float = 0.01) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


SUB_STRUCT = pa.struct(
    [
        ("sub_field_1", pa.string()),
        ("sub_field_2", pa.int64()),
        ("sub_field_3", pa.float64()),
        ("sub_field_4", pa.list_(pa.int64())),
    ]
)


def _int_lists(rng: np.random.Generator, n: int, lo: int, hi: int) -> pa.ListArray:
    lens = rng.integers(lo, hi + 1, n)
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    return pa.ListArray.from_arrays(offsets, pa.array(rng.integers(-10**6, 10**6, int(lens.sum()))))


def mixed(seed: int, rows: int) -> pa.Table:
    """Reference-shaped rows: distinct string/int/float keys, a struct
    column (with a list member) and a list column."""
    rng = np.random.default_rng(seed)
    ids = rng.permutation(rows) - rows // 2
    sub = pa.StructArray.from_arrays(
        [
            pa.array([f"sub_{v}" for v in rng.integers(0, 10**6, rows)]),
            pa.array(rng.integers(-(10**9), 10**9, rows)),
            pa.array(rng.normal(0.0, 100.0, rows)),
            _int_lists(rng, rows, 1, 9),
        ],
        fields=list(SUB_STRUCT),
    )
    return pa.table(
        {
            "field_1": [f"string_field_{i}" for i in ids],
            "field_2": pa.array(ids, pa.int64()),
            "field_3": ids / 3.0,
            "field_4": _pick(rng, WORDS, rows),
            "field_5": pa.array(rng.integers(-(10**12), 10**12, rows)),
            "field_6": rng.normal(0.0, 1.0, rows),
            "field_7": sub,
            "field_8": _int_lists(rng, rows, 0, 6),
        }
    )


def write_mixed(out_dir: str, seed: int, rows: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    table = mixed(seed, rows)
    for i, start in enumerate(range(0, rows, ROWS_PER_FILE)):
        pq.write_table(
            table.slice(start, ROWS_PER_FILE),
            os.path.join(out_dir, f"part-{i:05d}.parquet"),
        )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("kind", choices=["tables", "mixed"])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", type=int, default=30_000)
    args = ap.parse_args()
    if args.kind == "tables":
        write_tables(args.out_dir, args.seed)
    else:
        write_mixed(args.out_dir, args.seed, args.rows)


if __name__ == "__main__":
    main()
