"""Seeded, vectorized generator of the TPC-H-ish catalog tables.

Writes one Parquet file per table (``region nation customer supplier
part orders lineitem events documents embeddings``) with the schemas
and value laws of the fixture tables the catalog queries are written
against (FIXTURES.md section A): uniform keys and measures,
microsecond timestamps, 30-word documents of which 5% are copies of
another document with `` dup`` appended, and unit-norm 64-dimensional
float embeddings of which 5% are small perturbations of another vector.

Row counts scale linearly with ``sf`` (``sf=0.01``: 60k lineitem rows,
500 documents); the same seed gives identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DIM = 64
DUP_SHARE = 0.05

DAY0 = np.datetime64("1995-01-01").astype(np.int64)
EVENTS_T0_US = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(200, round(50_000 * sf)),
        "embeddings": max(200, round(50_000 * sf)),
    }


def _pick(rng: np.random.Generator, domain: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(domain, dtype=object)[rng.choice(len(domain), n, p=p)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.integers(round(lo * 100), round(hi * 100), n) / 100.0, 2))


def _names(prefix: str, n: int) -> pa.Array:
    digits = pc.utf8_lpad(pa.array(np.arange(n)).cast(pa.string()), 9, "0")
    return pc.binary_join_element_wise(pa.scalar(prefix), digits, "")


def _days(rng: np.random.Generator, first: int, span: int, n: int) -> pa.Array:
    days = (DAY0 + first + rng.integers(0, span, n)).astype("datetime64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _with_dups(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Pick an exact ``DUP_SHARE`` of rows to be copies; return the
    copy rows and, for each, the row it copies (never itself)."""
    copies = np.sort(rng.permutation(n)[: round(n * DUP_SHARE)])
    sources = (copies + rng.integers(1, n, copies.size)) % n
    return copies, sources


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    words = np.asarray(WORDS, dtype=object)[rng.integers(0, len(WORDS), lengths.sum())]
    ends = np.cumsum(lengths)
    text = np.array([" ".join(words[e - k : e]) for e, k in zip(ends, lengths)], dtype=object)
    copies, sources = _with_dups(rng, n)
    # Two rounds let a copy of a copy carry ``dup dup``.
    for _ in range(2):
        text[copies] = text[sources] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array(np.char.add("src", (np.arange(n) % 20).astype(str)).astype(object), pa.string()),
            "n_chars": pa.array(np.fromiter((len(t) for t in text), np.int64, n)),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, DIM))
    copies, sources = _with_dups(rng, n)
    x[copies] = x[sources] + 0.05 * rng.standard_normal((copies.size, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    vectors = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), DIM).cast(pa.list_(pa.float32()))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": vectors,
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; return rows
    per table."""
    os.makedirs(out_dir, exist_ok=True)
    n = row_counts(sf)
    names = list(n)
    rngs = dict(zip(names, (np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(len(names)))))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    r, k = rngs["customer"], n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(k), pa.int64()),
            "c_name": _names("Customer#", k),
            "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
            "c_acctbal": _money(r, -1000, 10000, k),
            "c_mktsegment": _pick(r, SEGMENTS, k),
        }
    )
    r, k = rngs["supplier"], n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(k), pa.int64()),
            "s_name": _names("Supplier#", k),
            "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
            "s_acctbal": _money(r, -1000, 10000, k),
        }
    )
    r, k = rngs["part"], n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(k), pa.int64()),
            "p_name": pc.binary_join_element_wise(_pick(r, ADJECTIVES, k), _pick(r, NOUNS, k), " "),
            "p_brand": pc.binary_join_element_wise(
                pa.scalar("Brand#"), pa.array(r.integers(1, 26, k)).cast(pa.string()), ""
            ),
            "p_type": _pick(r, PART_TYPES, k),
            "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(k) % 1000) * 0.1, 1)),
        }
    )
    r, k = rngs["orders"], n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(k), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
            "o_orderstatus": _pick(r, STATUSES, k),
            "o_totalprice": _money(r, 1000, 500000, k),
            "o_orderdate": _days(r, 0, 2400, k),
            "o_orderpriority": _pick(r, PRIORITIES, k),
        }
    )
    r, k = rngs["lineitem"], n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n["orders"], k), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
            "l_quantity": pa.array(r.integers(1, 51, k).astype(np.float64)),
            "l_extendedprice": _money(r, 900, 105000, k),
            "l_discount": pa.array(r.integers(0, 11, k) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, k) / 100.0),
            "l_returnflag": _pick(r, ["A", "N", "R"], k),
            "l_linestatus": _pick(r, ["F", "O"], k),
            "l_shipdate": _days(r, 1, 2499, k),
        }
    )
    r, k = rngs["events"], n["events"]
    ts = EVENTS_T0_US + np.sort(r.integers(0, EVENTS_SPAN_US, k))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(k), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, max(1, n["customer"] // 10), k), pa.int64()),
            "event_type": _pick(r, EVENT_TYPES, k),
            "value": pa.array(np.maximum(np.round(r.exponential(50.0, k), 2), 0.01)),
            "props": pc.binary_join_element_wise(
                pa.scalar('{"k": '), pa.array(r.integers(0, 100, k)).cast(pa.string()), pa.scalar("}"), ""
            ),
        }
    )
    t["documents"] = documents(rngs["documents"], n["documents"])
    t["embeddings"] = embeddings(rngs["embeddings"], n["embeddings"])
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
