"""Seeded benchmark inputs and their expected outputs.

Everything here is a pure function of the seed, so the same seed gives the
same bytes on every host:

- ``write_tables`` writes the ten catalog tables (``catalog.TABLES``) as
  parquet, with the schemas and value domains of the fixture tables that
  FIXTURES.md documents. Row counts scale with ``sf`` the way the fixtures
  do (lineitem = 6,000,000 x sf).
- ``write_corpus`` writes the MapReduce text corpus, split into files, from
  the same word vocabulary the ``documents`` table uses, and computes the
  expected output of every ``mr_jobs`` job in plain Python.

The engine never sees the seed; it sees only the files.
"""

from __future__ import annotations

import collections
import hashlib
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "es", "fr", "zh", "de")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EMBED_DIM = 64

# The grep job's needle: three tokens no generated line otherwise holds.
GREP_PHRASE = "needle in haystack"


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Exactly-2-decimal doubles, as the fixtures' money columns are."""
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0, 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    days = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random texts over ``VOCAB``; one doc in twenty is a near-duplicate
    (an earlier doc with `` dup`` appended), as in the fixtures, so the
    dedup operators find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors with a weak pull toward one of ten label centres."""
    centres = rng.normal(size=(10, EMBED_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n)
    vecs = rng.normal(0.0, 0.125, size=(n, EMBED_DIM)) + 0.14 * centres[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """Thirty days of January 2024 in time order, event ids in ts order."""
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = round(150_000 * sf), round(10_000 * sf), round(200_000 * sf)
    n_ord, n_line = round(1_500_000 * sf), round(6_000_000 * sf)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    return {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }),
        "customer": pa.table({
            "c_custkey": i64(range(n_cust)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": i64(range(n_supp)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": i64(range(n_part)),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": pa.array(np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": i64(range(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
            "l_partkey": i64(rng.integers(0, n_part, n_line)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("F", "O"), n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }),
        "events": _events(rng, round(1_000_000 * sf), round(15_000 * sf)),
        "documents": _documents(rng, round(50_000 * sf)),
        "embeddings": _embeddings(rng, round(50_000 * sf)),
    }


def write_tables(seed: int, sf: float, out_dir: str) -> int:
    """Write every catalog table as one single-row-group parquet file, as
    the fixtures are; return the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(table.num_rows, 1))
        total += os.path.getsize(path)
    return total


def line_digest(lines) -> tuple[int, int]:
    """Order-insensitive multiset digest: (count, sum of 64-bit line hashes)."""
    n = acc = 0
    for line in lines:
        n += 1
        acc += int.from_bytes(hashlib.md5(line.encode("utf-8")).digest()[:8], "big")
    return n, acc % (1 << 64)


def write_corpus(seed: int, n_lines: int, n_files: int, out_dir: str) -> dict:
    """Write ``n_lines`` seeded text lines over ``n_files`` files; return the
    expected digests of the wordcount, sort and grep outputs.

    Lines draw 4-16 words from ``VOCAB``. About one line in 5,000 carries
    ``GREP_PHRASE``, so grep keeps almost nothing. Lines end with their
    line number so every line is distinct and the sort is total."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(4, 17, n_lines)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    needles = set(rng.choice(n_lines, max(1, n_lines // 5000), replace=False).tolist())
    lines: list[str] = []
    pos = 0
    for i, k in enumerate(lengths):
        text = " ".join(VOCAB[w] for w in words[pos:pos + k])
        pos += k
        if i in needles:
            text = f"{text} {GREP_PHRASE}"
        lines.append(f"{text} {i}")
    os.makedirs(out_dir, exist_ok=True)
    per = -(-n_lines // n_files)
    for f in range(n_files):
        with open(os.path.join(out_dir, f"input-{f:02d}.txt"), "w") as fh:
            fh.writelines(line + "\n" for line in lines[f * per:(f + 1) * per])
    counts = collections.Counter(
        tok for line in lines for tok in re.split(r"[^a-z]+", line.lower()) if tok
    )
    return {
        "wordcount": line_digest(f"{w}\t{c}" for w, c in counts.items()),
        "sort": line_digest(lines),
        "grep": line_digest(line for line in lines if GREP_PHRASE in line),
        "bytes": sum(len(line) + 1 for line in lines),
        "words": sum(counts.values()),
    }
