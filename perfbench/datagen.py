"""Seeded input generators for the benchmark.

``write_tables`` writes the ten tables the registered queries read
(``sources.readers.TABLES``) as one parquet file each, with the schemas
and value domains of the engine's TPC-H-ish fixtures: uniform keys,
two-decimal money, 1995-2001 dates, a 30-word document vocabulary with
planted exact and near duplicates, unit-norm 64-d embeddings, and an
``events`` table whose timestamps rise with ``event_id``.

``write_beam_inputs`` writes the ``beam_dofn`` workload's own inputs: a
Zipf(1.1) text corpus, a Zipf(1.2)-keyed KV parquet and the KV keys'
label dimension.

Everything derives from one ``numpy`` generator seeded by the caller,
so the same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LABELS = [f"label_{i:02d}" for i in range(16)]

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform two-decimal amounts in [lo, hi] (integer cents / 100)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, first: int, last: int, n: int) -> pa.Array:
    """Midnight timestamps, uniform over day offsets [first, last] from 1995-01-01."""
    us = _EPOCH_1995 + rng.integers(first, last + 1, n).astype(np.int64) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _write(path: str, cols: dict[str, pa.Array | np.ndarray | list]) -> int:
    table = pa.table(cols)
    pq.write_table(table, path)
    return table.num_rows


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (fixture ratios)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random texts of 10-99 vocabulary words; ~5% are near duplicates
    of an earlier text (one word appended or the last word dropped) and
    ~0.2% exact duplicates, so the dedup and similarity-join queries
    have true positives to find."""
    vocab = np.array(DOC_VOCAB)
    lens = rng.integers(10, 100, n)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(words[pos:pos + ln]))
        pos += ln
    kinds = rng.random(n)
    sources = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in range(1, n):
        src = texts[sources[i]]
        if kinds[i] < 0.002:
            texts[i] = src
        elif kinds[i] < 0.027:
            texts[i] = src + " dup"
        elif kinds[i] < 0.052 and src.count(" ") >= 10:
            texts[i] = src.rsplit(" ", 1)[0]
    return texts


def write_tables(out_dir: str, sf: float, rng: np.random.Generator) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n = table_sizes(sf)
    path = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731

    _write(path("region"), {"r_regionkey": i32(range(5)), "r_name": REGIONS})
    _write(path("nation"), {
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    c = n["customer"]
    _write(path("customer"), {
        "c_custkey": i64(np.arange(c)),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": i32(rng.integers(0, 25, c)),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)].tolist(),
    })
    s = n["supplier"]
    _write(path("supplier"), {
        "s_suppkey": i64(np.arange(s)),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": i32(rng.integers(0, 25, s)),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    keys = np.arange(p)
    names = np.char.add(
        np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, p)], " "),
        np.array(PART_NOUN)[rng.integers(0, 8, p)],
    )
    _write(path("part"), {
        "p_partkey": i64(keys),
        "p_name": names.tolist(),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, p)].tolist(),
        "p_size": i32(rng.integers(1, 51, p)),
        "p_retailprice": (9000 + keys % 1000) / 10.0,
    })
    o = n["orders"]
    _write(path("orders"), {
        "o_orderkey": i64(np.arange(o)),
        "o_custkey": i64(rng.integers(0, c, o)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)].tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, 0, 2404, o),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)].tolist(),
    })
    li = n["lineitem"]
    _write(path("lineitem"), {
        "l_orderkey": i64(rng.integers(0, o, li)),
        "l_partkey": i64(rng.integers(0, p, li)),
        "l_suppkey": i64(rng.integers(0, s, li)),
        "l_linenumber": i32(rng.integers(1, 8, li)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)].tolist(),
        "l_shipdate": _days(rng, 1, 2499, li),
    })
    e = n["events"]
    users = max(10, int(e * 0.015))
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, e))
    _write(path("events"), {
        "event_id": i64(np.arange(e)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": i64(rng.integers(0, users, e)),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)].tolist(),
        "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = _documents(rng, d)
    _write(path("documents"), {
        "doc_id": i64(np.arange(d)),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, d, p=LANG_P)].tolist(),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": i64([len(t) for t in texts]),
    })
    m = n["embeddings"]
    vec = rng.standard_normal((m, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(path("embeddings"), {
        "vec_id": i64(np.arange(m)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": i32(rng.integers(0, 10, m)),
    })
    return n


def _zipf_choice(rng: np.random.Generator, n_values: int, a: float, size: int) -> np.ndarray:
    """Ranks 0..n_values-1 drawn with probability proportional to (rank+1)^-a."""
    p = np.arange(1, n_values + 1, dtype=np.float64) ** -a
    return rng.choice(n_values, size=size, p=p / p.sum())


def write_beam_inputs(
    out_dir: str,
    rng: np.random.Generator,
    corpus_lines: int,
    kv_rows: int,
    kv_keys: int,
    vocab: int = 50_000,
) -> dict[str, int]:
    """Write ``corpus/`` (text, 5-15 Zipf(1.1) tokens a line),
    ``kv.parquet`` (key bigint with Zipf(1.2) frequencies, value bigint
    0..999) and ``dim.parquet`` (every key with one of 16 labels).
    Return the row counts."""
    os.makedirs(os.path.join(out_dir, "corpus"), exist_ok=True)
    lens = rng.integers(5, 16, corpus_lines)
    tokens = _zipf_choice(rng, vocab, 1.1, int(lens.sum()))
    words = np.char.add("w", tokens.astype(str))
    ends = np.cumsum(lens)
    with open(os.path.join(out_dir, "corpus", "part-00000.txt"), "w") as fh:
        start = 0
        for end in ends:
            fh.write(" ".join(words[start:end]))
            fh.write("\n")
            start = end
    _write(os.path.join(out_dir, "kv.parquet"), {
        "key": pa.array(_zipf_choice(rng, kv_keys, 1.2, kv_rows), pa.int64()),
        "value": pa.array(rng.integers(0, 1000, kv_rows), pa.int64()),
    })
    _write(os.path.join(out_dir, "dim.parquet"), {
        "key": pa.array(np.arange(kv_keys), pa.int64()),
        "label": np.array(LABELS)[rng.integers(0, len(LABELS), kv_keys)].tolist(),
    })
    return {"corpus": corpus_lines, "tokens": int(lens.sum()), "kv": kv_rows, "dim": kv_keys}
