"""Deterministic sf0.1-shaped input tables for the benchmark.

The benchmark reads only inside its checkout, so it cannot use fixture
files installed elsewhere. This module writes the ten tables the engine
reads (same names, column types and row counts as the sf0.1 fixtures,
with similar value domains) from a fixed generator seed. The tables are
the same for every benchmark seed; the seed only orders queries and
places events into chunk files (see run.py).

The event stream is also written here as STREAM_SLICES time-ordered
slices. Each slice directory is both a file-stream "topic" and an sf
directory (``<slice>/events.parquet/`` holds the slice's rows), so the
batch twin of a drain is the same registered query run on the slice.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated data changes: it keys the on-disk cache.
VERSION = "1"
GEN_SEED = 42
STREAM_SLICES = 4

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "hot", "large", "small", "red", "green", "cold", "tiny")
PART_NOUN = ("ring", "bolt", "anvil", "widget", "gear", "valve", "spring", "nut")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def _i32(a):
    return pa.array(np.asarray(a, dtype=np.int32))


def _i64(a):
    return pa.array(np.asarray(a, dtype=np.int64))


def _strs(a):
    return pa.array([str(x) for x in a], type=pa.string())


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _documents(rng, n=5000):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:  # planted near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # planted exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_pick(rng, VOCAB, k)))
    return {
        "doc_id": _i64(np.arange(n)),
        "text": _strs(texts),
        "lang": _strs(_pick(rng, LANGS, n, LANG_P)),
        "source": _strs([f"src{i % 20}" for i in range(n)]),
        "n_chars": _i64([len(t) for t in texts]),
    }


def _embeddings(rng, n=2000, dim=64):
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(v.astype(np.float32).ravel()), dim
    ).cast(pa.list_(pa.float32()))
    return {
        "vec_id": _i64(np.arange(n)),
        "embedding": emb,
        "label": _i32(rng.integers(0, 10, n)),
    }


def _events(rng, n=100_000):
    gaps = rng.exponential(25.9, n)
    ts_us = (np.cumsum(gaps) * 1e6).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + ts_us.astype("timedelta64[us]")
    return {
        "event_id": _i64(np.arange(n)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": _i64(rng.integers(0, 1500, n)),
        "event_type": _strs(_pick(rng, EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": _strs([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def build_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(GEN_SEED)
    n_cust, n_supp, n_part, n_ord, n_li = 15_000, 1_000, 20_000, 150_000, 600_000
    cols = {
        "region": {"r_regionkey": _i32(range(5)), "r_name": _strs(REGIONS)},
        "nation": {
            "n_nationkey": _i32(range(25)),
            "n_name": _strs([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": _i32([i % 5 for i in range(25)]),
        },
        "customer": {
            "c_custkey": _i64(np.arange(n_cust)),
            "c_name": _strs([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": _i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _strs(_pick(rng, SEGMENTS, n_cust)),
        },
        "supplier": {
            "s_suppkey": _i64(np.arange(n_supp)),
            "s_name": _strs([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": _i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        },
        "part": {
            "p_partkey": _i64(np.arange(n_part)),
            "p_name": _strs(
                [f"{a} {b}" for a, b in zip(
                    _pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part)
                )]
            ),
            "p_brand": _strs([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _strs(_pick(rng, PART_TYPES, n_part)),
            "p_size": _i32(rng.integers(1, 51, n_part)),
            "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
        },
        "orders": {
            "o_orderkey": _i64(np.arange(n_ord)),
            "o_custkey": _i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _strs(_pick(rng, ("F", "O", "P"), n_ord)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord)),
            "o_orderpriority": _strs(_pick(rng, PRIORITIES, n_ord)),
        },
        "lineitem": {
            "l_orderkey": _i64(rng.integers(0, n_ord, n_li)),
            "l_partkey": _i64(rng.integers(0, n_part, n_li)),
            "l_suppkey": _i64(rng.integers(0, n_supp, n_li)),
            "l_linenumber": _i32(rng.integers(1, 8, n_li)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _strs(_pick(rng, ("A", "N", "R"), n_li)),
            "l_linestatus": _strs(_pick(rng, ("F", "O"), n_li)),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_li)),
        },
        "events": _events(rng),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }
    return {name: pa.table(c) for name, c in cols.items()}


def slice_dir(data_dir: Path, k: int) -> Path:
    return data_dir / "stream" / f"slice{k}"


def write_dataset(data_dir: Path) -> None:
    """Write every table plus the stream slices under ``data_dir``
    (through a temporary sibling, so a killed build leaves no
    half-written cache)."""
    tmp = data_dir.with_name(data_dir.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "sf").mkdir(parents=True)
    tables = build_tables()
    for name, t in tables.items():
        pq.write_table(t, tmp / "sf" / f"{name}.parquet")
    ev = tables["events"]
    n = ev.num_rows
    for k in range(STREAM_SLICES):
        lo, hi = k * n // STREAM_SLICES, (k + 1) * n // STREAM_SLICES
        d = slice_dir(tmp, k) / "events.parquet"
        d.mkdir(parents=True)
        pq.write_table(ev.slice(lo, hi - lo), d / "part-00000.parquet")
    shutil.rmtree(data_dir, ignore_errors=True)
    os.replace(tmp, data_dir)


def stage_chunks(src: Path, topic: Path, n_chunks: int, rng) -> list[int]:
    """Split one slice's events (already time-ordered) into ``n_chunks``
    parquet files under ``topic`` with seed-jittered boundaries and
    strictly increasing modification times, so a file stream with
    maxFilesPerTrigger=1 replays them in event-time order. Returns the
    row count of each chunk."""
    ev = pq.read_table(src / "events.parquet")
    n = ev.num_rows
    even = np.linspace(0, n, n_chunks + 1)
    jitter = rng.uniform(-0.3, 0.3, n_chunks - 1) * (n / n_chunks)
    cuts = [0, *np.sort((even[1:-1] + jitter).astype(int)), n]
    topic.mkdir(parents=True)
    sizes = []
    for i in range(n_chunks):
        f = topic / f"chunk-{i:05d}.parquet"
        pq.write_table(ev.slice(cuts[i], cuts[i + 1] - cuts[i]), f)
        os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))
        sizes.append(cuts[i + 1] - cuts[i])
    return sizes


if __name__ == "__main__":
    import sys

    write_dataset(Path(sys.argv[1]))
