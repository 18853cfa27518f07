"""Seeded generators for every input the benchmark feeds the engine.

``write_corpus`` writes the ten-table TPC-H-shaped corpus that
``stellarsql_spark.catalog`` reads (same table names, column names,
arrow types and value domains as the corpus the registry's oracles
were written against). ``write_stream_files`` writes the event files
replayed by the stream_ingest workload. Both are pure functions of
their seed and size, built with NumPy and written with pyarrow, so
the engine only ever sees files and the same seed gives the same
bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_VERSION = "pb1"

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def table_sizes(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (TPC-H ratios; the
    text and vector tables have a 500-row floor so tiny corpora still
    carry duplicate and near-neighbour structure)."""
    return {
        "region": 5,
        "nation": 25,
        "supplier": max(10, int(10_000 * sf)),
        "customer": max(150, int(150_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Exact two-decimal values stored as doubles (the engine's exact
    money convention relies on ``round(x, 2) == x``)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _strings(values: tuple[str, ...], idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 0x5EED])
    n = table_sizes(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": _strings(SEGMENTS, rng.integers(0, 5, nc)),
        }
    )
    npart = n["part"]
    names = tuple(f"{a} {b}" for a in ADJECTIVES for b in NOUNS)
    brands = tuple(f"Brand#{i}" for i in range(1, 26))
    keys = np.arange(npart, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": _strings(names, rng.integers(0, len(names), npart)),
            "p_brand": _strings(brands, rng.integers(0, 25, npart)),
            "p_type": _strings(PART_TYPES, rng.integers(0, 6, npart)),
            "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
            "p_retailprice": pa.array((9000 + keys % 1000) / 10.0),
        }
    )
    no = n["orders"]
    order_days = 2404  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
            "o_orderstatus": _strings(("F", "O", "P"), rng.integers(0, 3, no)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, order_days + 1, no) * _DAY_US),
            "o_orderpriority": _strings(PRIORITIES, rng.integers(0, 5, no)),
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": _strings(("A", "N", "R"), rng.integers(0, 3, nl)),
            "l_linestatus": _strings(("F", "O"), rng.integers(0, 2, nl)),
            "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2499, nl)) * _DAY_US),
        }
    )
    ne = n["events"]
    out["events"] = events_table(
        rng, first_id=0, n=ne, start_us=_EPOCH_2024, span_us=30 * _DAY_US,
        users=max(15, int(15_000 * sf)), zipf=None,
    )
    out["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, nv).astype(np.int32)),
        }
    )
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-soup documents: ~5% near-duplicates (an earlier document
    plus the token ``dup``) and ~0.2% exact copies, so dedup and
    similarity operators have real work."""
    texts: list[str] = []
    lengths = rng.integers(10, 100, n)
    draws = rng.random(n)
    words = np.array(WORDS)
    for i in range(n):
        if i > 10 and draws[i] < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and draws[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), lengths[i])]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _strings(LANGS, rng.integers(0, len(LANGS), n)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def events_table(
    rng: np.random.Generator,
    first_id: int,
    n: int,
    start_us: int,
    span_us: int,
    users: int,
    zipf: float | None,
    late_share: float = 0.0,
    max_late_us: int = 0,
) -> pa.Table:
    """``n`` events with ascending ids and event times spread over
    ``[start_us, start_us + span_us)``. ``zipf`` skews ``user_id``
    (exponent > 1, folded into ``users`` ids); ``late_share`` of the
    rows get their time pulled back by up to ``max_late_us``."""
    ts = start_us + np.sort(rng.integers(0, span_us, n))
    if late_share:
        late = rng.random(n) < late_share
        ts = np.where(late, ts - rng.integers(1, max_late_us, n), ts)
    if zipf is None:
        user = rng.integers(0, users, n)
    else:
        user = (rng.zipf(zipf, n) - 1) % users
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": _ts(ts),
            "user_id": pa.array(user.astype(np.int64)),
            "event_type": _strings(EVENT_TYPES, rng.integers(0, 5, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def write_corpus(out_dir: str, sf: float, seed: int) -> str:
    """Write (or reuse) the corpus for ``(sf, seed)`` under ``out_dir``.

    A ``_CORPUS_DONE`` marker holding the generator version, size and
    seed makes the write idempotent; files are written to a temporary
    directory and renamed into place, so a killed run never leaves a
    half-written corpus behind a valid marker."""
    tag = f"{CORPUS_VERSION}|sf={sf}|seed={seed}"
    marker = os.path.join(out_dir, "_CORPUS_DONE")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == tag:
                return out_dir
    import shutil

    tmp = out_dir.rstrip("/") + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "_CORPUS_DONE"), "w") as f:
        f.write(tag)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir


def write_stream_files(
    out_dir: str,
    seed: int,
    n_files: int,
    rows_per_file: int,
    users: int = 50_000,
    zipf: float = 1.3,
    late_share: float = 0.05,
    max_late_us: int = 20 * 60_000_000,
    file_span_us: int = 3_600_000_000,
) -> str:
    """Write ``n_files`` event files for the streaming replay.

    File ``i`` covers event time ``[i, i + 1)`` × ``file_span_us`` from
    2024-01-01, with zipf-skewed ``user_id`` and ``late_share`` of its
    rows up to ``max_late_us`` late. Callers keep ``max_late_us`` below
    the stream's watermark delay, so no row is dropped as late and the
    sink's closed windows equal a batch aggregate over all files."""
    import shutil

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    rng = np.random.default_rng([seed, 0x57EA])
    for i in range(n_files):
        t = events_table(
            rng, first_id=i * rows_per_file, n=rows_per_file,
            start_us=_EPOCH_2024 + i * file_span_us, span_us=file_span_us,
            users=users, zipf=zipf, late_share=late_share, max_late_us=max_late_us,
        )
        pq.write_table(t, os.path.join(out_dir, f"part-{i:05d}.parquet"))
    return out_dir
